package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{FuzzyDecontamStream, Replay}
import graft.llm.TextDedup

/** Stream-static fuzzy contamination detection vs the batch cross-corpus
  * operator: at cap-unbound geometry the streamed contamination log must
  * equal `crossMinhashPairs` exactly, independent of micro-batch
  * boundaries (the stream side is stateless projections + the static
  * join; only the pair-level dropDuplicates carries state).
  */
class FuzzyDecontamStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private lazy val docs =
    Tables.documents(spark, "/root/testdata/sf0.001").cache()
  private lazy val train = docs.filter(col("doc_id") % 10 =!= 0)
  private lazy val eval = docs.filter(col("doc_id") % 10 === 0)

  test("contaminationLog equals batch crossMinhashPairs; chunking-invariant") {
    def run(chunk: Int) =
      Replay.replay(spark, train, "doc_id", chunk, "append")(sdf =>
        FuzzyDecontamStream.contaminationLog(sdf, eval, "doc_id", "text",
          bands = 8, rowsPerBand = 4, threshold = 0.5))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val streamed = run(50)
    assert(streamed === run(173), "micro-batch boundaries changed the log")
    val batch = TextDedup.crossMinhashPairs(train, eval, "text", "doc_id",
        bands = 8, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty, "fixture drift: no cross-split contamination")
    assert(streamed === batch)
    // side discipline survives the stream path
    streamed.foreach { case (a, b) =>
      assert(a % 10 != 0 && b % 10 == 0, s"pair ($a, $b) crossed sides")
    }
    // a wall-clock-paced feed with a 1 s retention: the log still equals
    // batch, and the pair-dedup state holds the last micro-batches' pairs,
    // not the lifetime log. A row of batch i is evicted once the arrival
    // times of batches i and j-1 differ by more than twice the retention,
    // so 1.5 s between batches evicts batch i by batch i + 3.
    val src = train.select("doc_id", "text").orderBy("doc_id").collect().toSeq
    val ms = MemoryStream[Row](Encoders.row(src.head.schema), spark.sqlContext)
    val q = FuzzyDecontamStream.contaminationLog(ms.toDF(), eval, "doc_id", "text",
        bands = 8, rowsPerBand = 4, threshold = 0.5, dedupRetention = "1 second")
      .writeStream.format("memory").queryName("fuzzy_paced").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt_fuzzy_paced").toString)
      .start()
    // per batch: (pairs emitted so far, pair-dedup state rows)
    val perBatch = try src.grouped(src.size / 6 + 1).toList.map { chunk =>
      Thread.sleep(1500)
      ms.addData(chunk)
      q.processAllAvailable()
      (spark.table("fuzzy_paced").count(), q.recentProgress.filter(_.numInputRows > 0).last
        .stateOperators.map(_.numRowsTotal).sum)
    } finally q.stop()
    val paced = spark.table("fuzzy_paced").select("id_a", "id_b").as[(Long, Long)].collect()
    assert(paced.toSet === batch && paced.length === batch.size, "paced feed diverged")
    val evictable = perBatch(perBatch.size - 4)._1
    assert(evictable > 0, "fixture drift: no pairs before the last three batches")
    val stateRows = perBatch.last._2
    assert(stateRows <= batch.size - evictable,
      s"state holds $stateRows pair rows; ${batch.size} emitted, $evictable evictable")
  }

  test("eval-side bucket cap drops over-cap buckets from the static index") {
    // cap = 0 is rejected by neither op (cap bounds are per bucket count);
    // cap = 1 keeps only singleton eval buckets — with 8 bands of 4 rows
    // over near-identical clone groups, shared buckets exceed 1 and the
    // log shrinks or empties, never errors
    val capped =
      Replay.replay(spark, train, "doc_id", 200, "append")(sdf =>
        FuzzyDecontamStream.contaminationLog(sdf, eval, "doc_id", "text",
          bands = 8, rowsPerBand = 4, threshold = 0.5, maxBucket = 1))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped =
      Replay.replay(spark, train, "doc_id", 200, "append")(sdf =>
        FuzzyDecontamStream.contaminationLog(sdf, eval, "doc_id", "text",
          bands = 8, rowsPerBand = 4, threshold = 0.5))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(uncapped))
  }
}
