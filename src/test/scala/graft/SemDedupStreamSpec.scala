package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Replay, SemDedupStream, UniqueStreams}

/** Streaming SemDeDup vs the batch operator: the change log's final
  * verdicts (max_by upd_seq) must reduce to EXACTLY the batch
  * `Similarity.semDedup` survivor set on the same corpus — uncapped,
  * capped (saturation), across chunk sizes, and across a kill/restart.
  */
class SemDedupStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def withRocks[T](body: => T): T =
    UniqueStreams.withRocksDBStateStore(spark)(body)

  private def survivors(log: org.apache.spark.sql.DataFrame): Set[Long] =
    log.groupBy(col("vec_id"))
      .agg(max_by(col("change"), col("upd_seq")).as("change"))
      .filter(col("change") === "keep")
      .select("vec_id").as[Long].collect().toSet

  test("streamed survivors equal batch semDedup; chunking-invariant; " +
      "restart-safe") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = llm.Similarity.semDedupCentroids(emb, "vec_id", "embedding",
      dim = 64, nCells = 16, lloydIters = 1)
    assert(cents.size == 16)
    val batch = llm.Similarity.semDedup(emb, "vec_id", "embedding",
      dim = 64, eps = 0.3, nCells = 16, lloydIters = 1)
      .as[Long].collect().toSet
    assert(batch.nonEmpty && batch.size < emb.count(),
      "fixture should drop at least one semantic duplicate")
    withRocks {
      def run(chunk: Int) = survivors(
        Replay.replay(spark, emb, "vec_id", chunk, "update")(sdf =>
          SemDedupStream.semDedupStream(sdf, "vec_id", "embedding",
            dim = 64, eps = 0.3, centroids = cents)))
      val s1 = run(1)
      assert(s1 === batch, "streamed survivors diverged from batch semDedup")
      assert(run(17) === batch, "chunk boundaries changed the survivor set")
      val sr = survivors(
        Replay.replayWithRestart(spark, emb, "vec_id", 17)(sdf =>
          SemDedupStream.semDedupStream(sdf, "vec_id", "embedding",
            dim = 64, eps = 0.3, centroids = cents)))
      assert(sr === batch, "kill/restart changed the survivor set")
    }
  }

  test("hot-cell cap: saturation emits telemetry, re-promotes dropped " +
      "members, and matches the capped batch operator") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // GraftSqlSpec's cap-binding geometry: nCells=2 halves the corpus,
    // cap n/2 - 1 guarantees at least the larger cell saturates
    val cap = (emb.count() / 2 - 1).toInt
    val cents = llm.Similarity.semDedupCentroids(emb, "vec_id", "embedding",
      dim = 64, nCells = 2, lloydIters = 1)
    val batchCapped = llm.Similarity.semDedup(emb, "vec_id", "embedding",
      dim = 64, eps = 0.3, nCells = 2, lloydIters = 1, maxCell = cap)
      .as[Long].collect().toSet
    val batchUncapped = llm.Similarity.semDedup(emb, "vec_id", "embedding",
      dim = 64, eps = 0.3, nCells = 2, lloydIters = 1)
      .as[Long].collect().toSet
    assert(batchCapped != batchUncapped,
      "fixture drift: the cap no longer bites at this geometry")
    withRocks {
      val log = Replay.replay(spark, emb, "vec_id", 13, "update")(sdf =>
        SemDedupStream.semDedupStream(sdf, "vec_id", "embedding",
          dim = 64, eps = 0.3, centroids = cents, maxCell = cap))
      assert(log.filter(col("change") === "saturated").count() >= 1,
        "saturation must not be silent")
      assert(survivors(log) === batchCapped,
        "saturated streamed survivors diverged from the capped batch operator")
      // the saturated cell frees its members, at least one state row each,
      // so the capped query ends more than `cap` rows below the uncapped
      // one; had it kept its first `cap` members, the gap would be only the
      // rows of the hot cell's |cell| - cap later arrivals
      def finalStateRows(maxCell: Int): Long = {
        val ms = MemoryStream[Row](Encoders.row(emb.schema), spark.sqlContext)
        val q = SemDedupStream.semDedupStream(ms.toDF(), "vec_id", "embedding",
            dim = 64, eps = 0.3, centroids = cents, maxCell = maxCell)
          .writeStream.format("memory").queryName(s"sd_state_$maxCell")
          .outputMode("update").start()
        try {
          emb.orderBy("vec_id").collect().grouped(13).foreach { chunk =>
            ms.addData(chunk.toSeq)
            q.processAllAvailable()
          }
          q.recentProgress.filter(_.numInputRows > 0).last
            .stateOperators.map(_.numRowsTotal).sum
        } finally q.stop()
      }
      val (capped, uncapped) = (finalStateRows(cap), finalStateRows(Int.MaxValue))
      assert(capped < uncapped - cap, s"capped state $capped rows, uncapped $uncapped")
    }
  }

  test("keep-least-centroid-similar: a late arrival with smaller csim " +
      "demotes the previous keeper (retraction row)") {
    // one cell (anchor centroid = v1): v2 at 40° keeps on arrival; v3 at
    // 45° is ε-close to v2 (cos 5° ≈ .996) but FARTHER from the centroid
    // (csim .707 < .766), so it takes the component over — v2 must be
    // retracted with a "drop" whose upd_seq postdates its "keep"
    def at(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
    }
    val vecs = Seq(Vec(1, at(0)), Vec(2, at(40)), Vec(3, at(45)))
    val cents = llm.Similarity.semDedupCentroids(vecs.toDF(), "vec_id",
      "embedding", dim = 4, nCells = 1, lloydIters = 0)
    withRocks {
      val log = Replay.replay(spark, vecs.toDF(), "vec_id", 1, "update")(sdf =>
          SemDedupStream.semDedupStream(sdf, "vec_id", "embedding",
            dim = 4, eps = 0.99, centroids = cents))
        .select("vec_id", "change", "upd_seq")
        .as[(Long, String, Long)].collect().sortBy(_._3)
      val v2 = log.filter(_._1 == 2L).map(_._2).toSeq
      assert(v2 == Seq("keep", "drop"),
        s"expected v2 keep-then-retraction, got $v2 (log=${log.mkString(",")})")
      assert(survivors(log.toSeq.toDF("vec_id", "change", "upd_seq")) ===
        Set(1L, 3L))
      val batch = llm.Similarity.semDedup(vecs.toDF(), "vec_id", "embedding",
        dim = 4, eps = 0.99, nCells = 1, lloydIters = 0)
        .as[Long].collect().toSet
      assert(batch === Set(1L, 3L), "batch fixture drifted")
    }
  }
}
