package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.{NearDupStream, Replay, UniqueStreams}

case class Vec(vec_id: Long, embedding: Array[Float])

/** Streaming incremental EMBEDDING near-dup dedup vs the batch banded
  * hyperplane LSH + exact-cosine pipeline: the operator's final survivor
  * set must equal `dedupByPairs(embeddingNearDupPairs)` with the same
  * parameters, including the transitive-chain and retroactive-merge
  * cases — the vector twin of NearDupStreamSpec.
  *
  * Parameters: groups=8, planesPerGroup=1, dim=4, threshold=0.9 — one
  * sign bit per band makes a pair at angle θ a candidate with
  * probability 1-(θ/π)^8 ≈ 1 for the ~20° fixture pairs (deterministic
  * for the fixed seed; pinned against the batch pair relation below).
  */
class EmbNearDupStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val GROUPS = 8
  private val PPG = 1
  private val DIM = 4
  private val THR = 0.9

  // unit vectors in the xy-plane at a given angle (degrees): cosine of two
  // fixture vectors is exactly cos(angleA - angleB), so ~20° apart ⇒
  // cosine ~0.94 (a near-dup at 0.9), ~40° apart ⇒ ~0.766 (not a dup)
  private def at(deg: Double): Array[Float] = {
    val r = math.toRadians(deg)
    Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
  }

  private def runStream(vecs: Seq[Vec]): org.apache.spark.sql.DataFrame =
    withRocks {
      // chunkSize=1: one vector per micro-batch — exercises cross-batch state
      Replay.replay(spark, vecs.toDF(), "vec_id", 1, "update")(sdf =>
        NearDupStream.embNearDupStream(sdf, "vec_id", "embedding",
          threshold = THR, groups = GROUPS, planesPerGroup = PPG, dim = DIM))
        .cache()
    }

  private def batchPairs(vecs: Seq[Vec]) =
    llm.Similarity.embeddingNearDupPairs(vecs.toDF(), "vec_id", "embedding",
      threshold = THR, groups = GROUPS, planesPerGroup = PPG, dim = DIM)

  private def batchSurvivors(vecs: Seq[Vec]): Set[Long] =
    llm.TextDedup.dedupByPairs(vecs.toDF(), "vec_id", batchPairs(vecs))
      .select("vec_id").as[Long].collect().toSet

  private def survivors(log: org.apache.spark.sql.DataFrame): Set[Long] =
    log.groupBy(col("vec_id"))
      .agg(max_by(col("change"), col("upd_seq")).as("change"))
      .filter(col("change") === "keep")
      .select("vec_id").as[Long].collect().toSet

  private def withRocks[A](body: => A): A =
    UniqueStreams.withRocksDBStateStore(spark)(body)

  test("transitive chain: 1~2, 2~3, 1 not~ 3 — 3 still drops to 1's component") {
    val vecs = Seq(Vec(1, at(0)), Vec(2, at(20)), Vec(3, at(40)))
    val bp = batchPairs(vecs).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bp === Set((1L, 2L), (2L, 3L)), s"fixture drift: batch pairs $bp")
    val log = runStream(vecs)
    assert(survivors(log) === Set(1L))
    val rows = log.select("vec_id", "change", "canonical").as[(Long, String, Long)]
      .collect().toSet
    assert(rows.contains((2L, "drop", 1L)))
    assert(rows.contains((3L, "drop", 1L))) // via 2's component, never paired with 1
  }

  test("retroactive merge: later vector links two kept vectors — earlier root demoted") {
    // 1 at 0° and 2 at 40° are unrelated until 3 at 20° links both
    val vecs = Seq(Vec(1, at(0)), Vec(2, at(40)), Vec(3, at(20)))
    val bp = batchPairs(vecs).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bp === Set((1L, 3L), (2L, 3L)), s"fixture drift: batch pairs $bp")
    val log = runStream(vecs)
    assert(survivors(log) === Set(1L))
    val ordered = log.orderBy("upd_seq")
      .select("vec_id", "change", "canonical").as[(Long, String, Long)].collect().toSeq
    assert(ordered.indexOf((2L, "keep", 2L)) >= 0)
    assert(ordered.indexOf((2L, "drop", 1L)) > ordered.indexOf((2L, "keep", 2L)))
    assert(ordered.last === ((3L, "drop", 1L)))
  }

  test("streamed survivors equal batch dedupByPairs; order-insensitive; null vec kept") {
    val vecs = Seq(
      Vec(1, at(0)), Vec(2, at(20)), Vec(3, at(40)),          // chain
      Vec(4, Array(0f, 0f, 1f, 0f)),                          // isolated
      Vec(5, Array(0f, 0f, 0.97f, 0.243f)),                   // dup of 4
      Vec(6, null))                                           // null vec → vector-less keep
    val expected = batchSurvivors(vecs.filter(_.embedding != null)) + 6L
    val log = runStream(vecs)
    assert(survivors(log) === expected)
    // arrival-order insensitivity: pairs are discovered at the second
    // member's arrival whichever that is; min-rooted unions make the
    // final forest order-free
    for (perm <- Seq(vecs.reverse, Seq(vecs(3), vecs(0), vecs(5), vecs(2), vecs(1), vecs(4)))) {
      val reordered = perm.zipWithIndex.map { case (v, i) => (i.toLong, v.vec_id, v.embedding) }
      val log2 = withRocks {
        Replay.replay(spark, reordered.toDF("feed_seq", "vec_id", "embedding"),
          "feed_seq", 1, "update")(sdf =>
          NearDupStream.embNearDupStream(sdf, "vec_id", "embedding",
            threshold = THR, groups = GROUPS, planesPerGroup = PPG, dim = DIM))
      }
      assert(survivors(log2) === expected, s"order ${perm.map(_.vec_id)} diverged")
    }
  }

  test("mid-stream kill + checkpoint restart preserves the survivor set") {
    // one vector per micro-batch, query killed at the halfway chunk and
    // restarted from its checkpoint: RocksDB restore of the band index
    // (with inlined single-component summaries), the kryo'd float-vector
    // payload store, and the union-find forest must all round-trip
    val vecs = Seq(
      Vec(1, at(0)), Vec(2, at(20)), Vec(3, at(40)),
      Vec(4, Array(0f, 0f, 1f, 0f)), Vec(5, Array(0f, 0f, 0.97f, 0.243f)),
      Vec(6, at(60)))
    val expected = batchSurvivors(vecs)
    val log = withRocks {
      Replay.replayWithRestart(spark, vecs.toDF(), "vec_id", 1)(sdf =>
        NearDupStream.embNearDupStream(sdf, "vec_id", "embedding",
          threshold = THR, groups = GROUPS, planesPerGroup = PPG, dim = DIM))
        .cache()
    }
    assert(survivors(log) === expected)
  }

  test("wrong-width embedding fails the query loudly (requireDim parity with batch)") {
    val vecs = Seq(Vec(1, at(0)), Vec(2, Array(1f, 0f, 0f))) // 3-wide in a dim=4 stream
    val e = intercept[Exception] { runStream(vecs).count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("embedding dimension mismatch")),
      s"unexpected failure: ${messages(e).mkString(" | ")}")
  }
}
