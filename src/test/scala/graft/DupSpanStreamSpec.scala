package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.streaming.{DupSpanStream, Replay, UniqueStreams}
import graft.llm.TextDedup

/** Streaming incremental duplicated-span detection vs the batch
  * `TextDedup.duplicateSpans`: after ANY feed prefix, the latest span
  * set per doc must equal the batch operator over that prefix —
  * including the retroactive case (an early doc's spans appear only when
  * a later doc re-uses its content) and within-doc repeats. Feed order
  * must not matter for the final state.
  */
class DupSpanStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val K = 3

  private def runStream(docs: Seq[Doc], chunkSize: Int = 1,
                        hashed: Boolean = false): DataFrame = {
    UniqueStreams.withRocksDBStateStore(spark) {
      Replay.replay(spark, docs.toDF(), "doc_id", chunkSize, "update")(sdf =>
        DupSpanStream.dupSpanStream(sdf, "doc_id", "text", k = K,
          hashedKeys = hashed)).cache()
    }
  }

  private def latest(log: DataFrame): Set[(Long, Long, Long, Long)] =
    DupSpanStream.latestSpans(log, "doc_id")
      .as[(Long, Long, Long, Long)].collect().toSet

  private def batchSpans(docs: Seq[Doc]): Set[(Long, Long, Long, Long)] =
    TextDedup.duplicateSpans(docs.toDF(), "doc_id", "text", k = K)
      .as[(Long, Long, Long, Long)].collect().toSet

  test("retroactivity: an early doc gains spans when a later doc reuses its content") {
    val docs = Seq(
      Doc(1, "a b c d e unique1 tail1"),
      Doc(2, "pre2 a b c d e post2"))
    val log = runStream(docs)
    // after doc 1 alone there must be NO spans for doc 1 (nothing
    // duplicated yet): every doc-1 emission must postdate doc 2's grams —
    // doc 1's span rows exist only because doc 2 arrived
    assert(latest(log) == batchSpans(docs))
    assert(latest(log).map(_._1) == Set(1L, 2L))
    // prefix check: batch over just doc 1 is empty
    assert(batchSpans(docs.take(1)).isEmpty)
  }

  test("per-prefix equivalence with the batch operator, one doc per micro-batch") {
    val docs = Seq(
      Doc(1, "x y z k1 a b c d"),
      Doc(2, "a b c d m2 x y z"),
      Doc(3, "k3 a b c d k3b x y"),
      Doc(4, "solo only unique words here"),
      Doc(5, "x y z a b c d"))
    (1 to docs.length).foreach { n =>
      val pfx = docs.take(n)
      assert(latest(runStream(pfx)) == batchSpans(pfx), s"prefix $n diverged")
    }
  }

  test("within-doc repetition duplicates without any second doc") {
    val docs = Seq(Doc(7, "a b c z1 z2 z3 a b c"))
    assert(latest(runStream(docs)) == batchSpans(docs))
    assert(latest(runStream(docs)).nonEmpty)
  }

  test("final state is arrival-order-insensitive (reversed and interleaved feeds)") {
    val docs = Seq(
      Doc(1, "a b c d e f one"),
      Doc(2, "two a b c d e f"),
      Doc(3, "g h i j three k l"),
      Doc(4, "four g h i j m k l"),
      Doc(5, "a b c g h i five"))
    val expected = batchSpans(docs)
    assert(latest(runStream(docs)) == expected)
    assert(latest(runStream(docs.reverse)) == expected)
    assert(latest(runStream(Seq(docs(2), docs(0), docs(4), docs(3), docs(1)))) == expected)
    // and with several docs per micro-batch
    assert(latest(runStream(docs, chunkSize = 2)) == expected)
  }

  test("hashedKeys production form matches the string-key form and batch") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("doc_id", "text").as[Doc].collect().toSeq
    val expected = TextDedup.duplicateSpans(docs.toDF(), "doc_id", "text", k = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    UniqueStreams.withRocksDBStateStore(spark) {
      def run(hashed: Boolean) =
        Replay.replay(spark, docs.toDF(), "doc_id", 10, "update")(sdf =>
          DupSpanStream.dupSpanStream(sdf, "doc_id", "text", k = 5,
            hashedKeys = hashed)).cache()
      val a = DupSpanStream.latestSpans(run(false), "doc_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      val b = DupSpanStream.latestSpans(run(true), "doc_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(a == expected, "string-key stream diverged from batch")
      assert(b == expected, "hashed-key stream diverged from batch")
      assert(expected.nonEmpty)
    }
  }

  private def withRocks[A](body: => A): A =
    UniqueStreams.withRocksDBStateStore(spark)(body)

  test("sharded two-stage path: gram-sharded hits + doc-keyed merge equal monolith and batch") {
    import org.apache.spark.sql.functions.monotonically_increasing_id
    val docs = Seq(
      Doc(1, "a b c d e f one"),
      Doc(2, "two a b c d e f"),
      Doc(3, "g h i j three k l"),
      Doc(4, "four g h i j m k l"),
      Doc(5, "a b c g h i five"),
      Doc(6, "a b c a b c within"))
    val expected = batchSpans(docs)
    assert(expected.nonEmpty)
    // stage A: per-gram promotion, append-mode hit log
    val hits = withRocks {
      Replay.replay(spark, docs.toDF(), "doc_id", 1, "append")(sdf =>
        DupSpanStream.shardedGramHits(sdf, "doc_id", "text", k = K)).cache()
    }
    // the hit set must equal the batch operator's duplicated windows
    val batchHits = {
      val toks = docs.toDF().select($"doc_id",
        TextDedup.tokenize($"text").as("toks"))
      val grams = toks.select($"doc_id",
        org.apache.spark.sql.functions.posexplode(
          TextDedup.shingles($"toks", K)).as(Seq("pos", "g")))
      val dup = grams.groupBy("g").count().filter($"count" >= 2).select("g")
      grams.join(dup, "g").select($"doc_id", $"pos".cast("long"))
        .as[(Long, Long)].collect().toSet
    }
    assert(hits.select("doc_id", "pos").as[(Long, Long)].collect().toSet == batchHits)
    // stage B: doc-keyed island merge over the bridged hit log
    val feed = hits.withColumn("ord", monotonically_increasing_id())
    val log = withRocks {
      Replay.replay(spark, feed, "ord", 3, "update")(sdf =>
        DupSpanStream.spanMergeStage(sdf.drop("ord"), "doc_id", k = K)).cache()
    }
    assert(latest(log) == expected, "sharded spans diverged from batch")
    // and from the monolith on the same corpus
    assert(latest(log) == latest(runStream(docs)))
  }

  test("sharded path, hashed production keys, real corpus slice: parity with batch") {
    import org.apache.spark.sql.functions.monotonically_increasing_id
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("doc_id", "text").as[Doc].collect().toSeq
    val expected = TextDedup.duplicateSpans(docs.toDF(), "doc_id", "text", k = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    val hits = withRocks {
      Replay.replay(spark, docs.toDF(), "doc_id", 25, "append")(sdf =>
        DupSpanStream.shardedGramHits(sdf, "doc_id", "text", k = 5,
          hashedKeys = true)).cache()
    }
    val feed = hits.withColumn("ord", monotonically_increasing_id())
    val log = withRocks {
      Replay.replay(spark, feed, "ord", 500, "update")(sdf =>
        DupSpanStream.spanMergeStage(sdf.drop("ord"), "doc_id", k = 5)).cache()
    }
    val got = DupSpanStream.latestSpans(log, "doc_id")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(expected.nonEmpty)
  }

  test("kill + restart from checkpoint preserves the incremental index") {
    val docs = Seq(
      Doc(1, "a b c d e one"),
      Doc(2, "two a b c d e"),
      Doc(3, "g h i j three"),
      Doc(4, "four g h i j"),
      Doc(5, "a b c g h i"),
      Doc(6, "six a b c d e g h i j"))
    UniqueStreams.withRocksDBStateStore(spark) {
      val log = Replay.replayWithRestart(spark, docs.toDF(), "doc_id", 1)(sdf =>
        DupSpanStream.dupSpanStream(sdf, "doc_id", "text", k = K)).cache()
      assert(latest(log) == batchSpans(docs))
    }
  }
}
