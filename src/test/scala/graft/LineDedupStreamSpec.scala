package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.streaming.{LineDedupStream, Replay, UniqueStreams}
import graft.llm.CorpusOps

/** Streaming incremental line dedup vs the batch dropped-line relation
  * (`CorpusOps.duplicateLines`): the insert-only (doc, pos) log after any
  * prefix must equal the batch relation over that prefix, with
  * retroactive emission for docs that hosted a boilerplate line before it
  * crossed the minDf threshold.
  */
class LineDedupStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def runStream(docs: Seq[Doc], minDf: Int = 3, chunkSize: Int = 1,
                        hashed: Boolean = false): Set[(Long, Long)] = {
    UniqueStreams.withRocksDBStateStore(spark) {
      Replay.replay(spark, docs.toDF(), "doc_id", chunkSize, "update")(sdf =>
        LineDedupStream.lineDedupStream(sdf, "doc_id", "text", minDf = minDf,
          hashedKeys = hashed))
        .select("doc_id", "pos").as[(Long, Long)].collect().toSet
    }
  }

  private def batchDropped(docs: Seq[Doc], minDf: Int = 3): Set[(Long, Long)] =
    CorpusOps.duplicateLines(docs.toDF(), "doc_id", "text", minDf = minDf)
      .as[(Long, Long)].collect().toSet

  test("retroactive drop: early hosts of a boilerplate line emit when the minDf-th arrives") {
    val docs = Seq(
      Doc(1, "shared footer\nbody one"),
      Doc(2, "body two\nshared footer"),
      Doc(3, "body three\nshared footer\ntail"))
    val streamed = runStream(docs)
    assert(streamed == batchDropped(docs))
    assert(streamed == Set((1L, 0L), (2L, 1L), (3L, 1L)))
    // prefix of two docs: nothing duplicated yet at minDf=3
    assert(batchDropped(docs.take(2)).isEmpty && runStream(docs.take(2)).isEmpty)
  }

  test("within-doc repeats count one distinct doc; both positions drop on promotion") {
    val docs = Seq(
      Doc(1, "dup\nmid\ndup"),
      Doc(2, "dup\nx"),
      Doc(3, "y\ndup"))
    val streamed = runStream(docs)
    assert(streamed == batchDropped(docs))
    assert(streamed.count(_._1 == 1L) == 2, "both positions in doc 1 must drop")
    // two docs only (one of them repeating the line) stays below minDf=3
    assert(runStream(docs.take(2)) == batchDropped(docs.take(2)))
    assert(runStream(docs.take(2)).isEmpty)
  }

  test("order-insensitive final set; chunked feeds; hashed keys; the log is insert-only") {
    val docs = Seq(
      Doc(1, "h\na1\nf"), Doc(2, "h\na2\nf"), Doc(3, "h\na3\nf"),
      Doc(4, "solo\na4\nf"), Doc(5, "h\na5\nother"))
    val expected = batchDropped(docs)
    assert(expected.nonEmpty)
    assert(runStream(docs) == expected)
    assert(runStream(docs.reverse) == expected)
    assert(runStream(docs, chunkSize = 2) == expected)
    assert(runStream(docs, hashed = true) == expected)
    // insert-only: no (doc, pos) appears twice in the raw log
    UniqueStreams.withRocksDBStateStore(spark) {
      val log = Replay.replay(spark, docs.toDF(), "doc_id", 1, "update")(sdf =>
        LineDedupStream.lineDedupStream(sdf, "doc_id", "text"))
        .select("doc_id", "pos").as[(Long, Long)].collect().toSeq
      assert(log.size == log.toSet.size, "change log must be insert-only")
    }
  }

  test("sharded single-stage path: line-keyed shards equal the monolith and batch") {
    val docs = Seq(
      Doc(1, "h\na1\nf"), Doc(2, "h\na2\nf"), Doc(3, "h\na3\nf"),
      Doc(4, "solo\na4\nf"), Doc(5, "h\na5\nother"),
      Doc(6, "rep\nrep\nrep"), Doc(7, "rep\nx"), Doc(8, "y\nrep"))
    val expected = batchDropped(docs)
    assert(expected.nonEmpty)
    def runSharded(ds: Seq[Doc], chunk: Int, hashed: Boolean = false): Set[(Long, Long)] = {
      UniqueStreams.withRocksDBStateStore(spark) {
        Replay.replay(spark, ds.toDF(), "doc_id", chunk, "append")(sdf =>
          LineDedupStream.shardedLineDedupStream(sdf, "doc_id", "text",
            hashedKeys = hashed))
          .select("doc_id", "pos").as[(Long, Long)].collect().toSet
      }
    }
    assert(runSharded(docs, 1) == expected)
    assert(runSharded(docs, 3) == expected)
    assert(runSharded(docs, 1, hashed = true) == expected)
    assert(runSharded(docs.reverse, 1) == expected)
    assert(runStream(docs) == expected) // monolith agrees
  }

  test("a line repeated thousands of times inside one doc stays O(1) per occurrence") {
    // pathological separator case from the round-9 advisory: one doc with
    // 4k copies of the same line never reaches minDf=3 distinct docs; the
    // header-prefixed occurrence array must keep the distinct-doc update
    // O(1) (the old form rescanned the whole list per occurrence —
    // ~8M comparisons here). Then two more hosts promote it and all 4k
    // stored positions emit retroactively.
    val sep = (0 until 4000).map(_ => "====").mkString("\n")
    val docs = Seq(Doc(1, sep), Doc(2, "====\nbody"), Doc(3, "other\n===="))
    val streamed = runStream(docs, chunkSize = 3)
    assert(streamed == batchDropped(docs))
    assert(streamed.count(_._1 == 1L) == 4000)
  }

  test("kill + restart preserves the occurrence index") {
    val docs = Seq(
      Doc(1, "h\na1"), Doc(2, "h\na2"), Doc(3, "h\na3"),
      Doc(4, "h\na4"), Doc(5, "b\na5"), Doc(6, "b\nh"))
    UniqueStreams.withRocksDBStateStore(spark) {
      val log = Replay.replayWithRestart(spark, docs.toDF(), "doc_id", 1)(sdf =>
        LineDedupStream.lineDedupStream(sdf, "doc_id", "text"))
        .select("doc_id", "pos").as[(Long, Long)].collect().toSet
      assert(log == batchDropped(docs))
    }
  }
}
