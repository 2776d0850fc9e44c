package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The key-skew profiling tier: exact two-phase Misra-Gries heavy
  * hitters (llm.SkewOps) and the streaming hot-key alert twin
  * (streaming.HotKeyStream).
  */
class SkewOpsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def naive(df: org.apache.spark.sql.DataFrame, keyCol: String,
                    k: Int, weightCol: Option[String]): Set[(String, Long, Long)] = {
    val w = weightCol.map(c => coalesce(col(c).cast("long"), lit(0L)))
      .getOrElse(lit(1L))
    val t = df.select(col(keyCol).cast("string").as("k"), w.as("w"))
    val total = t.agg(coalesce(sum("w"), lit(0L))).head().getLong(0)
    t.groupBy("k").agg(sum("w").as("w"))
      .filter(col("w") * (k + 1L) > total)
      .collect().map(r => (r.getString(0), r.getLong(1), total)).toSet
  }

  private def got(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("heavyHitters equals the exact groupBy answer across k") {
    for (k <- Seq(1, 2, 4, 6, 40)) {
      val exp = naive(docs, "lang", k, None)
      assert(got(llm.SkewOps.heavyHitters(docs, "lang", k)) === exp,
        s"k=$k mismatch")
    }
  }

  test("heavyHitters is partitioning-independent (the exactness contract)") {
    val exp = naive(docs, "lang", 4, None)
    for (parted <- Seq(docs.repartition(1), docs.repartition(13),
        docs.repartition(32, col("doc_id")), docs.orderBy(col("lang")))) {
      assert(got(llm.SkewOps.heavyHitters(parted, "lang", 4)) === exp)
    }
  }

  test("weighted heavy hitters (n_chars) equals the exact weighted answer") {
    for (k <- Seq(3, 19)) {
      val exp = naive(docs, "source", k, Some("n_chars"))
      assert(got(llm.SkewOps.heavyHitters(docs, "source", k,
        Some("n_chars"))) === exp, s"k=$k mismatch")
    }
  }

  test("k=1 finds a strict majority element and only that") {
    val maj = Seq.fill(7)("a") ++ Seq("b", "c", "d")
    val df = maj.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    val r = got(llm.SkewOps.heavyHitters(df.repartition(5), "s", 1))
    assert(r === Set(("a", 7L, 10L)))
    // no strict majority -> empty (5*2 > 10 is false)
    val half = Seq.fill(5)("a") ++ Seq.fill(5)("b")
    val df2 = half.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    assert(llm.SkewOps.heavyHitters(df2, "s", 1).count() === 0L)
  }

  test("null keys are a group; null weights count zero; empty input is empty") {
    val df = Seq((1L, Some("a"), Some(5L)), (2L, None, Some(9L)),
      (3L, None, Some(8L)), (4L, Some("b"), None), (5L, Some("a"), Some(1L)))
      .toDF("id", "s", "w")
    val r = llm.SkewOps.heavyHitters(df.repartition(3), "s", 2, Some("w"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    // W = 23; threshold w*3 > 23 -> w >= 8: null(17) yes, a(6) no, b(0) no
    assert(r === Set((None, 17L, 23L)))
    assert(llm.SkewOps.heavyHitters(df.filter(lit(false)), "s", 3).count() === 0L)
  }

  test("negative weights are rejected loudly") {
    val df = Seq((1L, "a", 5L), (2L, "b", -1L)).toDF("id", "s", "w")
    val e = intercept[org.apache.spark.SparkException] {
      llm.SkewOps.heavyHitters(df, "s", 2, Some("w"))
    }
    assert(e.getMessage.contains("negative weight") ||
      Option(e.getCause).exists(_.getMessage.contains("negative weight")))
  }

  test("candidates are a superset of the exact heavy set under every partitioning") {
    for (parted <- Seq(docs.repartition(1), docs.repartition(17),
        docs.repartition(32, col("n_chars")))) {
      for ((keyCol, k, wc) <- Seq(("lang", 3, None), ("source", 19, Some("n_chars")))) {
        val exact = naive(docs, keyCol, k, wc).map(_._1)
        val cands = llm.SkewOps.heavyHitterCandidates(parted, keyCol, k, wc)
          .collect().map(_.getString(0)).toSet
        assert(exact.subsetOf(cands),
          s"$keyCol k=$k: exact $exact not in candidates $cands")
        // and the candidate relation honors its own size bound: at most
        // k keys per input partition can survive a partition's summary
        assert(cands.size <= k * parted.rdd.getNumPartitions)
      }
    }
  }

  // ---- streaming hot-key alerts ----

  private def batchAlerts(df: org.apache.spark.sql.DataFrame, keyCol: String,
                          orderCol: String, thr: Long,
                          weightCol: Option[String]): Set[(String, Long, Long)] = {
    val w = weightCol.map(c => coalesce(col(c).cast("long"), lit(0L)))
      .getOrElse(lit(1L))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("o"))
    df.select(col(keyCol).cast("string").as("k"),
        col(orderCol).cast("long").as("o"), w.as("w"))
      .withColumn("rs", sum("w").over(win))
      .withColumn("prev", col("rs") - col("w"))
      .filter(col("prev") < thr && col("rs") >= thr)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("o"),
        r.getAs[Long]("rs"))).toSet
  }

  private def replayAlerts(thr: Long, chunk: Int, weightCol: Option[String],
                           restart: Boolean): Set[(String, Long, Long)] = {
    streaming.UniqueStreams.withRocksDBStateStore(spark) {
      val out =
        if (restart)
          streaming.Replay.replayWithRestart(spark, docs, "doc_id", chunk)(sdf =>
            streaming.HotKeyStream.hotKeyAlerts(sdf, "lang", "doc_id", thr, weightCol))
        else
          streaming.Replay.replay(spark, docs, "doc_id", chunk, "append")(sdf =>
            streaming.HotKeyStream.hotKeyAlerts(sdf, "lang", "doc_id", thr, weightCol))
      out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
  }

  test("hot-key alerts equal the batch running-sum crossings; chunking-invariant") {
    val exp = batchAlerts(docs, "lang", "doc_id", 40L, None)
    assert(exp.nonEmpty)
    assert(replayAlerts(40L, 500, None, restart = false) === exp)
    assert(replayAlerts(40L, 7, None, restart = false) === exp)
    // the declarative batch twin emits the same crossings (both ways:
    // unweighted and weighted)
    assert(llm.SkewOps.hotKeyCrossings(docs, "lang", "doc_id", 40L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet === exp)
    val expW = batchAlerts(docs, "lang", "doc_id", 5000L, Some("n_chars"))
    assert(llm.SkewOps.hotKeyCrossings(docs, "lang", "doc_id", 5000L,
      Some("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet === expW)
  }

  test("weighted alerts (n_chars) match, and restart restores the running state") {
    val exp = batchAlerts(docs, "lang", "doc_id", 5000L, Some("n_chars"))
    assert(exp.nonEmpty)
    assert(replayAlerts(5000L, 50, Some("n_chars"), restart = false) === exp)
    assert(replayAlerts(5000L, 50, Some("n_chars"), restart = true) === exp)
  }

  test("a key that never reaches the threshold never alerts; one alert per key") {
    val r = replayAlerts(100000L, 200, None, restart = false)
    assert(r.isEmpty)
    val alerts = replayAlerts(10L, 31, None, restart = false)
    assert(alerts.map(_._1).size === alerts.size) // distinct keys
  }

  test("zero-weight arrivals at the boundary do not fire or re-fire") {
    val rows = Seq((1L, "a", 5L), (2L, "a", 0L), (3L, "a", 5L), (4L, "a", 0L),
      (5L, "b", 10L), (6L, "b", 0L)).toDF("o", "s", "w")
    val exp = batchAlerts(rows, "s", "o", 10L, Some("w"))
    assert(exp === Set(("a", 3L, 10L), ("b", 5L, 10L)))
    streaming.UniqueStreams.withRocksDBStateStore(spark) {
      val got = streaming.Replay.replay(spark, rows, "o", 2, "append")(sdf =>
          streaming.HotKeyStream.hotKeyAlerts(sdf, "s", "o", 10L, Some("w")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === exp)
    }
  }
}
