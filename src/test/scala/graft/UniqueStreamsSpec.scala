package graft

import java.sql.Timestamp
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.UniqueStreams

case class Login(ts: Timestamp, ip: String, seq: Int)

/** Login plus a flush-marker column (externalTimeBatchStream's
  * deterministic stand-in for the reference's TIMER events).
  */
case class LoginM(ts: Timestamp, ip: String, seq: Int, flush: Boolean)

/** Fixtures for the two-window streaming join (reference everTest4). */
case class Cse(symbol: String, price: Double, volume: Int, seq: Int)
case class Tweet(user: String, tweet: String, company: String, seq: Int)

/** Streaming-vs-batch equivalence on the reference fixtures, via
  * MemoryStream (no wall-clock sleeps: event-time + explicit watermark
  * advancement, mirroring DeduplicateStreamProcessor.java:155-178 and
  * UniqueEverWindowProcessor.java:143-169 semantics).
  */
class UniqueStreamsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def login(ms: Long, ip: String, seq: Int) = Login(new Timestamp(ms), ip, seq)

  /** Run a streaming DataFrame into a memory sink; returns (query, read-fn). */
  private def startQuery(df: DataFrame, name: String, mode: OutputMode): StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", Files.createTempDirectory(s"ckpt_$name").toString)
      .start()

  test("firstStream == batch first (streaming dropDuplicates keeps first arrival)") {
    val ms = MemoryStream[Login]
    val q = startQuery(UniqueStreams.firstStream(ms.toDF(), Seq("ip")), "first_s", OutputMode.Append())
    ms.addData(login(1, "192.10.1.3", 1), login(2, "192.10.1.3", 2), login(3, "192.10.1.4", 3))
    q.processAllAvailable()
    ms.addData(login(4, "192.10.1.3", 4), login(5, "192.10.1.5", 5))
    q.processAllAvailable()
    val got = spark.table("first_s").select("ip", "seq").as[(String, Int)].collect().toSet
    q.stop()
    assert(got === Set(("192.10.1.3", 1), ("192.10.1.4", 3), ("192.10.1.5", 5)))
  }

  test("deduplicateStream drops within-interval keys and readmits after the watermark") {
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.deduplicateStream(ms.toDF(), Seq("ip"), "ts", 1000L),
      "dedup_s", OutputMode.Append())
    // separate micro-batches: within one micro-batch the post-shuffle row
    // order per key is nondeterministic, so "first" is only well-defined
    // across batch boundaries (matches the reference's arrival order).
    // Base offset 100000: Spark's initial watermark is 0, and a ts-0 row
    // would be filtered as late before reaching the dedup state.
    val t0 = 100000L
    ms.addData(login(t0, "a", 1))
    q.processAllAvailable()
    ms.addData(login(t0 + 500, "a", 2)) // inside interval of kept a@t0 → dropped
    q.processAllAvailable()
    ms.addData(login(t0 + 3000, "b", 3)) // advances watermark to t0+2000 → a's state expires
    q.processAllAvailable()
    ms.addData(login(t0 + 2500, "a", 4)) // not late (>= watermark), a readmitted
    q.processAllAvailable()
    val got = spark.table("dedup_s").select("ip", "seq").as[(String, Int)].collect().toSet
    q.stop()
    assert(got === Set(("a", 1), ("b", 3), ("a", 4)))
  }

  test("everStream emits insert+expire tags matching batch ever") {
    val ms = MemoryStream[Login]
    val q = startQuery(UniqueStreams.everStream(ms.toDF(), Seq("ip")), "ever_s", OutputMode.Update())
    ms.addData(login(1, "192.10.1.3", 1), login(2, "192.10.1.3", 2), login(3, "192.10.1.4", 3))
    q.processAllAvailable()
    ms.addData(login(4, "192.10.1.3", 4), login(5, "192.10.1.5", 5))
    q.processAllAvailable()
    val out = spark.table("ever_s").select("change", "seq").as[(String, Int)].collect()
    q.stop()
    val inserts = out.filter(_._1 == "insert").map(_._2).toSet
    val expires = out.filter(_._1 == "expire").map(_._2).toSet
    assert(inserts === Set(1, 2, 3, 4, 5)) // every arrival inserted
    // batch oracle: ever.expired on the same rows = seqs 1 and 2
    val batch = operators.UniqueOps.ever(
      Seq((1, "192.10.1.3"), (2, "192.10.1.3"), (3, "192.10.1.4"),
        (4, "192.10.1.3"), (5, "192.10.1.5")).toDF("seq", "ip"), Seq("ip"), "seq")
    val batchExpired = batch.expired.select("seq").as[Int].collect().toSet
    assert(expires === batchExpired)
    assert(expires === Set(1, 2))
  }

  test("timeBatchStream emits closed windows equal to batch timeBatch") {
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.timeBatchStream(ms.toDF(), Seq("ip"), "seq", "ts", 1000L),
      "tb_s", OutputMode.Append())
    ms.addData(login(100, "a", 1), login(200, "a", 2), login(300, "b", 3))
    q.processAllAvailable()
    ms.addData(login(1100, "a", 4)) // watermark 300 → window [0,1000) still open
    q.processAllAvailable()
    ms.addData(login(2100, "c", 5)) // watermark 1100 → closes [0,1000)
    q.processAllAvailable()
    ms.addData(login(3100, "d", 6)) // watermark 2100 → closes [1000,2000)
    q.processAllAvailable()
    val got = spark.table("tb_s").select("ip", "seq", "batch_start_ms")
      .as[(String, Int, Long)].collect().toSet
    q.stop()
    // batch oracle on the same rows, restricted to the closed windows
    val batchDf = Seq((100L, "a", 1), (200L, "a", 2), (300L, "b", 3), (1100L, "a", 4),
      (2100L, "c", 5), (3100L, "d", 6))
      .toDF("ms", "ip", "seq").withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val oracle = operators.UniqueOps.timeBatch(batchDf, Seq("ip"), "seq", "ts", 1000L)
      .current.filter(col("batch_start_ms") < 3000) // last window still open in the stream
      .select("ip", "seq", "batch_start_ms").as[(String, Int, Long)].collect().toSet
    assert(got === oracle)
    assert(got === Set(("a", 2), ("b", 3), ("a", 4), ("c", 5)).map { case (i, s) =>
      (i, s, (s match { case 2 | 3 => 0L; case 4 => 1000L; case 5 => 2000L })) })
  }

  test("timeStream expires replaced keys immediately and aged-out keys on watermark") {
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.timeStream(ms.toDF(), Seq("ip"), "ts", 2000L),
      "time_s", OutputMode.Update())
    ms.addData(login(1000, "a", 1))
    q.processAllAvailable()
    ms.addData(login(1500, "a", 2)) // replaces a@1 → expire seq 1 immediately
    q.processAllAvailable()
    ms.addData(login(5000, "b", 3)) // watermark → 1500 after this batch
    q.processAllAvailable()
    ms.addData(login(6000, "c", 4)) // batch runs with watermark 5000 > 1500+2000 → a ages out
    q.processAllAvailable()
    val out = spark.table("time_s").select("change", "seq").as[(String, Int)].collect().toSeq
    q.stop()
    assert(out.count(_ == ("insert", 1)) === 1)
    assert(out.count(_ == ("expire", 1)) === 1) // replaced
    assert(out.count(_ == ("expire", 2)) === 1) // aged out via event-time timeout
    assert(out.count(_._1 == "insert") === 4)
  }

  test("lengthStream replaces dup keys and evicts the least-recent on overflow") {
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.lengthStream(ms.toDF().withColumn("seq", col("seq").cast("long")), Seq("ip"), "seq", 3),
      "len_s", OutputMode.Update())
    ms.addData(login(1, "a", 1), login(2, "b", 2), login(3, "c", 3))
    q.processAllAvailable()
    ms.addData(login(4, "a", 4), login(5, "d", 5))
    q.processAllAvailable()
    val out = spark.table("len_s").select("change", "seq").as[(String, Long)].collect()
    q.stop()
    assert(out.filter(_._1 == "insert").map(_._2).toSet === Set(1L, 2L, 3L, 4L, 5L))
    // a@1 replaced by a@4; b@2 evicted when d@5 overflows capacity —
    // matches batch length() on the same fixture (UniqueOpsSpec)
    assert(out.filter(_._1 == "expire").map(_._2).toSet === Set(1L, 2L))
  }

  test("lengthBatchStream: 6 alternating rows at n=2 → insert=6, expire=4") {
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.lengthBatchStream(ms.toDF().withColumn("seq", col("seq").cast("long")), Seq("ip"), "seq", 2),
      "lb_s", OutputMode.Update())
    ms.addData(login(1, "IBM", 1), login(2, "WSO2", 2), login(3, "IBM", 3))
    q.processAllAvailable()
    ms.addData(login(4, "WSO2", 4), login(5, "IBM", 5), login(6, "WSO2", 6))
    q.processAllAvailable()
    val out = spark.table("lb_s").select("change", "seq", "batch_id")
      .as[(String, Long, Long)].collect()
    q.stop()
    // UniqueLengthBatchWindowTestCase.java:156-157: in=6, expired=4
    assert(out.count(_._1 == "insert") === 6)
    assert(out.count(_._1 == "expire") === 4)
    assert(out.filter(_._1 == "insert").map(_._3).toSet === Set(0L, 1L, 2L))
  }

  test("timeLengthBatchStream: length flush latches, time boundary resets") {
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.timeLengthBatchStream(
        ms.toDF().withColumn("seq", col("seq").cast("long")), Seq("ip"), "seq", "ts", 1000L, 2),
      "tlb_s", OutputMode.Update())
    ms.addData(login(100, "a", 1), login(200, "b", 2), login(300, "c", 3), login(400, "a", 4))
    q.processAllAvailable()
    ms.addData(login(1100, "d", 5), login(1200, "e", 6))
    q.processAllAvailable()
    val log = spark.table("tlb_s").select("change", "seq", "batch_start_ms")
      .as[(String, Long, Long)].collect()
    q.stop()
    // batch oracle (UniqueOpsSpec timeLengthBatch fixture): {1, 2, 5, 6}
    assert(log.filter(_._1 == "insert").map(_._2).toSet === Set(1L, 2L, 5L, 6L))
    // the second flush re-emits the first flushed batch as expired, tagged
    // with ITS batch start (UniqueTimeLengthBatchWindowProcessor.java:304-336)
    assert(log.filter(_._1 == "expire").map(r => (r._2, r._3)).toSet ===
      Set((1L, 0L), (2L, 0L)))
  }

  test("timeLengthBatchStream keepFirst + unreachable n = firstTimeBatch change log") {
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.timeLengthBatchStream(
        ms.toDF().withColumn("seq", col("seq").cast("long")), Seq("ip"), "seq", "ts",
        1000L, Int.MaxValue, keepFirst = true),
      "ftb_cl_s", OutputMode.Update())
    ms.addData(login(100, "a", 1), login(200, "a", 2), login(1100, "b", 3))
    q.processAllAvailable()
    ms.addData(login(2100, "c", 4))
    q.processAllAvailable()
    val log = spark.table("ftb_cl_s").select("change", "seq", "batch_start_ms")
      .as[(String, Long, Long)].collect()
    q.stop()
    // keepFirst: a@1 wins over a@2; batch 0 closes when b@3 crosses, batch 1
    // closes when c@4 crosses AND re-expires batch 0; batch 2 stays open
    assert(log.filter(_._1 == "insert").map(r => (r._2, r._3)).toSet ===
      Set((1L, 0L), (3L, 1000L)))
    assert(log.filter(_._1 == "expire").map(r => (r._2, r._3)).toSet ===
      Set((1L, 0L)))
  }

  test("externalTimeBatchStream time.out flushes idle batches and append-merges later events") {
    // wall-clock processing-time timeout (the reference's scheduler path,
    // UniqueExternalTimeBatchWindowProcessor.java:279-298); generous
    // margins, mirroring the reference's own sleep-based test1
    val ms = MemoryStream[Login]
    val q = UniqueStreams.externalTimeBatchStream(
        ms.toDF().withColumn("seq", col("seq").cast("long")),
        Seq("ip"), "seq", "ts", 1000L, timeOutMs = 300L)
      .writeStream.format("memory").queryName("etb_s")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", Files.createTempDirectory("ckpt_etb").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def rowsOfKind(kind: String): Set[Long] =
      spark.table("etb_s").filter(col("flush_kind") === kind)
        .select("seq").as[Long].collect().toSet
    def awaitCond(cond: => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 15000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for $what")
    }
    // NOTE: processAllAvailable() cannot be used here — with
    // ProcessingTimeTimeout the engine constructs a batch on every trigger
    // (shouldRunAnotherBatch is always true), so `noNewData` is never set
    // and processAllAvailable blocks forever. Poll the sink instead.
    try {
      ms.addData(login(100, "a", 1), login(200, "b", 2))
      awaitCond(rowsOfKind("timeout") === Set(1L, 2L), "idle time.out flush of {a,b}")
      ms.addData(login(300, "c", 3)) // same event-time batch, after the idle flush
      awaitCond(rowsOfKind("append") === Set(1L, 2L, 3L),
        "append-merge of the already-sent rows with c")
    } finally q.stop()
  }

  test("marker-driven time.out reproduces reference test1's exact emission trace") {
    // UniqueExternalTimeBatchWindowTestCase.java:83-127: window 1 sec,
    // start.time 0, time.out 2 sec; the two Thread.sleep(2100) timer fires
    // and the final scheduler fire become flush markers at the same stream
    // positions — emission sizes must be 3 (close), 2 (timeout),
    // 3 (append), 4 (append), 2 (timeout), 14 rows total.
    val ms = MemoryStream[LoginM]
    val q = startQuery(
      UniqueStreams.externalTimeBatchStream(
        ms.toDF().withColumn("seq", col("seq").cast("long")),
        Seq("ip"), "seq", "ts", 1000L, timeOutMs = 0L, startMs = Some(0L),
        flushMarkerCol = Some("flush")),
      "etb_mk", OutputMode.Update())
    def e(msTs: Long, ip: String, seq: Int) = LoginM(new Timestamp(msTs), ip, seq, flush = false)
    def m(seq: Int) = LoginM(new Timestamp(0), "", seq, flush = true)
    val t = 1366335804000L
    ms.addData(
      e(t + 341, "3", 1), e(t + 599, "3", 2), e(t + 600, "5", 3), e(t + 607, "6", 4),
      e(t + 1599, "4", 5), e(t + 1600, "4", 6), e(t + 1607, "6", 7),
      m(8),
      e(t + 1606, "6", 9), e(t + 1605, "8", 10),
      m(11),
      e(t + 1606, "6", 12), e(t + 1605, "92", 13),
      e(t + 2606, "9", 14), e(t + 2690, "10", 15),
      m(16))
    q.processAllAvailable()
    val got = spark.table("etb_mk").select("flush_kind", "seq").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
    q.stop()
    // close of [804000,805000): {.3@2, .5@3, .6@4}
    assert(got("close") === List(2L, 3L, 4L))
    // marker@8: timeout {.4@6, .6@7}; marker@16: timeout {.9@14, .10@15}
    assert(got("timeout") === List(6L, 7L, 14L, 15L))
    // marker@11: {.4@6, .6@9, .8@10}; boundary close at seq 14 after the
    // idle flush with new events 12/13: {.4@6, .8@10, .6@12, .92@13}
    assert(got("append") === List(6L, 6L, 9L, 10L, 10L, 12L, 13L))
  }

  test("close after an idle flush with no new events emits nothing") {
    // the reference's appendToOutputChunk is a no-op when currentEvents is
    // empty (UniqueExternalTimeBatchWindowProcessor.java:412 outer guard):
    // everything in the batch was already sent by the idle flush
    val ms = MemoryStream[LoginM]
    val q = startQuery(
      UniqueStreams.externalTimeBatchStream(
        ms.toDF().withColumn("seq", col("seq").cast("long")),
        Seq("ip"), "seq", "ts", 1000L, timeOutMs = 0L, startMs = Some(0L),
        flushMarkerCol = Some("flush")),
      "etb_mk2", OutputMode.Update())
    def e(msTs: Long, ip: String, seq: Int) = LoginM(new Timestamp(msTs), ip, seq, flush = false)
    def m(seq: Int) = LoginM(new Timestamp(0), "", seq, flush = true)
    ms.addData(e(100, "a", 1), e(200, "b", 2), m(3), e(2500, "c", 4), m(5))
    q.processAllAvailable()
    val got = spark.table("etb_mk2").select("flush_kind", "seq").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
    q.stop()
    assert(got === Map("timeout" -> List(1L, 2L, 4L))) // no 'append', no 'close'
  }

  test("two streaming unique:ever windows join event-by-event (reference everTest4)") {
    // UniqueEverWindowTestCase.java:220-263: cse#unique:ever(symbol) join
    // twitter#unique:ever(user) on symbol == company. Spark cannot
    // stream-stream-join two update-mode fMGWS outputs directly; the
    // composition pattern is foreachBatch on each window's change log —
    // each side upserts its current window contents and joins its new
    // inserts against the other side's contents at that moment. Exactly
    // the reference's event-by-event join timing when driven one event
    // per micro-batch.
    val cseWin = scala.collection.concurrent.TrieMap.empty[String, (String, Double)] // symbol -> (symbol, price)
    val twWin = scala.collection.concurrent.TrieMap.empty[String, (String, String)]  // user -> (tweet, company)
    val joined = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String, Double)]) // (symbol, tweet, price)
    val cseMs = MemoryStream[Cse]
    val twMs = MemoryStream[Tweet]
    def start(df: DataFrame)(onBatch: DataFrame => Unit): StreamingQuery =
      df.writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", Files.createTempDirectory("ckpt_j2").toString)
        .foreachBatch((b: DataFrame, _: Long) => onBatch(b))
        .start()
    val qCse = start(UniqueStreams.everStream(cseMs.toDF(), Seq("symbol"), Some("seq"))) { b =>
      b.filter(col("change") === "insert")
        .select("symbol", "price").collect().foreach { r =>
          val (sym, price) = (r.getString(0), r.getDouble(1))
          cseWin(sym) = (sym, price)
          // new quote joins the twitter window's current contents
          twWin.values.foreach { case (tweet, company) =>
            if (company == sym) joined.add((sym, tweet, price))
          }
        }
    }
    val qTw = start(UniqueStreams.everStream(twMs.toDF(), Seq("user"), Some("seq"))) { b =>
      b.filter(col("change") === "insert")
        .select("user", "tweet", "company").collect().foreach { r =>
          val (user, tweet, company) = (r.getString(0), r.getString(1), r.getString(2))
          twWin(user) = (tweet, company)
          // new tweet joins the cse window's current contents
          cseWin.get(company).foreach { case (sym, price) =>
            joined.add((sym, tweet, price))
          }
        }
    }
    try {
      cseMs.addData(Cse("WSO2", 55.6, 100, 1)); qCse.processAllAvailable()
      cseMs.addData(Cse("IBM", 59.6, 100, 2)); qCse.processAllAvailable()
      twMs.addData(Tweet("User1", "Hello World", "WSO2", 3)); qTw.processAllAvailable()
      twMs.addData(Tweet("User2", "Hello World2", "WSO2", 4)); qTw.processAllAvailable()
      cseMs.addData(Cse("WSO2", 75.6, 100, 5)); qCse.processAllAvailable()
    } finally { qCse.stop(); qTw.stop() }
    import scala.jdk.CollectionConverters._
    val got = joined.asScala.toList
    // the reference asserts 4 joined events: the two tweets each join the
    // 55.6 quote; the replacing 75.6 quote joins both live tweets
    assert(got.sorted === List(
      ("WSO2", "Hello World", 55.6), ("WSO2", "Hello World", 75.6),
      ("WSO2", "Hello World2", 55.6), ("WSO2", "Hello World2", 75.6)))
  }

  test("everStreamTtl evicts idle keys silently; a returning key is brand new") {
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.everStreamTtl(ms.toDF(), Seq("ip"), "ts", ttlMs = 1000L),
      "ever_ttl_s", OutputMode.Update())
    val t0 = 100000L // initial watermark is 0; keep timeouts above it
    ms.addData(login(t0, "a", 1))
    q.processAllAvailable()
    ms.addData(login(t0 + 5000, "b", 2)) // watermark → t0+5000 > a's t0+1000 TTL
    q.processAllAvailable()
    ms.addData(login(t0 + 6000, "b", 3)) // a's timeout fires this batch; b replaced
    q.processAllAvailable()
    ms.addData(login(t0 + 7000, "a", 4)) // a returns AFTER eviction
    q.processAllAvailable()
    val out = spark.table("ever_ttl_s").select("change", "seq").as[(String, Int)].collect().toSeq
    q.stop()
    assert(out.filter(_._1 == "insert").map(_._2).toSet === Set(1, 2, 3, 4))
    assert(out.count(_ == ("expire", 2)) === 1) // live replacement still expires
    // the evicted key was forgotten: its return emits NO expire for seq 1
    assert(!out.contains(("expire", 1)), s"evicted key must not expire, got $out")
  }

  test("everStreamTws (transformWithState) matches everStream; TTL state path runs") {
    // transformWithState requires RocksDB
    UniqueStreams.withRocksDBStateStore(spark) {
      for ((ttl, name) <- Seq((None, "tws_plain"),
        (Some(java.time.Duration.ofMinutes(10)), "tws_ttl"))) {
        val ms = MemoryStream[Login]
        val q = startQuery(
          UniqueStreams.everStreamTws(ms.toDF(), Seq("ip"), Some("seq"), ttl),
          name, OutputMode.Update())
        // NOTE: with TimeMode.ProcessingTime (the TTL case) the engine
        // always claims another batch is due, so processAllAvailable never
        // returns — poll the sink instead (same engine behavior as
        // ProcessingTimeTimeout, see the externalTimeBatch time.out test)
        def rows(): Seq[(String, Int)] =
          spark.table(name).select("change", "seq").as[(String, Int)].collect().toSeq
        def await(cond: => Boolean): Unit = {
          val deadline = System.currentTimeMillis() + 30000
          while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
          assert(cond, s"$name timed out waiting for sink rows; got ${rows()}")
        }
        ms.addData(login(1, "192.10.1.3", 1), login(2, "192.10.1.3", 2), login(3, "192.10.1.4", 3))
        await(rows().count(_._1 == "insert") == 3)
        ms.addData(login(4, "192.10.1.3", 4), login(5, "192.10.1.5", 5))
        await(rows().count(_._1 == "insert") == 5)
        val out = rows()
        q.stop()
        // same fixture + assertions as the everStream test above
        assert(out.filter(_._1 == "insert").map(_._2).toSet === Set(1, 2, 3, 4, 5), name)
        assert(out.filter(_._1 == "expire").map(_._2).toSet === Set(1, 2), name)
      }
    }
  }

  test("everStream runs on the RocksDB state store backend") {
    import scala.jdk.CollectionConverters._
    UniqueStreams.withRocksDBStateStore(spark) {
      val ms = MemoryStream[Login]
      val q = startQuery(UniqueStreams.everStream(ms.toDF(), Seq("ip")),
        "ever_rocks_s", OutputMode.Update())
      ms.addData(login(1, "a", 1), login(2, "a", 2))
      q.processAllAvailable()
      val out = spark.table("ever_rocks_s").select("change", "seq")
        .as[(String, Int)].collect().toSet
      val usedRocks = q.recentProgress.flatMap(_.stateOperators)
        .exists(_.customMetrics.keySet().asScala.exists(_.toLowerCase.contains("rocksdb")))
      q.stop()
      assert(out === Set(("insert", 1), ("insert", 2), ("expire", 1)))
      assert(usedRocks, "expected RocksDB state store metrics in query progress")
    }
  }

  test("Replay reproduces the batch change log regardless of chunking") {
    val rows = Seq(login(1, "a", 1), login(2, "b", 2), login(3, "a", 3),
      login(4, "a", 4), login(5, "c", 5), login(6, "b", 6))
      .toDF().withColumn("seq", col("seq").cast("long"))
    val log = graft.streaming.Replay.replay(spark, rows, "seq", 2, "update")(sdf =>
      UniqueStreams.everStream(sdf, Seq("ip"), Some("seq")))
      .select("change", "seq").as[(String, Long)].collect().toSeq
    assert(log.filter(_._1 == "insert").map(_._2).toSet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    // replaced: a@1, a@3 (by a@4), b@2 (by b@6) — chunk-size independent
    assert(log.filter(_._1 == "expire").map(_._2).toSet === Set(1L, 2L, 3L))
  }

  test("everStreamTtl never crashes on late events (dropped pre-operator; timeout clamped)") {
    // Spark 4.1 filters late rows BEFORE flatMapGroupsWithState (watermark
    // predicate on the input), so a key whose ts + ttl <= watermark cannot
    // normally reach setTimeoutTimestamp — the operator additionally clamps
    // the timeout to watermark+1 as defense-in-depth against engines/configs
    // that do feed allowed-late rows. This pins both behaviors: the late row
    // is silently dropped and the query never fails.
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.everStreamTtl(ms.toDF(), Seq("ip"), "ts", ttlMs = 1000L),
      "ever_ttl_late_s", OutputMode.Update())
    val t0 = 100000L
    ms.addData(login(t0 + 10000, "b", 1)) // watermark → t0+10000
    q.processAllAvailable()
    ms.addData(login(t0 + 2000, "a", 2)) // late: ts+ttl = t0+3000 << watermark
    q.processAllAvailable()
    ms.addData(login(t0 + 11000, "b", 3))
    q.processAllAvailable()
    val out = spark.table("ever_ttl_late_s").select("change", "seq")
      .as[(String, Int)].collect().toSeq
    q.stop()
    assert(q.exception.isEmpty, s"query must not fail on the late event: ${q.exception}")
    assert(out.filter(_._1 == "insert").map(_._2).toSet === Set(1, 3)) // late row dropped
  }

  test("seq column may be any numeric type (int seq, no ClassCastException)") {
    // Login.seq is Int; operators sorting by seq must widen, not getLong-cast
    val rows = Seq(login(1, "a", 1), login(2, "a", 2), login(3, "b", 3)).toDF()
    val log = graft.streaming.Replay.replay(spark, rows, "seq", 2, "update")(sdf =>
      UniqueStreams.everStream(sdf, Seq("ip"), Some("seq")))
      .select("change", "seq").as[(String, Int)].collect().toSeq
    assert(log.filter(_._1 == "insert").map(_._2).toSet === Set(1, 2, 3))
    assert(log.filter(_._1 == "expire").map(_._2).toSet === Set(1))
  }

  test("firstStream(seqCol) keeps the seq-least row even within one micro-batch") {
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.firstStream(ms.toDF(), Seq("ip"), "seq"),
      "first_seq_s", OutputMode.Update())
    // a@2 and a@1 in ONE batch, "wrong" insertion order: seq-least must win
    ms.addData(login(2, "a", 2), login(1, "a", 1), login(3, "b", 3))
    q.processAllAvailable()
    ms.addData(login(4, "a", 4), login(5, "c", 5)) // a already seen → dropped
    q.processAllAvailable()
    val got = spark.table("first_seq_s").select("ip", "seq").as[(String, Int)].collect().toSet
    q.stop()
    assert(got === Set(("a", 1), ("b", 3), ("c", 5)))
  }

  test("deduplicateStreamExact re-admits on the event-time interval, not the watermark") {
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.deduplicateStreamExact(
        ms.toDF().withColumn("seq", col("seq").cast("long")),
        Seq("ip"), "seq", "ts", intervalMs = 1000L),
      "dedup_x_s", OutputMode.Update())
    val t0 = 100000L
    // one micro-batch, interleaved: kept a@t0; a@t0+500 inside interval →
    // dropped and does NOT refresh; a@t0+1001 is > interval after the KEPT
    // event → re-admitted (DeduplicateStreamProcessor.java:158-176) — the
    // built-in dropDuplicatesWithinWatermark would still drop it here
    ms.addData(login(t0, "a", 1), login(t0 + 500, "a", 2), login(t0 + 1001, "a", 3),
      login(t0 + 800, "b", 4))
    q.processAllAvailable()
    // later batch: a@t0+1500 inside the NEW interval (anchor t0+1001) → dropped
    ms.addData(login(t0 + 1500, "a", 5), login(t0 + 2500, "b", 6))
    q.processAllAvailable()
    val got = spark.table("dedup_x_s").select("ip", "seq").as[(String, Long)].collect().toSet
    q.stop()
    assert(got === Set(("a", 1L), ("a", 3L), ("b", 4L), ("b", 6L)))
    // batch twin on the same rows must agree row-for-row
    val batchDf = Seq((t0, "a", 1L), (t0 + 500, "a", 2L), (t0 + 1001, "a", 3L),
      (t0 + 800, "b", 4L), (t0 + 1500, "a", 5L), (t0 + 2500, "b", 6L))
      .toDF("ms", "ip", "seq").withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val batch = operators.UniqueOps.deduplicate(batchDf, Seq("ip"), "seq", "ts", 1000L)
      .current.select("ip", "seq").as[(String, Long)].collect().toSet
    assert(got === batch)
  }

  test("start.time aligns the streaming batch grids (timeBatch + externalTimeBatch)") {
    // timeBatchStream: startMs=500 shifts the tumbling grid to [500,1500)…
    val ms1 = MemoryStream[Login]
    val q1 = startQuery(
      UniqueStreams.timeBatchStream(ms1.toDF(), Seq("ip"), "seq", "ts", 1000L,
        startMs = 500L),
      "tb_start_s", OutputMode.Append())
    ms1.addData(login(600, "a", 1), login(700, "a", 2))
    q1.processAllAvailable()
    ms1.addData(login(2600, "b", 3)) // watermark 700: [500,1500) still open
    q1.processAllAvailable()
    ms1.addData(login(3600, "c", 4)) // watermark 2600 closes [500,1500)
    q1.processAllAvailable()
    val got1 = spark.table("tb_start_s").select("seq", "batch_start_ms")
      .as[(Int, Long)].collect().toSet
    q1.stop()
    // a@2 latest in shifted [500,1500); b's [2500,3500) also closed once
    // the final watermark (3600) passed its end
    assert(got1 === Set((2, 500L), (3, 2500L)))
    // externalTimeBatchStream: start.time grid instead of first-event anchor
    val ms2 = MemoryStream[Login]
    val q2 = startQuery(
      UniqueStreams.externalTimeBatchStream(
        ms2.toDF().withColumn("seq", col("seq").cast("long")),
        Seq("ip"), "seq", "ts", 1000L, timeOutMs = 0L, startMs = Some(0L)),
      "etb_start_s", OutputMode.Update())
    ms2.addData(login(700, "a", 1)) // grid batch [0,1000), NOT [700,1700)
    q2.processAllAvailable()
    ms2.addData(login(1200, "b", 2)) // crosses 1000 → closes the grid batch
    q2.processAllAvailable()
    val got2 = spark.table("etb_start_s").select("seq", "batch_end_ms")
      .as[(Long, Long)].collect().toSet
    q2.stop()
    assert(got2 === Set((1L, 1000L)))
  }

  test("externalTimeBatchStream without time.out closes batches on boundary crossing only") {
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.externalTimeBatchStream(
        ms.toDF().withColumn("seq", col("seq").cast("long")),
        Seq("ip"), "seq", "ts", windowMs = 1000L, timeOutMs = 0L),
      "etb_nt_s", OutputMode.Update())
    // anchor at 100 → batch [100, 1100); a replaced by a@600
    ms.addData(login(100, "a", 1), login(600, "a", 2), login(700, "b", 3))
    q.processAllAvailable() // nothing emitted: batch still open, no timeout
    assert(spark.table("etb_nt_s").count() === 0)
    ms.addData(login(1200, "c", 4)) // crosses 1100 → closes the first batch
    q.processAllAvailable()
    val got = spark.table("etb_nt_s")
      .select("ip", "seq", "flush_kind", "batch_end_ms")
      .as[(String, Long, String, Long)].collect().toSet
    q.stop()
    assert(got === Set(("a", 2L, "close", 1100L), ("b", 3L, "close", 1100L)))
  }

  test("lengthBatchStream restores the global fold state (kryo GlobalState) after a restart") {
    val ckpt = Files.createTempDirectory("ckpt_lb_restart").toString
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    def run(ms: MemoryStream[Login]): StreamingQuery =
      UniqueStreams.lengthBatchStream(
          ms.toDF().withColumn("seq", col("seq").cast("long")), Seq("ip"), "seq", 2)
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("change", "seq", "batch_id").collect()
            .foreach(r => sink.add((r.getString(0), r.getLong(1), r.getLong(2))))
        }
        .start()
    val ms1 = MemoryStream[Login]
    val q1 = run(ms1)
    ms1.addData(login(1, "a", 1)) // batch 0 half-filled: pending {a}
    q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint: the half-filled batch (pending rows +
    // distinct-key set + batch counter) must survive the restart — the
    // engine-level equivalent of the reference's snapshot/restore
    // (UniqueLengthBatchWindowProcessor.java state map, SURVEY.md §1.5)
    ms1.addData(login(2, "b", 2)) // 2nd distinct key → flush batch 0
    val q2 = run(ms1)
    q2.processAllAvailable()
    q2.stop()
    val inserts = sink.toArray(Array.empty[(String, Long, Long)]).toSeq
      .filter(_._1 == "insert")
    assert(inserts.map(t => (t._2, t._3)).toSet === Set((1L, 0L), (2L, 0L)),
      s"pre-restart pending row must flush in batch 0 after restart, got $inserts")
  }

  test("externalTimeBatchStream restores the sentIdle/dirty flush state after a restart") {
    // the append-merge decision depends on EtbState's sentIdle + dirty
    // flags; a restart between the idle flush and the batch close must
    // preserve them or the close would re-emit 'close' instead of the
    // reference's merged append (or re-send an already-sent batch)
    val ckpt = Files.createTempDirectory("ckpt_etb_restart").toString
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def run(ms: MemoryStream[LoginM]): StreamingQuery =
      UniqueStreams.externalTimeBatchStream(
          ms.toDF().withColumn("seq", col("seq").cast("long")),
          Seq("ip"), "seq", "ts", 1000L, timeOutMs = 0L, startMs = Some(0L),
          flushMarkerCol = Some("flush"))
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("flush_kind", "seq").collect()
            .foreach(r => sink.add((r.getString(0), r.getLong(1))))
        }
        .start()
    def e(msTs: Long, ip: String, seq: Int) = LoginM(new Timestamp(msTs), ip, seq, flush = false)
    def m(seq: Int) = LoginM(new Timestamp(0), "", seq, flush = true)
    val ms1 = MemoryStream[LoginM]
    val q1 = run(ms1)
    ms1.addData(e(100, "a", 1), e(200, "b", 2), m(3)) // idle flush {a,b}
    q1.processAllAvailable()
    q1.stop()
    ms1.addData(e(300, "c", 4), e(2500, "d", 5)) // same-batch c, then close
    val q2 = run(ms1)
    q2.processAllAvailable()
    q2.stop()
    val got = sink.toArray(Array.empty[(String, Long)]).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
    // timeout {a@1, b@2} pre-restart; close after restart must APPEND the
    // merged batch {a, b, c} (sentIdle survived), never 'close'
    assert(got("timeout") === List(1L, 2L))
    assert(got("append") === List(1L, 2L, 4L))
    assert(!got.contains("close"), s"restart lost sentIdle: $got")
  }

  test("file source end-to-end: readStream parquet -> everStream -> sink equals batch") {
    // the production ingest path (not MemoryStream): events land as
    // parquet files, readStream picks them up per micro-batch
    val dir = Files.createTempDirectory("fsrc").toString
    val batch1 = Seq(login(1, "a", 1), login(2, "b", 2)).toDF()
    val batch2 = Seq(login(3, "a", 3), login(4, "c", 4)).toDF()
    batch1.write.parquet(s"$dir/f1")
    val sdf = spark.readStream.schema(batch1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/f*")
    val q = startQuery(UniqueStreams.everStream(sdf, Seq("ip"), Some("seq")),
      "fsrc_s", OutputMode.Update())
    q.processAllAvailable()
    batch2.write.parquet(s"$dir/f2") // late-arriving file = next micro-batch
    q.processAllAvailable()
    val out = spark.table("fsrc_s").select("change", "seq").as[(String, Int)].collect().toSeq
    q.stop()
    assert(out.filter(_._1 == "insert").map(_._2).toSet === Set(1, 2, 3, 4))
    assert(out.filter(_._1 == "expire").map(_._2).toSet === Set(1)) // a@1 replaced by a@3
  }

  test("everStream restores keyed state from the checkpoint after a restart") {
    val ckpt = Files.createTempDirectory("ckpt_restart").toString
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    def run(ms: MemoryStream[Login]): StreamingQuery =
      UniqueStreams.everStream(ms.toDF(), Seq("ip")).writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("change", "seq").collect()
            .foreach(r => sink.add((r.getString(0), r.getInt(1))))
        }
        .start()
    val ms1 = MemoryStream[Login]
    val q1 = run(ms1)
    ms1.addData(login(1, "192.10.1.3", 1))
    q1.processAllAvailable()
    q1.stop()
    // same checkpoint, same source, new query instance — keyed state must
    // carry over (mirror of UniqueEverWindowTestCase.java:190-217
    // persist/restore round-trip)
    ms1.addData(login(2, "192.10.1.3", 2))
    val q2 = run(ms1)
    q2.processAllAvailable()
    q2.stop()
    val all = sink.toArray(Array.empty[(String, Int)]).toSeq
    assert(all.contains(("insert", 1)) && all.contains(("insert", 2)))
    assert(all.contains(("expire", 1)), // pre-restart row expired post-restart
      s"expected pre-restart state to expire seq 1, got $all")
  }
}
