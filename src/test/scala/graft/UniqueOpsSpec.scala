package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.UniqueOps

trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.session
}
object SparkTestSession {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Behavioral suite ported from the reference's TestNG fixtures
  * (FIXTURES.md §1; file:line citations inline). Batch mode: explicit
  * arrival_seq / event-time columns replace the reference's Thread.sleep.
  */
class UniqueOpsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  /** CseEventStream rows (symbol, price, volume); volume doubles as seq. */
  private def cse(rows: (String, Double, Int)*): DataFrame =
    rows.toDF("symbol", "price", "volume").withColumn("seq", col("volume"))

  /** LoginEvents rows (epoch-ms, ip) with explicit arrival seq. */
  private def logins(rows: (Long, String)*): DataFrame =
    rows.zipWithIndex.map { case ((ms, ip), i) => (ms, ip, i + 1) }
      .toDF("ms", "ip", "seq").withColumn("ts", timestamp_millis(col("ms")))

  // ---- unique:first (UniqueFirstWindowTestCase.java:88-97: ips
  // .3,.3,.4,.3,.5 → 3 output events, first occurrence wins) ----
  test("first keeps the first event per key and emits no expired") {
    val df = logins((1L, "192.10.1.3"), (2L, "192.10.1.3"), (3L, "192.10.1.4"),
      (4L, "192.10.1.3"), (5L, "192.10.1.5"))
    val r = UniqueOps.first(df, Seq("ip"), "seq")
    val cur = r.current.select("ip", "seq").as[(String, Int)].collect().toSet
    assert(cur === Set(("192.10.1.3", 1), ("192.10.1.4", 3), ("192.10.1.5", 5)))
    assert(r.expired.count() === 0) // UniqueFirstWindowTestCase.java:77-79
  }

  // ---- unique:ever (UniqueEverWindowTestCase.java:86-94: same rows →
  // 3 distinct in window, latest occurrence wins; replaced → expired) ----
  test("ever keeps the latest event per key; replaced events expire") {
    val df = logins((1L, "192.10.1.3"), (2L, "192.10.1.3"), (3L, "192.10.1.4"),
      (4L, "192.10.1.3"), (5L, "192.10.1.5"))
    val r = UniqueOps.ever(df, Seq("ip"), "seq")
    val cur = r.current.select("ip", "seq").as[(String, Int)].collect().toSet
    assert(cur === Set(("192.10.1.3", 4), ("192.10.1.4", 3), ("192.10.1.5", 5)))
    assert(r.expired.count() === 2) // seqs 1 and 2 replaced
    assert(UniqueOps.everCurrent(df, Seq("ip"), "seq")
      .select("ip", "seq").as[(String, Int)].collect().toSet === cur)
  }

  test("ever current/expired/all partition the input") {
    val df = logins((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c"), (5L, "a"))
    val r = UniqueOps.ever(df, Seq("ip"), "seq")
    assert(r.all.count() === df.count())
    assert(r.current.count() + r.expired.count() === df.count())
  }

  // ---- multi-key struct keying: the reference's string-concat makes
  // ("ab","c") collide with ("a","bc") (UniqueEverWindowProcessor.java:216-222);
  // SURVEY.md §1.4 documents struct keying as the deliberate deviation ----
  test("multi-key uses struct keys: (ab,c) does not collide with (a,bc)") {
    val df = Seq(("ab", "c", 1), ("a", "bc", 2), ("ab", "c", 3))
      .toDF("k1", "k2", "seq")
    val cur = UniqueOps.everCurrent(df, Seq("k1", "k2"), "seq")
    assert(cur.count() === 2) // (ab,c)@3 and (a,bc)@2
    assert(cur.filter(col("k1") === "a").select("seq").as[Int].head() === 2)
  }

  test("struct keys treat null and empty string as distinct keys") {
    val df = Seq((Some("x"), Some(""), 1), (Some("x"), None, 2))
      .toDF("k1", "k2", "seq")
    assert(UniqueOps.everCurrent(df, Seq("k1", "k2"), "seq").count() === 2)
  }

  // ---- unique:lengthBatch(symbol, 2), 6 alternating rows →
  // in=6, expired=4 (UniqueLengthBatchWindowTestCase.java:148-157) ----
  test("lengthBatch(2) on 6 alternating rows: current=6, expired=4") {
    val df = cse(("IBM", 700.0, 1), ("WSO2", 60.5, 2), ("IBM", 700.0, 3),
      ("WSO2", 60.5, 4), ("IBM", 700.0, 5), ("WSO2", 60.5, 6))
    val r = UniqueOps.lengthBatch(df, Seq("symbol"), "seq", 2)
    assert(r.current.count() === 6)
    assert(r.expired.count() === 4) // batches 0 and 1 re-emitted on next flush
    assert(r.current.select("batch_id").distinct().count() === 3)
  }

  test("lengthBatch leaves no cache entry; expired reuses its phase-A exchange") {
    val df = cse(("IBM", 700.0, 1), ("WSO2", 60.5, 2), ("IBM", 700.0, 3),
      ("WSO2", 60.5, 4), ("IBM", 700.0, 5), ("WSO2", 60.5, 6))
    val before = spark.sparkContext.getPersistentRDDs.size
    val r = UniqueOps.lengthBatch(df, Seq("symbol"), "seq", 2)
    r.current.collect(); r.expired.collect()
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "lengthBatch must not leave a persisted RDD behind")
    // the interval frame's consumers share its one phase-A exchange
    val plan = r.expired.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), s"no reused exchange in the expired plan:\n$plan")
  }

  // ---- unique:lengthBatch(symbol, 4) aggregation: first flush sums
  // price to 130.0; remaining events stay pending
  // (UniqueLengthBatchWindowTestCase.java:253-275) ----
  test("lengthBatch(4) aggregation fixture: one flushed batch, sum(price)=130.0") {
    val df = cse(("IBM", 10.0, 1), ("WSO2", 20.0, 2), ("IBM1", 30.0, 3),
      ("WSO2", 40.0, 4), ("IBM2", 50.0, 5), ("WSO2", 60.0, 6),
      ("WSO2", 60.0, 7), ("IBM3", 70.0, 8), ("WSO2", 80.0, 9))
    val r = UniqueOps.lengthBatch(df, Seq("symbol"), "seq", 4)
    val sums = r.current.groupBy("batch_id").agg(sum("price").as("s"))
      .select("s").as[Double].collect()
    assert(sums.toSeq === Seq(130.0)) // 10 (IBM@1) + 30 (IBM1@3) + 40 (WSO2@4) + 50 (IBM2@5)
    assert(r.expired.count() === 0) // single batch → nothing re-emitted yet
  }

  // ---- unique:firstLengthBatch keeps FIRST per key within the batch
  // (UniqueFirstLengthBatchWindowProcessor.java:73-82) ----
  test("firstLengthBatch keeps first-per-key within each batch") {
    val df = cse(("IBM", 10.0, 1), ("WSO2", 20.0, 2), ("IBM1", 30.0, 3),
      ("WSO2", 40.0, 4), ("IBM2", 50.0, 5))
    val r = UniqueOps.firstLengthBatch(df, Seq("symbol"), "seq", 4)
    val seqs = r.current.select("seq").as[Int].collect().toSet
    assert(seqs === Set(1, 2, 3, 5)) // WSO2@2 kept, @4 dropped
  }

  // ---- unique:externalTimeBatch: 1-sec event-time batches anchored at 0,
  // distinct ips per batch 3, 4, 2
  // (UniqueExternalTimeBatchWindowTestCase.java:107-127; the reference's
  // 3,2,3,4,2 flush counts are the time.out append-flushes of the same
  // batches — final per-batch contents are 3, 4, 2) ----
  test("externalTimeBatch event-time batches hold latest-unique per key") {
    val df = logins(
      (1366335804341L, "192.10.1.3"), (1366335804599L, "192.10.1.3"),
      (1366335804600L, "192.10.1.5"), (1366335804607L, "192.10.1.6"),
      (1366335805599L, "192.10.1.4"), (1366335805600L, "192.10.1.4"),
      (1366335805607L, "192.10.1.6"), (1366335805606L, "192.10.1.6"),
      (1366335805605L, "192.10.1.8"), (1366335805606L, "192.10.1.6"),
      (1366335805605L, "192.10.1.92"), (1366335806606L, "192.10.1.9"),
      (1366335806690L, "192.10.1.10"))
    val r = UniqueOps.externalTimeBatch(df, Seq("ip"), "seq", "ts", 1000L, Some(0L))
    val counts = r.current.groupBy("batch_start_ms").count()
      .orderBy("batch_start_ms").select("count").as[Long].collect()
    assert(counts.toSeq === Seq(3L, 4L, 2L))
  }

  test("externalTimeBatch anchors at first event when start is not given") {
    // reference default start = first event ts
    // (UniqueExternalTimeBatchWindowProcessor.java:346-347)
    val df = logins((500L, "a"), (1400L, "b"), (1600L, "c"))
    val r = UniqueOps.externalTimeBatch(df, Seq("ip"), "seq", "ts", 1000L)
    val starts = r.current.select("batch_start_ms").distinct()
      .as[Long].collect().sorted
    assert(starts.toSeq === Seq(500L, 1500L)) // batches [500,1500) and [1500,2500)
  }

  test("externalTimeBatch replace-timestamp rewrites ts to the batch end") {
    val df = logins((100L, "a"), (150L, "b"), (1100L, "a"))
    val r = UniqueOps.externalTimeBatch(df, Seq("ip"), "seq", "ts", 1000L,
      Some(0L), replaceTsWithBatchEnd = true)
    val tsMs = r.current.select(unix_millis(col("ts"))).as[Long].collect().toSet
    assert(tsMs === Set(1000L, 2000L)) // schema keeps ts; values are batch ends
  }

  // ---- unique:timeBatch / firstTimeBatch over event time ----
  test("timeBatch keeps latest per key per tumbling batch; prior batches expire") {
    val df = logins((100L, "a"), (200L, "a"), (300L, "b"), (1100L, "a"), (1200L, "c"))
    val r = UniqueOps.timeBatch(df, Seq("ip"), "seq", "ts", 1000L)
    val cur = r.current.select("ip", "seq").as[(String, Int)].collect().toSet
    assert(cur === Set(("a", 2), ("b", 3), ("a", 4), ("c", 5)))
    // batch [0,1000) expired when [1000,2000) flushed
    assert(r.expired.select("seq").as[Int].collect().toSet === Set(2, 3))
  }

  test("firstTimeBatch keeps first per key per tumbling batch") {
    val df = logins((100L, "a"), (200L, "a"), (300L, "b"), (1100L, "a"), (1200L, "c"))
    val r = UniqueOps.firstTimeBatch(df, Seq("ip"), "seq", "ts", 1000L)
    val cur = r.current.select("ip", "seq").as[(String, Int)].collect().toSet
    assert(cur === Set(("a", 1), ("b", 3), ("a", 4), ("c", 5)))
  }

  // ---- unique:time sliding window (UniqueTimeWindowProcessor.java:177-212):
  // latest per key, kept only while inside the horizon; an aged-out latest
  // must NOT let an older event resurface ----
  test("time keeps latest-per-key within horizon; everything else expires") {
    // horizon = (3000 - 1000, 3000]: a@3000 in, b's latest 1500 out, c@900 out
    val df = logins((900L, "c"), (1000L, "b"), (1500L, "b"), (3000L, "a"))
    val r = UniqueOps.time(df, Seq("ip"), "seq", "ts", 1000L)
    assert(r.current.select("ip").as[String].collect().toSeq === Seq("a"))
    assert(r.expired.count() === 3)
  }

  test("time does not resurface an older event when the latest aged out") {
    // b@2900 is inside the horizon but b's LATEST is b@100+3000... construct:
    // b has events at seq order (2900, then 100 out-of-ts-order late arrival
    // with higher seq). Latest-by-seq = ms 100 (outside horizon) → b fully
    // expired; the in-horizon 2900 row must not come back.
    val df = logins((3000L, "a"), (2900L, "b")) // seq 1, 2
      .union(Seq((100L, "b", 3)).toDF("ms", "ip", "seq")
        .withColumn("ts", timestamp_millis(col("ms"))))
    val r = UniqueOps.time(df, Seq("ip"), "seq", "ts", 1000L)
    assert(r.current.select("ip").as[String].collect().toSeq === Seq("a"))
  }

  // ---- unique:length — last N distinct keys by recency
  // (UniqueLengthWindowProcessor.java:142-166) ----
  test("length holds the N most recently seen distinct keys") {
    val df = logins((1L, "a"), (2L, "b"), (3L, "c"), (4L, "a"), (5L, "d"))
    val r = UniqueOps.length(df, Seq("ip"), "seq", 3)
    val cur = r.current.select("ip", "seq").as[(String, Int)].collect().toSet
    assert(cur === Set(("c", 3), ("a", 4), ("d", 5))) // b evicted (oldest recency)
    assert(r.expired.count() === 2)
  }

  // ---- unique:timeLengthBatch — flush on time OR N distinct keys;
  // post-length-flush events dropped until next boundary
  // (UniqueTimeLengthBatchWindowProcessor.java:254-290) ----
  test("timeLengthBatch admits only the first N distinct keys per time batch") {
    val df = logins((100L, "a"), (200L, "b"), (300L, "c"), (400L, "a"),
      (1100L, "d"), (1200L, "e"))
    val r = UniqueOps.timeLengthBatch(df, Seq("ip"), "seq", "ts", 1000L, 2)
    val cur = r.current.select("ip", "seq").as[(String, Int)].collect().toSet
    // batch [0,1000): a,b fill the batch (flush at 2nd distinct); the
    // eventSent latch then drops EVERYTHING until the next time boundary —
    // both c@3 (new key) and a@4 (existing key) are discarded
    // (UniqueTimeLengthBatchWindowProcessor.java:261-290)
    // batch [1000,2000): d,e admitted
    assert(cur === Set(("a", 1), ("b", 2), ("d", 5), ("e", 6)))
  }

  // ---- unique:deduplicate (DeduplicateTestCase.java:84-110: ips over a
  // 1-sec interval → 4 output events, no remove events) ----
  test("deduplicate drops keys re-seen within the interval; no expired") {
    val df = logins((0L, "192.10.1.3"), (0L, "192.10.1.3"),
      (1001L, "192.10.1.4"), (1001L, "192.10.1.3"), (1001L, "192.10.1.4"),
      (2002L, "192.10.1.5"))
    val r = UniqueOps.deduplicate(df, Seq("ip"), "seq", "ts", 1000L)
    assert(r.current.count() === 4) // DeduplicateTestCase.java:107
    assert(r.expired.count() === 0) // DeduplicateTestCase.java:84-86
    val kept = r.current.select("seq").as[Int].collect().toSet
    assert(kept === Set(1, 3, 4, 6))
  }

  test("deduplicate: dropped duplicates do not refresh the interval") {
    // key at 0, 600, 1100: 600 dropped (within 1000 of 0), 1100 kept
    // (1100-0 > 1000; the reference keys off the LAST KEPT, not last seen —
    // DeduplicateStreamProcessor.java:158-176)
    val df = logins((0L, "a"), (600L, "a"), (1100L, "a"))
    val r = UniqueOps.deduplicate(df, Seq("ip"), "seq", "ts", 1000L)
    assert(r.current.select("seq").as[Int].collect().toSet === Set(1, 3))
  }

  test("deduplicate readmission is strict: gap must exceed the interval") {
    val df = logins((0L, "a"), (1000L, "a"), (2001L, "a"))
    val r = UniqueOps.deduplicate(df, Seq("ip"), "seq", "ts", 1000L)
    // 1000 - 0 == interval → still duplicate; 2001 - 0 > interval → kept
    assert(r.current.select("seq").as[Int].collect().toSet === Set(1, 3))
  }

  test("deduplicateSalted matches deduplicate on the reference fixtures") {
    for (rows <- Seq(
      Seq((0L, "192.10.1.3"), (0L, "192.10.1.3"), (1001L, "192.10.1.4"),
        (1001L, "192.10.1.3"), (1001L, "192.10.1.4"), (2002L, "192.10.1.5")),
      Seq((0L, "a"), (600L, "a"), (1100L, "a")),
      Seq((0L, "a"), (1000L, "a"), (2001L, "a")))) {
      val df = logins(rows: _*)
      val plain = UniqueOps.deduplicate(df, Seq("ip"), "seq", "ts", 1000L)
        .current.select("seq").as[Int].collect().toSet
      val salted = UniqueOps.deduplicateSalted(df, Seq("ip"), "seq", "ts", 1000L)
        .current.select("seq").as[Int].collect().toSet
      assert(salted === plain, s"fixture $rows")
    }
  }

  test("deduplicateSalted under 50% hot-key skew: same result, distributed work") {
    // 1 key holds half the rows (dense: many events per interval, duplicate
    // timestamps) — the scenario where plain deduplicate's per-key fold
    // serializes on one partition
    val interval = 1000L
    val hot = (0 until 2000).map(i => ((i / 2) * 7L, "hot")) // 2 events/ts, 7ms apart
    val cold = (0 until 2000).map(i => (i * 31L, s"cold${i % 97}"))
    val df = logins(scala.util.Random.shuffle(hot ++ cold): _*)
    val plain = UniqueOps.deduplicate(df, Seq("ip"), "seq", "ts", interval)
      .current.select("ip", "seq").as[(String, Int)].collect().toSet
    val salted = UniqueOps.deduplicateSalted(df, Seq("ip"), "seq", "ts", interval)
      .current.select("ip", "seq").as[(String, Int)].collect().toSet
    assert(salted === plain)
    // the hot key's phase-1 work is spread over its time chunks: with a
    // 7-second span and 1-second chunks, the (key, chunk) grouping gives
    // the hot key ≥ 2 distinct shuffle groups (vs exactly 1 partition for
    // a plain hash-by-key layout)
    val hotChunks = df.filter(col("ip") === "hot")
      .select((unix_millis(col("ts")) / interval).cast("long")).distinct().count()
    assert(hotChunks >= 2, s"skew fixture must span multiple chunks, got $hotChunks")
  }

  // ---- validation layer: eager failures mirroring the reference's
  // SiddhiAppValidationException cases (UniqueTimeWindowTestCase.java:232-263) ----
  test("operators validate arguments eagerly") {
    val df = logins((1L, "a"))
    intercept[IllegalArgumentException](UniqueOps.ever(df, Seq.empty, "seq"))
    intercept[IllegalArgumentException](UniqueOps.ever(df, Seq("nope"), "seq"))
    intercept[IllegalArgumentException](UniqueOps.ever(df, Seq("ip"), "nope"))
    intercept[IllegalArgumentException](UniqueOps.time(df, Seq("ip"), "seq", "ts", 0L))
    intercept[IllegalArgumentException](UniqueOps.time(df, Seq("ip"), "seq", "ip", 100L)) // non-ts column
    intercept[IllegalArgumentException](UniqueOps.length(df, Seq("ip"), "seq", 0))
    intercept[IllegalArgumentException](UniqueOps.lengthBatch(df, Seq("ip"), "seq", -1))
    intercept[IllegalArgumentException](UniqueOps.deduplicate(df, Seq("ip"), "seq", "ts", -5L))
  }

  // ---- plan-shape guards (the VERDICT scale criteria): no
  // data-proportional driver collect, no partition-all window sort ----
  test("length plans as TakeOrderedAndProject, not a global window sort") {
    val df = logins((1L, "a"), (2L, "b"), (3L, "c"))
    val plan = UniqueOps.length(df, Seq("ip"), "seq", 2)
      .current.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Window"), s"unexpected window sort in plan:\n$plan")
  }

  test("everCurrent plan does map-side partial aggregation, no global sort or window") {
    val df = logins((1L, "a"), (2L, "b"))
    val plan = UniqueOps.everCurrent(df, Seq("ip"), "seq")
      .queryExecution.executedPlan.toString
    // max_by over a struct buffer plans as SortAggregate (non-primitive
    // buffer) — what matters at scale is the partial combine before the
    // key-hash exchange and the absence of any single-partition stage
    assert(plan.contains("partial_max_by"))
    assert(plan.contains("Exchange hashpartitioning"))
    assert(!plan.contains("Window"))
    assert(!plan.contains("SinglePartition"))
  }

  test("lengthBatch single partition emits boundary intervals; full rows join via broadcast") {
    // the sequential fold is inherent (reference trigger is global); the
    // guards are (a) only the 2-column projection passes through the
    // single partition, (b) the fold's output is the boundary-interval
    // table, broadcast into a range join — the full rows never shuffle
    // into or out of the sequential stage
    val df = logins((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
    val cur = UniqueOps.lengthBatch(df, Seq("ip"), "seq", 2).current
    val plan = cur.queryExecution.executedPlan.toString
    assert(plan.contains("SinglePartition"))
    // bucketed interval assignment: a broadcast HASH join on the bucket id
    // (linear in events), never a per-event scan of all intervals
    assert(plan.contains("BroadcastHashJoin"))
    assert(cur.count() === 4)
  }

  test("the driver flagship entry returns rows on the smoke scale") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all operators are well-defined on empty input") {
    val empty = logins((1L, "a")).limit(0)
    assert(UniqueOps.ever(empty, Seq("ip"), "seq").all.count() === 0)
    assert(UniqueOps.first(empty, Seq("ip"), "seq").current.count() === 0)
    assert(UniqueOps.time(empty, Seq("ip"), "seq", "ts", 1000L).current.count() === 0)
    assert(UniqueOps.timeBatch(empty, Seq("ip"), "seq", "ts", 1000L).current.count() === 0)
    assert(UniqueOps.externalTimeBatch(empty, Seq("ip"), "seq", "ts", 1000L).current.count() === 0)
    assert(UniqueOps.length(empty, Seq("ip"), "seq", 3).current.count() === 0)
    assert(UniqueOps.lengthBatch(empty, Seq("ip"), "seq", 2).current.count() === 0)
    assert(UniqueOps.timeLengthBatch(empty, Seq("ip"), "seq", "ts", 1000L, 2).current.count() === 0)
    assert(UniqueOps.deduplicate(empty, Seq("ip"), "seq", "ts", 1000L).current.count() === 0)
  }

  test("window-join picks a broadcast join for the dimension side") {
    val df = SparkEntry.queries("join_windows")(spark, "/root/testdata/sf0.001")
    df.collect() // let AQE finalize
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("column pruning reaches the parquet scan") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = docs.select("doc_id").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"scan not pruned to doc_id:\n$plan")
  }
}
