package graft

import java.sql.Timestamp
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.UniqueStreams

/** Fixed-size approximate first-wins distinct
  * (UniqueStreams.firstStreamBloom): the bounded-state form of the
  * reference's unbounded putIfAbsent map
  * (UniqueFirstWindowProcessor.java:122-134). Contracts verified here:
  * no false negatives ever (an admitted key is never re-admitted, within
  * or across micro-batches), exact parity with the exact operator when
  * the filter is generously sized (deterministic — fixed hash seeds),
  * graceful degradation (false-positive DROPS, never duplicate passes)
  * when deliberately undersized, replay-chunking invariance, and state
  * that stays at one row per shard while the exact operator's grows.
  */
class BloomStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def login(ms: Long, ip: String, seq: Int) = Login(new Timestamp(ms), ip, seq)

  private def startQuery(df: DataFrame, name: String): StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", Files.createTempDirectory(s"ckpt_$name").toString)
      .start()

  test("generously sized filter == exact firstStream, across micro-batches") {
    // 400 rows over 150 keys: batch 1 (rows 0-199) admits every key once
    // and drops 50 in-batch revisits; batch 2 (rows 200-399) is revisits
    // only — cross-micro-batch membership must drop all 200
    val rows = (0 until 400).map(i => login(i, s"ip${i % 150}", i))
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.firstStreamBloom(ms.toDF(), Seq("ip"),
        numShards = 8, bitsPerShard = 1 << 16, seqCol = Some("seq")), "bloom_par")
    ms.addData(rows.take(200): _*)
    q.processAllAvailable()
    ms.addData(rows.drop(200): _*)
    q.processAllAvailable()
    val got = spark.table("bloom_par").select("ip", "seq").as[(String, Int)].collect().toSet
    q.stop()
    val exact = rows.groupBy(_.ip).map { case (ip, rs) => (ip, rs.map(_.seq).min) }.toSet
    assert(got === exact)
    assert(got.size === 150)
  }

  test("no false negatives: an admitted key never passes twice, even undersized") {
    // 1 shard x 128 bits for 300 distinct keys: massively undersized, so
    // false-positive drops are guaranteed — but a duplicate pass never is
    val rows = (0 until 600).map(i => login(i, s"k${i % 300}", i))
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.firstStreamBloom(ms.toDF(), Seq("ip"),
        numShards = 1, bitsPerShard = 128, numHashes = 3, seqCol = Some("seq")), "bloom_tiny")
    rows.grouped(100).foreach { chunk => ms.addData(chunk: _*); q.processAllAvailable() }
    val got = spark.table("bloom_tiny").select("ip").as[String].collect()
    q.stop()
    assert(got.length === got.distinct.length, "a key was admitted twice")
    assert(got.length < 300, "undersized filter should drop some new keys (false positives)")
    assert(got.nonEmpty, "the first key always finds a clear filter")
  }

  test("admitted set is invariant to micro-batch chunking (state carries over)") {
    val rows = (0 until 300).map(i => login(i, s"ip${i % 90}", i))
    def run(name: String, chunks: Int): Set[(String, Int)] = {
      val ms = MemoryStream[Login]
      val q = startQuery(
        UniqueStreams.firstStreamBloom(ms.toDF(), Seq("ip"),
          numShards = 4, bitsPerShard = 1 << 12, seqCol = Some("seq")), name)
      rows.grouped(math.max(rows.size / chunks, 1)).foreach { c =>
        ms.addData(c: _*); q.processAllAvailable()
      }
      val got = spark.table(name).select("ip", "seq").as[(String, Int)].collect().toSet
      q.stop()
      got
    }
    assert(run("bloom_c1", 1) === run("bloom_c6", 6))
  }

  test("false-positive rate tracks the analytic epsilon") {
    // 1 shard, m = 4096 bits, kH = 3 hashes, 1200 distinct keys inserted
    // sequentially: the i-th new key is falsely dropped with
    // p_i = (1 - e^(-kH*i/m))^kH. The run is deterministic (fixed seeds),
    // so the observed count is one sample of the Poisson-binomial — with
    // E ~ 46 the 0.3x..3x band is far wider than its spread and the
    // assertion is stable, while a broken hash layout (e.g. all probes
    // colliding, or probes never set) lands orders of magnitude outside.
    val n = 1200; val m = 4096.0; val kH = 3
    val rows = (0 until n).map(i => login(i, s"uniq$i", i))
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.firstStreamBloom(ms.toDF(), Seq("ip"),
        numShards = 1, bitsPerShard = 4096, numHashes = kH, seqCol = Some("seq")), "bloom_fpr")
    rows.grouped(200).foreach { c => ms.addData(c: _*); q.processAllAvailable() }
    val admitted = spark.table("bloom_fpr").count()
    q.stop()
    val observedFp = n - admitted
    // expected FP under the idealized model, with the inserted count
    // growing only on admissions (~i - expected drops so far; the
    // upper-bound i is fine for the band check)
    val expectedFp = (0 until n).map { i =>
      math.pow(1.0 - math.exp(-kH * i / m), kH)
    }.sum
    assert(observedFp > expectedFp * 0.3 && observedFp < expectedFp * 3.0,
      s"observed $observedFp false drops vs analytic ~${expectedFp.round} — outside the 0.3x-3x band")
  }

  test("deduplicateStreamBloom: drops within interval, readmits after 2x, bank rotation") {
    // interval 1000ms. Key A kept at t=100 (epoch 0): dup at t=900 (same
    // epoch) dropped; revisit at t=1500 (epoch 1, within prev's reach)
    // dropped — the [interval, 2x) gray zone; revisit at t=2500 (epoch 2,
    // bank 0 zeroed) readmitted. Key B only at t=300 and t=4300 (4 epochs
    // apart): readmitted.
    val rows = Seq(
      login(100, "A", 1), login(900, "A", 2), login(300, "B", 3),
      login(1500, "A", 4), login(2500, "A", 5), login(4300, "B", 6))
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.deduplicateStreamBloom(ms.toDF(), Seq("ip"), "ts", 1000L,
        numShards = 2, bitsPerShard = 1 << 14, seqCol = Some("seq")), "bdedup")
    rows.grouped(2).foreach { c => ms.addData(c: _*); q.processAllAvailable() }
    val got = spark.table("bdedup").select("seq").as[Int].collect().toSet
    q.stop()
    assert(got === Set(1, 3, 5, 6))
  }

  test("deduplicateStreamBloom: epoch jumps zero both banks; chunking-invariant") {
    val rows = (0 until 240).map { i =>
      // 3 epochs of 2000ms; 40 keys revisited each epoch; plus a 5-epoch
      // jump at the end that must readmit everything it revisits
      val t = (i / 80) * 2000L + (i % 80) * 20L
      login(t, s"k${i % 40}", i)
    } :+ login(20000L, "k0", 240) :+ login(20010L, "k1", 241)
    def run(name: String, chunk: Int): Set[Int] = {
      val ms = MemoryStream[Login]
      val q = startQuery(
        UniqueStreams.deduplicateStreamBloom(ms.toDF(), Seq("ip"), "ts", 2000L,
          numShards = 4, bitsPerShard = 1 << 14, seqCol = Some("seq")), name)
      rows.grouped(chunk).foreach { c => ms.addData(c: _*); q.processAllAvailable() }
      val got = spark.table(name).select("seq").as[Int].collect().toSet
      q.stop()
      got
    }
    val a = run("bd_c30", 30)
    assert(a === run("bd_c242", 300), "admitted set must not depend on micro-batch chunking")
    // epoch-0 admissions: first occurrence of each of the 40 keys
    assert((0 until 40).forall(a.contains))
    // same-epoch revisits (i in 40..79 are the same 40 keys in epoch 0) dropped
    assert((40 until 80).forall(i => !a.contains(i)))
    // the far-future jump readmits k0/k1 (their banks retired long ago)
    assert(a.contains(240) && a.contains(241))
  }

  test("multi-column keys shard consistently") {
    val rows = (0 until 200).map(i => login(i % 7, s"ip${i % 20}", i))
    val ms = MemoryStream[Login]
    val q = startQuery(
      UniqueStreams.firstStreamBloom(ms.toDF(), Seq("ip", "ts"),
        numShards = 16, bitsPerShard = 1 << 14, seqCol = Some("seq")), "bloom_mk")
    ms.addData(rows: _*)
    q.processAllAvailable()
    val got = spark.table("bloom_mk").select("ip", "ts", "seq")
      .as[(String, Timestamp, Int)].collect()
    q.stop()
    val exact = rows.groupBy(r => (r.ip, r.ts)).map { case (k, rs) => (k._1, k._2, rs.map(_.seq).min) }.toSet
    assert(got.toSet === exact)
    assert(got.length === 7 * 20)
  }

  test("fixed state: firstStreamBloom holds at most numShards state rows " +
      "while exact firstStream holds one per distinct key") {
    // every key distinct, four micro-batches: the regime where the exact
    // operator's state grows one row per event
    val rows = (0 until 800).map(i => login(i, s"u$i", i))
    def stateRowsPerBatch(name: String)(op: DataFrame => DataFrame): Seq[Long] = {
      val ms = MemoryStream[Login]
      val q = startQuery(op(ms.toDF()), name)
      try rows.grouped(200).map { chunk =>
        ms.addData(chunk: _*)
        q.processAllAvailable()
        q.recentProgress.filter(_.numInputRows > 0).last
          .stateOperators.map(_.numRowsTotal).sum
      }.toList
      finally q.stop()
    }
    val bloom = stateRowsPerBatch("bloom_state")(df =>
      UniqueStreams.firstStreamBloom(df, Seq("ip"),
        numShards = 8, bitsPerShard = 1 << 16, seqCol = Some("seq")))
    assert(bloom.forall(r => r >= 1 && r <= 8), s"Bloom state rows per batch: $bloom")
    val exact = stateRowsPerBatch("exact_state")(df =>
      UniqueStreams.firstStream(df, Seq("ip")))
    assert(exact === Seq(200L, 400L, 600L, 800L))
  }
}
