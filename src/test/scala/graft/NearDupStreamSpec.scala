package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.{NearDupStream, Replay, UniqueStreams}

case class Doc(doc_id: Long, text: String)

/** Streaming incremental near-dup dedup vs the batch
  * minhash → LSH → connected-components pipeline: the operator's final
  * survivor set must equal `TextDedup.dedupByPairs` with the same
  * parameters, including the two cases a greedy emit-once dedup gets
  * wrong — transitive chains (a~b, b~c, a≁c) and retroactive merges (a
  * and b unrelated until a later c links both, demoting b).
  *
  * Parameters: bands=16, rowsPerBand=1 — one minhash seed per band makes
  * P(candidate | jaccard j) = 1-(1-j)^16, so the ~0.23-jaccard fixture
  * pairs are found with near-certainty (outcomes are deterministic for
  * fixed texts; asserted against the batch pair relation below).
  */
class NearDupStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val W = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango")
  private def words(from: Int, until: Int): String = W.slice(from, until).mkString(" ")

  private val BANDS = 16
  private val RPB = 1
  private val THR = 0.2

  /** md5Family = false runs the xxhash64 production form. */
  private def runStream(docs: Seq[Doc],
                        md5Family: Boolean = true): org.apache.spark.sql.DataFrame = {
    // transformWithState requires RocksDB
    UniqueStreams.withRocksDBStateStore(spark) {
      // chunkSize=1: one doc per micro-batch — exercises cross-batch state
      Replay.replay(spark, docs.toDF(), "doc_id", 1, "update")(sdf =>
        if (md5Family) NearDupStream.nearDupStreamMd5(sdf, "doc_id", "text",
          bands = BANDS, rowsPerBand = RPB, threshold = THR)
        else NearDupStream.nearDupStream(sdf, "doc_id", "text",
          bands = BANDS, rowsPerBand = RPB, threshold = THR))
        .cache()
    }
  }

  private def batchPairs(docs: Seq[Doc], md5Family: Boolean = true) =
    if (md5Family) llm.TextDedup.minhashPairsMd5(docs.toDF(), "text", "doc_id",
      bands = BANDS, rowsPerBand = RPB, threshold = THR)
    else llm.TextDedup.minhashPairs(docs.toDF(), "text", "doc_id",
      bands = BANDS, rowsPerBand = RPB, threshold = THR)

  private def survivors(log: org.apache.spark.sql.DataFrame): Set[Long] =
    log.groupBy(col("doc_id"))
      .agg(max_by(col("change"), col("upd_seq")).as("change"))
      .filter(col("change") === "keep")
      .select("doc_id").as[Long].collect().toSet

  test("transitive chain: a~b, b~c, a not~ c — c still drops to a's component") {
    val docs = Seq(Doc(1, words(0, 10)), Doc(2, words(5, 15)), Doc(3, words(10, 20)))
    // fixture sanity: the batch pipeline finds exactly the chain pairs
    val bp = batchPairs(docs).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bp === Set((1L, 2L), (2L, 3L)), s"fixture drift: batch pairs $bp")
    val log = runStream(docs)
    assert(survivors(log) === Set(1L))
    val rows = log.select("doc_id", "change", "canonical").as[(Long, String, Long)]
      .collect().toSet
    assert(rows.contains((2L, "drop", 1L)))
    assert(rows.contains((3L, "drop", 1L))) // via 2's component, never paired with 1
  }

  test("retroactive merge: later doc links two kept docs — earlier root is demoted") {
    val docs = Seq(Doc(1, words(0, 10)), Doc(2, words(10, 20)),
      Doc(3, words(0, 8) + " " + words(10, 18)))
    val bp = batchPairs(docs).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bp === Set((1L, 3L), (2L, 3L)), s"fixture drift: batch pairs $bp")
    val log = runStream(docs)
    assert(survivors(log) === Set(1L))
    val ordered = log.orderBy("upd_seq")
      .select("doc_id", "change", "canonical").as[(Long, String, Long)].collect().toSeq
    // 2 was kept at arrival, then RETRACTED when 3 merged the components
    assert(ordered.indexOf((2L, "keep", 2L)) >= 0)
    assert(ordered.indexOf((2L, "drop", 1L)) > ordered.indexOf((2L, "keep", 2L)))
    assert(ordered.last === ((3L, "drop", 1L)))
  }

  test("final state is arrival-order-insensitive (production streams are unordered)") {
    // every candidate pair is discovered at its SECOND member's arrival
    // (the index holds earlier arrivals), so the pair set — and with
    // min-rooted unions, the final forest — is the same for any feed
    // order; only the intermediate verdicts differ (more retractions on
    // adversarial orders). Feed the mixed fixture reversed and shuffled.
    val docs = Seq(
      Doc(1, words(0, 10)), Doc(2, words(5, 15)), Doc(3, words(10, 20)),
      Doc(4, words(0, 8) + " " + words(10, 18)),
      Doc(5, "completely unrelated content here nothing shared with others at all"))
    val expected = survivors(runStream(docs))
    for (perm <- Seq(docs.reverse, Seq(docs(3), docs(0), docs(4), docs(2), docs(1)))) {
      // re-key arrival order via a fresh monotonically increasing feed id,
      // keeping the ORIGINAL doc_id as the operator's id column
      val reordered = perm.zipWithIndex.map { case (dc, i) => (i.toLong, dc.doc_id, dc.text) }
      val log = graft.streaming.UniqueStreams.withRocksDBStateStore(spark) {
        Replay.replay(spark, reordered.toDF("feed_seq", "doc_id", "text"),
          "feed_seq", 1, "update")(sdf =>
          NearDupStream.nearDupStreamMd5(sdf, "doc_id", "text",
            bands = BANDS, rowsPerBand = RPB, threshold = THR))
      }
      assert(survivors(log) === expected, s"order ${perm.map(_.doc_id)} diverged")
    }
  }

  test("streamed survivors equal batch dedupByPairs on a mixed corpus") {
    val docs = Seq(
      Doc(1, words(0, 10)), Doc(2, words(5, 15)), Doc(3, words(10, 20)),
      Doc(4, words(0, 8) + " " + words(10, 18)),
      Doc(5, "completely unrelated content here nothing shared with others at all"),
      Doc(6, "completely unrelated content here nothing shared with anyone at all"),
      Doc(7, ""), // no shingles → always kept, never indexed
      Doc(8, "zz yy"))  // < shingleN tokens → no shingles
    for (md5 <- Seq(true, false)) {
      val batchKept = llm.TextDedup.dedupByPairs(docs.toDF(), "doc_id", batchPairs(docs, md5))
        .select("doc_id").as[Long].collect().toSet
      assert(batchKept.size < docs.size, s"md5Family=$md5: the fixture pairs nothing")
      val log = runStream(docs, md5)
      assert(survivors(log) === batchKept, s"md5Family=$md5")
      // every doc got a verdict, and each doc emits at most keep + one demotion
      val perDoc = log.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
      assert(perDoc.keySet === docs.map(_.doc_id).toSet)
      assert(perDoc.values.forall(_ <= 2))
    }
  }

  private def withRocks[A](body: => A): A =
    UniqueStreams.withRocksDBStateStore(spark)(body)

  test("sharded two-stage path: stage-A edges equal batch pairs, stage-B survivors equal batch") {
    val docs = Seq(
      Doc(1, words(0, 10)), Doc(2, words(5, 15)), Doc(3, words(10, 20)),
      Doc(4, words(0, 8) + " " + words(10, 18)),
      Doc(5, "completely unrelated content here nothing shared with others at all"),
      Doc(6, "completely unrelated content here nothing shared with anyone at all"),
      Doc(7, ""), Doc(8, "zz yy"))
    val bp = batchPairs(docs).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // stage A: band-sharded verified-edge generation (append change log)
    val edges = withRocks {
      Replay.replay(spark, docs.toDF(), "doc_id", 1, "append")(sdf =>
        NearDupStream.shardedEdges(sdf, "doc_id", "text",
          bands = BANDS, rowsPerBand = RPB, threshold = THR, md5Family = true))
        .cache()
    }
    val es = edges.select("a", "b").as[(Long, Long)].collect().toSet
    assert(es === bp, s"sharded edge set $es != batch pair set $bp")
    // stage B: doc markers (each before any edge touching the doc) + edges
    val feed = docs.map(d => (d.doc_id, d.doc_id, d.doc_id * 2)) ++
      es.toSeq.map { case (a, b) => (a, b, math.max(a, b) * 2 + 1) }
    val log = withRocks {
      Replay.replay(spark, feed.toDF("a", "b", "ord"), "ord", 1, "update")(sdf =>
        NearDupStream.unionFindStage(sdf)).cache()
    }
    val batchKept = llm.TextDedup.dedupByPairs(docs.toDF(), "doc_id", batchPairs(docs))
      .select("doc_id").as[Long].collect().toSet
    assert(survivors(log) === batchKept)
    // and the sharded survivors equal the monolith's on the same corpus
    assert(survivors(log) === survivors(runStream(docs)))
  }

  test("bucket saturation is observable: filling arrival emits a telemetry row") {
    // a boilerplate family larger than maxBucket: identical texts share
    // every band bucket, so each of the 16 band buckets fills at the
    // maxBucket-th arrival and later arrivals are no longer indexed
    val cap = 3
    val fam = (1L to 6L).map(i => Doc(i, words(0, 12)))
    val log = UniqueStreams.withRocksDBStateStore(spark) {
      Replay.replay(spark, fam.toDF(), "doc_id", 1, "update")(sdf =>
        NearDupStream.nearDupStreamMd5(sdf, "doc_id", "text",
          bands = BANDS, rowsPerBand = RPB, threshold = THR, maxBucket = cap))
        .cache()
    }
    val sat = log.filter(col("change") === "saturated")
      .select("doc_id", "canonical", "bucket")
      .as[(Long, Long, String)].collect()
    // identical texts → identical band codes → every band saturates once,
    // at the arrival of doc `cap` (the bucket-filling doc), carrying the cap
    // size and a non-null band code; exactly one row per distinct bucket
    assert(sat.nonEmpty)
    assert(sat.forall { case (id, size, bucket) =>
      id == cap.toLong && size == cap.toLong && bucket != null })
    assert(sat.map(_._3).distinct.length === sat.length)
    // telemetry rows never perturb verdicts: every doc still keeps/drops,
    // and the saturated family still collapses to its min id
    assert(survivors(log) === Set(1L))
    val verdicts = log.filter(col("change").isin("keep", "drop"))
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(verdicts.keySet === fam.map(_.doc_id).toSet)
  }

  test("dirty input: null text becomes a shingle-less keep, null id is dropped") {
    val rows = Seq[(java.lang.Long, String)](
      (1L, words(0, 10)),
      (2L, null),                  // null text — must not NPE the processor
      (null, words(0, 10)),        // null id — no identity, dropped pre-state
      (3L, words(0, 10)))
    val log = UniqueStreams.withRocksDBStateStore(spark) {
      Replay.replay(spark,
        rows.toDF("doc_id", "text").withColumn("feed_seq",
          monotonically_increasing_id()),
        "feed_seq", 1, "update")(sdf =>
        NearDupStream.nearDupStreamMd5(sdf, "doc_id", "text",
          bands = BANDS, rowsPerBand = RPB, threshold = THR))
        .cache()
    }
    // null-text doc is kept (never a pair candidate — batch parity),
    // null-id row produced no verdict, and the duplicate pair still folds
    assert(survivors(log) === Set(1L, 2L))
    assert(log.filter(col("doc_id").isNull).count() === 0)
    val r3 = log.filter(col("doc_id") === 3).select("change", "canonical")
      .as[(String, Long)].collect().toSeq
    assert(r3 === Seq(("drop", 1L)))
  }

  test("withIndexCols: one shingle-hash fold per document in a stream's optimized plan; " +
      "sh and codes equal the nested single-column form") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ZipWith}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import llm.TextDedup._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val df = Seq(Doc(1, words(0, 10)), Doc(2, words(5, 15)), Doc(3, ""), Doc(4, "zz yy"),
      Doc(5, words(2, 12))).toDF()
    // a streaming input: the optimizer infers a filter for the sharded
    // stage's explode there, and pushing it down must not inline the chain
    val sdf = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    for ((fam, md5) <- Seq[(HashFamily, Boolean)]((Md5Hash, true), (XxHash, false))) {
      val (n, bands, rows) = (3, 4, 2)
      val ops = Seq(withIndexCols(sdf, "text", n, bands, rows, md5),
        NearDupStream.shardedEdges(sdf, "doc_id", "text", shingleN = n, bands = bands,
          rowsPerBand = rows, md5Family = md5)) ++
        (if (md5) Seq(NearDupStream.nearDupStreamMd5(sdf, "doc_id", "text", shingleN = n,
          bands = bands, rowsPerBand = rows)) else Nil)
      // the batch-only operation check would refuse to optimize a stream
      val check = "spark.sql.streaming.unsupportedOperationCheck"
      val plans = try {
        spark.conf.set(check, "false")
        ops.map(_.queryExecution.optimizedPlan)
      } finally spark.conf.unset(check)
      for (plan <- plans) {
        val exprs = plan.flatMap(_.expressions)
        def count(pf: PartialFunction[Any, Unit]) = exprs.map(_.collect(pf).size).sum
        assert(count { case _: ArrayDistinct => } === 1, s"md5=$md5: shingle set evaluated more than once\n$plan")
        // the md5 shingle hash folds n-1 zip_withs once; xx has a native kernel
        assert(count { case _: ZipWith => } === (if (md5) n - 1 else 0), s"md5=$md5:\n$plan")
      }
      val sh = array_distinct(shingleHashes(tokenize(col("text")), n, fam))
      val sig = minhashFromBaseHashes(sh, bands * rows, fam)
      val empty = array().cast("array<string>")
      val nestedSh = when(size(sh) === 0, empty).otherwise(sh.cast("array<string>"))
      val nestedCodes = when(size(sh) === 0, empty)
        .otherwise(array((0 until bands).map(b => concat(lit(s"$b:"),
          fam.band(slice(sig, b * rows + 1, rows), b).cast("string"))): _*))
      val got = withIndexCols(df, "text", n, bands, rows, md5)
        .select("doc_id", "sh", "codes").as[(Long, Seq[String], Seq[String])].collect().toSet
      val want = df.select(col("doc_id"), nestedSh, nestedCodes)
        .as[(Long, Seq[String], Seq[String])].collect().toSet
      assert(got === want, s"md5=$md5: index columns changed")
      assert(got.count(_._3.isEmpty) === 2, "fixture drift: two shingle-less docs")
    }
  }
}
