package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Video near-dup tier: the packed-frame container round-trip, per-frame
  * hash known answers vs a plain-Scala re-derivation of the fixture
  * formula, the alignment-free sequence-matching regimes (trimmed clip,
  * one re-encoded frame, unrelated families), and the sharedKeyPairs
  * core's minShared / threshold / bucket-cap semantics.
  */
class VideoDedupSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("packFrames/unpackFrames round-trip; malformed containers → null") {
    val frames = Seq(Array[Byte](1, 2, 3), Array[Byte](), Array[Byte](9))
    val packed = llm.Multimodal.packFrames(frames)
    val back = llm.Multimodal.unpackFrames(packed)
    assert(back.length == 3 &&
      back.zip(frames).forall { case (a, b) => a.sameElements(b) })
    assert(llm.Multimodal.unpackFrames(null) == null)
    // truncated frame body
    assert(llm.Multimodal.unpackFrames(packed.dropRight(1)) == null)
    // trailing garbage shorter than a length prefix
    assert(llm.Multimodal.unpackFrames(packed ++ Array[Byte](0, 0)) == null)
    // negative length prefix
    assert(llm.Multimodal.unpackFrames(Array[Byte](0xFF.toByte, 0, 0, 0)) == null)
  }

  /** Plain-Scala re-derivation of the fixture's per-frame dHash (the
    * independent reference the real decode path must reproduce).
    */
  private def refFrameHashes(id: Long): Seq[Long] = {
    val base = id % 32 + 1
    val v = (id / 32) % 3
    val nf0 = (base % 4 + 5).toInt
    val fStart = if (v == 2) 1 else 0
    (fStart until nf0).map { f =>
      def luma(x: Int, y: Int): Int = {
        val raw = ((base * (x * 7 + y * 13 + 29L * f + 3)) % 251).toInt
        if (v == 1 && f == 0 && x == 2 && y == 3) 250 - raw else raw
      }
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (luma(x + 1, y) > luma(x, y)) h |= (1L << (y * 8 + x))
      h
    }
  }

  test("videoFrameHashes: real decode over the fixture matches the " +
      "formula reference frame-for-frame") {
    val ids = spark.range(0, 120).toDF("doc_id")
    val got = llm.Multimodal.videoFrameHashes(
        llm.Multimodal.withSyntheticVideoClips(ids, "doc_id"), "doc_id")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    (0L until 120L).foreach { id =>
      assert(got(id) == refFrameHashes(id), s"doc $id frame hashes diverged")
    }
  }

  test("videoFrameHashes null contract: unparseable container → one " +
      "(id, null, null) row; an undecodable frame → null hash at its index") {
    val goodFrame = {
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, Array[Byte](1, 2, 3)),                                    // unparseable
      (2L, llm.Multimodal.packFrames(Seq(goodFrame, Array[Byte](0, 1, 2, 3, 4)))),
      (3L, null.asInstanceOf[Array[Byte]]),                          // null payload
      (4L, Array.empty[Byte]))            // EMPTY container: parses to 0 frames
    val got = llm.Multimodal.videoFrameHashes(rows.toDF("doc_id", "media"), "doc_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        !r.isNullAt(2))).toSet
    // the empty container gets the same marker row as an unparseable one —
    // an id must never vanish from the output
    assert(got == Set((1L, None, false), (2L, Some(0), true),
      (2L, Some(1), false), (3L, None, false), (4L, None, false)))
  }

  test("frameSequencePairs regimes: trimmed clip and one-perturbed-frame " +
      "variants pair with the original; unrelated families do not") {
    // one base family (ids 0, 32, 64 → v0 original, v1 one flipped frame,
    // v2 trimmed) plus an unrelated family member (id 1)
    val ids = Seq(0L, 32L, 64L, 1L).toDF("doc_id")
    val pairs = llm.TextDedup.frameSequencePairs(
        llm.Multimodal.videoFrameHashes(
          llm.Multimodal.withSyntheticVideoClips(ids, "doc_id"), "doc_id"),
        "id", "frame_idx", "fhash", shingleK = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 32L)), "one-perturbed-frame variant must pair")
    assert(pairs.contains((0L, 64L)), "trimmed clip must pair (alignment-free)")
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L),
      "unrelated family must not pair")
  }

  test("sharedKeyPairs: minShared and threshold filter; over-cap buckets " +
      "drop; duplicate (id, key) rows collapse to distinct sets") {
    // ids 1/2 share {a, b}; id 3 shares only {a}; key 'z' is a hot bucket
    val rows = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"), (1L, "z"),
      (2L, "a"), (2L, "b"), (2L, "z"),
      (3L, "a"), (3L, "c"), (3L, "z"),
      (4L, "z")).toDF("id", "k")
    val p1 = llm.TextDedup.sharedKeyPairs(rows, "id", "k",
        minShared = 2, threshold = 0.0, maxBucket = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // 'z' bucket has 4 members > maxBucket=3 → dropped; only (1,2) share ≥2
    assert(p1 == Set((2L, 1L, 2L, 3L, 3L)) || p1 == Set((1L, 2L, 2L, 3L, 3L)))
    val p1v = p1.head
    assert((p1v._1 min p1v._2) == 1L && (p1v._1 max p1v._2) == 2L &&
      p1v._3 == 2L, "duplicate (1, a) row must not double-count")
    // threshold: (1,3) share 1 of union 4 → jaccard 0.25
    val p2 = llm.TextDedup.sharedKeyPairs(rows, "id", "k",
        minShared = 1, threshold = 0.3, maxBucket = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p2 == Set((1L, 2L)), s"jaccard 0.25 pair must be filtered, got $p2")
    val p3 = llm.TextDedup.sharedKeyPairs(rows, "id", "k",
        minShared = 1, threshold = 0.2, maxBucket = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p3 == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("sharedKeyPairsWithStats: the dropped-bucket relation names every " +
      "over-cap key with its size; pairs equal the bare form; unpersist " +
      "releases the cached keys") {
    val rows = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"), (1L, "z"),
      (2L, "a"), (2L, "b"), (2L, "z"),
      (3L, "a"), (3L, "c"), (3L, "z"),
      (4L, "z")).toDF("id", "k")
    val pws = llm.TextDedup.sharedKeyPairsWithStats(rows, "id", "k",
      minShared = 2, threshold = 0.0, maxBucket = 3)
    // 'z' is the only over-cap bucket (4 members > 3); the duplicate
    // (1, a) row must not inflate 'a' past the cap
    assert(pws.droppedBuckets.as[(String, Long)].collect().toSet ===
      Set(("z", 4L)), "dropped-bucket telemetry diverged")
    val bare = llm.TextDedup.sharedKeyPairs(rows, "id", "k",
        minShared = 2, threshold = 0.0, maxBucket = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(pws.pairs.as[(Long, Long, Long, Long, Long)].collect().toSet
      === bare, "bare form must equal WithStats.pairs")
    // under the cap nothing drops and the relation is EMPTY (not absent)
    assert(llm.TextDedup.sharedKeyPairsWithStats(rows, "id", "k",
      maxBucket = 10).droppedBuckets.count() === 0L)
    assert(pws.cached.nonEmpty)
    pws.unpersist() // scoped release — must not throw, pairs stay correct
    assert(pws.pairs.count() === 1L)
  }

  test("frameSequencePairs: an orderCol GAP breaks the shingles that span " +
      "it (consecutive means consecutive indices, not row-adjacency)") {
    // clip 1 is missing frame 2 entirely: rows (0,h0) (1,h1) (3,h3) (4,h4).
    // Row-adjacency would shingle h1:h3 across the gap; index semantics
    // must not — so clip 2 = (0,h1) (1,h3) shares NO valid shingle.
    val frames = Seq(
      (1L, 0, 10L), (1L, 1, 11L), (1L, 3, 13L), (1L, 4, 14L),
      (2L, 0, 11L), (2L, 1, 13L),
      // clip 3 duplicates clip 1's VALID tail shingle h3:h4 — the pair
      // that must still form
      (3L, 0, 13L), (3L, 1, 14L)).toDF("id", "frame_idx", "fhash")
    val pairs = llm.TextDedup.frameSequencePairs(frames, "id", "frame_idx",
        "fhash", shingleK = 2, threshold = 0.0, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!pairs.contains((1L, 2L)),
      "gap-spanning shingle h1:h3 must not form")
    assert(pairs.contains((1L, 3L)), "valid shingle h3:h4 must still pair")
    // clip 1's shingle COUNT under the gap rule: h0:h1 and h3:h4 only —
    // visible through n_a of the (1,3) pair
    val n1 = llm.TextDedup.frameSequencePairs(frames, "id", "frame_idx",
        "fhash", shingleK = 2, threshold = 0.0, minShared = 1)
      .filter(col("id_a") === 1L && col("id_b") === 3L)
      .select("n_a").as[Long].head()
    assert(n1 === 2L, s"gapped clip must have 2 valid shingles, got $n1")
  }

  test("videoShingles equals frameSequencePairs' relational shingles; " +
      "videoShardedEdges two-stage equals batch pairs/dedup; " +
      "chunking-invariant") {
    val ids = (0L until 120L).toDF("doc_id")
    def clips(df: org.apache.spark.sql.DataFrame) =
      llm.Multimodal.withSyntheticVideoClips(df, "doc_id")
    // the decode-pass shingle sets must equal the window-relational ones
    val direct = llm.Multimodal.videoShingles(clips(ids), "doc_id")
      .as[(Long, Seq[String])].collect()
      .map { case (id, sh) => id -> sh.toSet }.toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("frame_idx"))
    val relational = llm.Multimodal.videoFrameHashes(clips(ids), "doc_id")
      .select(col("id"), concat(col("fhash").cast("string"), lit(":"),
        lead(col("fhash"), 1).over(w).cast("string")).as("sh"))
      .filter(col("sh").isNotNull)
      .as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((0L until 120L).forall(id => direct(id) == relational(id)),
      "decode-pass shingles diverged from the relational construction")
    val bp = llm.TextDedup.frameSequencePairs(
        llm.Multimodal.videoFrameHashes(clips(ids), "doc_id"),
        "id", "frame_idx", "fhash", shingleK = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bp.nonEmpty, "fixture drift: no batch pairs")
    streaming.UniqueStreams.withRocksDBStateStore(spark) {
      for (chunk <- Seq(7, 200)) {
        val edges = streaming.Replay.replay(spark, ids, "doc_id", chunk,
          "append")(sdf => streaming.NearDupStream.videoShardedEdges(
            clips(sdf), "doc_id", shingleK = 2, threshold = 0.5))
        val es = edges.select("a", "b").as[(Long, Long)].collect().toSet
        assert(es === bp, s"sharded video edges diverged at chunk $chunk")
      }
      val edges = streaming.Replay.replay(spark, ids, "doc_id", 40,
        "append")(sdf => streaming.NearDupStream.videoShardedEdges(
          clips(sdf), "doc_id", shingleK = 2, threshold = 0.5))
        .select("a", "b").as[(Long, Long)].collect()
      val feed = (0L until 120L).map(i => (i, i, i * 2)) ++
        edges.map { case (a, b) => (a, b, math.max(a, b) * 2 + 1) }
      val log = streaming.Replay.replay(spark, feed.toDF("a", "b", "ord"),
        "ord", 50, "update")(sdf => streaming.NearDupStream.unionFindStage(sdf))
      val kept = log.groupBy(col("doc_id"))
        .agg(max_by(col("change"), col("upd_seq")).as("change"))
        .filter(col("change") === "keep")
        .select("doc_id").as[Long].collect().toSet
      val batch = llm.TextDedup.dedupByPairs(ids, "doc_id",
          llm.TextDedup.frameSequencePairs(
            llm.Multimodal.videoFrameHashes(clips(ids), "doc_id"),
            "id", "frame_idx", "fhash", shingleK = 2, threshold = 0.5)
            .select("id_a", "id_b"))
        .select("doc_id").as[Long].collect().toSet
      assert(kept === batch, "sharded video survivors diverged from batch")
    }
  }

  test("video dedup end-to-end: every base family collapses to its min id") {
    val ids = spark.range(0, 96).toDF("doc_id") // 32 families × v0/v1/v2
    val kept = llm.TextDedup.dedupByPairs(ids, "doc_id",
        llm.TextDedup.frameSequencePairs(
          llm.Multimodal.videoFrameHashes(
            llm.Multimodal.withSyntheticVideoClips(ids, "doc_id"), "doc_id"),
          "id", "frame_idx", "fhash", shingleK = 2, threshold = 0.5)
          .select("id_a", "id_b"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == (0L until 32L).toSet,
      s"expected the 32 family minima, got ${kept.toSeq.sorted}")
  }
}
