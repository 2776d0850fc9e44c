package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The audio ALIGNMENT contract, pinned from both sides: the whole-file
  * waveform hash (audioHashes) provably MISSES a planted time-shifted
  * duplicate at any useful radius — the honest limitation its scaladoc
  * documents — while the per-segment tier (audioSegmentHashes +
  * sharedKeyPairs) catches it; the uniform-gain control pairs under
  * both. Plus the multichannel null contract on the shared decoder.
  */
class AudioOffsetSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  // ids 0 / 32 / 64 of the offset fixture: v0 original, v1 uniform
  // gain (+7 per sample), v2 delayed by 256 samples (= 8 windows = one
  // segment hop) with leading silence
  private val fams = Seq(0L, 32L, 64L).toDF("doc_id")
  private def fixture = llm.Multimodal.withSyntheticOffsetWavs(fams, "doc_id")

  test("whole-file hash: gain variant pairs, offset duplicate MISSES " +
      "(the documented alignment fragility)") {
    val h = llm.Multimodal.audioHashes(fixture, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(java.lang.Long.bitCount(h(0L) ^ h(32L)) == 0,
      "uniform gain must not move the whole-file hash")
    val offsetDist = java.lang.Long.bitCount(h(0L) ^ h(64L))
    assert(offsetDist > 3,
      s"the planted offset duplicate must be OUTSIDE the whole-file " +
        s"hash's radius (got hamming $offsetDist) — if this ever pairs, " +
        s"the alignment-contract scaladoc is stale")
    val pairs = llm.TextDedup.hammingHashPairs(
        llm.Multimodal.audioHashes(fixture, "doc_id"), "id", "whash",
        chunkBits = 16, maxHamming = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 32L)) && !pairs.exists(p => p._2 == 64L || p._1 == 64L),
      s"whole-file pairs must catch gain and miss the offset dup, got $pairs")
  }

  test("segment tier: the offset duplicate re-aligns at the hop multiple " +
      "and pairs; gain control pairs; segment hashes match on VALUES") {
    val seg = llm.Multimodal.audioSegmentHashes(fixture, "doc_id")
    val byDoc = seg.as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    // 2048 samples / 32-window / 16-seg-window / hop 8 → 7 segments each
    assert(byDoc.values.forall(_.size == 7))
    // the shift by one hop maps original segment s onto shifted segment s+1
    (0 until 6).foreach { s =>
      assert(byDoc(64L)(s + 1) == byDoc(0L)(s),
        s"shifted segment ${s + 1} must equal original segment $s")
    }
    val pairs = llm.TextDedup.sharedKeyPairs(seg, "id", "shash", minShared = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 64L)), "offset duplicate must pair on segments")
    assert(pairs.contains((0L, 32L)), "gain control must pair on segments")
  }

  test("sub-hop offsets still miss — the segment tier's own documented " +
      "tolerance boundary") {
    // delay by 100 samples (not a multiple of hop×win = 256): every
    // window boundary shifts, no segment value can re-align
    val base = llm.Multimodal.withSyntheticOffsetWavs(
      Seq(0L).toDF("doc_id"), "doc_id", offsetSamples = 256)
    val subHop = llm.Multimodal.withSyntheticOffsetWavs(
        Seq(64L).toDF("doc_id"), "doc_id", offsetSamples = 100)
    val seg = llm.Multimodal.audioSegmentHashes(base.unionByName(subHop), "doc_id")
    val pairs = llm.TextDedup.sharedKeyPairs(seg, "id", "shash", minShared = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!pairs.contains((0L, 64L)),
      "a sub-hop offset is outside the segment tier's contract; if this " +
        "starts pairing, tighten the scaladoc instead of this test")
  }

  test("multichannel null contract: a stereo PCM-16 WAV hashes to null " +
      "in both tiers (never a mixed-channel pseudo-envelope)") {
    val nSamples = 2048
    val pcm = new Array[Byte](nSamples * 2 * 2) // interleaved L/R
    var i = 0
    while (i < nSamples * 2) {
      val s = if (i % 2 == 0) 100 else -100
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val stereo = Seq((7L, bos.toByteArray)).toDF("doc_id", "media")
    val whash = llm.Multimodal.audioHashes(stereo, "doc_id").collect()
    assert(whash.length == 1 && whash(0).isNullAt(1), "stereo whash must be null")
    val seg = llm.Multimodal.audioSegmentHashes(stereo, "doc_id").collect()
    assert(seg.length == 1 && seg(0).isNullAt(1) && seg(0).isNullAt(2),
      "stereo segment hashes must be the single null-marker row")
  }

  test("audioSegmentKeys equals the relational distinct hash sets; " +
      "keySetShardedEdges two-stage equals batch segment dedup; " +
      "chunking-invariant") {
    val ids = (0L until 96L).toDF("doc_id") // 32 families × v0/v1/v2
    def wavs(df: org.apache.spark.sql.DataFrame) =
      llm.Multimodal.withSyntheticOffsetWavs(df, "doc_id")
    // the decode-pass key sets must equal the row-per-segment distincts
    val direct = llm.Multimodal.audioSegmentKeys(wavs(ids), "doc_id")
      .as[(Long, Seq[String])].collect()
      .map { case (id, ks) => id -> ks.toSet }.toMap
    val relational = llm.Multimodal.audioSegmentHashes(wavs(ids), "doc_id")
      .filter(col("shash").isNotNull)
      .select(col("id"), col("shash").cast("string").as("k"))
      .as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((0L until 96L).forall(id =>
        direct(id) == relational.getOrElse(id, Set.empty[String])),
      "decode-pass segment key sets diverged from the relational distincts")
    val bp = llm.TextDedup.sharedKeyPairs(
        llm.Multimodal.audioSegmentHashes(wavs(ids), "doc_id"),
        "id", "shash", minShared = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bp.nonEmpty, "fixture drift: no batch segment pairs")
    streaming.UniqueStreams.withRocksDBStateStore(spark) {
      for (chunk <- Seq(7, 200)) {
        val edges = streaming.Replay.replay(spark, ids, "doc_id", chunk,
          "append")(sdf => streaming.NearDupStream.keySetShardedEdges(
            llm.Multimodal.audioSegmentKeys(wavs(sdf), "doc_id"),
            threshold = 0.0, minShared = 3))
        val es = edges.select("a", "b").as[(Long, Long)].collect().toSet
        assert(es === bp, s"sharded segment edges diverged at chunk $chunk")
      }
      val edges = streaming.Replay.replay(spark, ids, "doc_id", 40,
        "append")(sdf => streaming.NearDupStream.keySetShardedEdges(
          llm.Multimodal.audioSegmentKeys(wavs(sdf), "doc_id"),
          threshold = 0.0, minShared = 3))
        .select("a", "b").as[(Long, Long)].collect()
      val feed = (0L until 96L).map(i => (i, i, i * 2)) ++
        edges.map { case (a, b) => (a, b, math.max(a, b) * 2 + 1) }
      val log = streaming.Replay.replay(spark, feed.toDF("a", "b", "ord"),
        "ord", 50, "update")(sdf => streaming.NearDupStream.unionFindStage(sdf))
      val kept = log.groupBy(col("doc_id"))
        .agg(max_by(col("change"), col("upd_seq")).as("change"))
        .filter(col("change") === "keep")
        .select("doc_id").as[Long].collect().toSet
      val batch = llm.TextDedup.dedupByPairs(ids, "doc_id",
          llm.TextDedup.sharedKeyPairs(
            llm.Multimodal.audioSegmentHashes(wavs(ids), "doc_id"),
            "id", "shash", minShared = 3).select("id_a", "id_b"))
        .select("doc_id").as[Long].collect().toSet
      assert(kept === batch, "sharded segment survivors diverged from batch")
    }
  }
}
