package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The image ALIGNMENT contract, pinned from both sides (the spatial
  * twin of AudioOffsetSpec): whole-image dHash/aHash provably MISS a
  * planted crop/scroll duplicate, the fixed-grid tile tier catches it
  * at hop-multiple offsets and documents its own sub-hop miss; uniform
  * brightness is the control both tiers must catch.
  */
class ImageCropSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  // ids 0 / 32 / 64 of the crop fixture: v0 original view, v1 uniform
  // +4 brightness, v2 the view scrolled 8 px (= one tile, 2 hops) down
  private val fams = Seq(0L, 32L, 64L).toDF("doc_id")
  private def fixture = llm.Multimodal.withSyntheticCropImages(fams, "doc_id")

  test("whole-image hashes: brightness variant pairs, crop duplicate " +
      "MISSES (the alignment fragility the tile tier exists for)") {
    val h = llm.Multimodal.imageHashes(fixture, "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(h(0L)._1 == h(32L)._1 && h(0L)._2 == h(32L)._2,
      "uniform +4 brightness must move neither dHash nor aHash")
    val dDist = java.lang.Long.bitCount(h(0L)._1 ^ h(64L)._1)
    val aDist = java.lang.Long.bitCount(h(0L)._2 ^ h(64L)._2)
    assert(dDist > 3 && aDist > 3,
      s"the crop duplicate must be outside any useful whole-image radius " +
        s"(got dhash $dDist, ahash $aDist) — if this pairs, the tile tier's " +
        s"motivation scaladoc is stale")
  }

  /** Plain-Scala tile reference from the fixture formula. */
  private def refTiles(id: Long): Seq[(Int, Int, Long)] = {
    val base = id % 32 + 1
    val v = (id / 32) % 3
    def luma(x: Int, y: Int): Int = {
      val ys = if (v == 2) y + 8 else y
      val raw = ((base * (x * 7 + ys * 13 + 3)) % 251).toInt
      if (v == 1) raw + 4 else raw
    }
    for (ty <- 0 until 7; tx <- 0 until 7) yield {
      val vals = for (py <- 0 until 8; px <- 0 until 8)
        yield luma(tx * 4 + px, ty * 4 + py)
      val mean = vals.map(_.toLong).sum / 64
      var h = 0L
      vals.zipWithIndex.foreach { case (l, i) => if (l > mean) h |= (1L << i) }
      (tx, ty, h)
    }
  }

  test("imageTileHashes: real decode matches the formula tile-for-tile; " +
      "crop re-aligns at the hop multiple; brightness shifts no tile bit") {
    val got = llm.Multimodal.imageTileHashes(fixture, "doc_id")
      .as[(Long, Int, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3) -> t._4).toMap).toMap
    Seq(0L, 32L, 64L).foreach { id =>
      val want = refTiles(id).map { case (tx, ty, h) => (tx, ty) -> h }.toMap
      assert(got(id) == want, s"doc $id tiles diverged from the formula")
    }
    // brightness: every tile hash identical
    assert(got(0L) == got(32L), "uniform +4 must not move any tile hash")
    // crop by 8 px = 2 hops: tile (tx, ty) of the cropped view equals
    // tile (tx, ty+2) of the original
    for (tx <- 0 until 7; ty <- 0 until 5)
      assert(got(64L)((tx, ty)) == got(0L)((tx, ty + 2)),
        s"cropped tile ($tx, $ty) must equal original ($tx, ${ty + 2})")
  }

  test("tile pairs catch the crop and the brightness control; sub-hop " +
      "crops miss (the tier's own documented tolerance boundary); " +
      "unrelated families never pair") {
    val withOther = llm.Multimodal.withSyntheticCropImages(
      Seq(0L, 32L, 64L, 1L).toDF("doc_id"), "doc_id")
    val pairs = llm.TextDedup.sharedKeyPairs(
        llm.Multimodal.imageTileHashes(withOther, "doc_id"),
        "id", "thash", minShared = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 32L)) && pairs.contains((0L, 64L)),
      s"brightness control and crop duplicate must both pair, got $pairs")
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L),
      "unrelated family must not pair")
    // sub-hop: a 2-px scroll shifts every tile origin off-grid
    val subHop = Seq(0L).toDF("doc_id")
    val base = llm.Multimodal.imageTileHashes(
      llm.Multimodal.withSyntheticCropImages(subHop, "doc_id"), "doc_id")
      .as[(Long, Int, Int, Long)].collect().map(_._4).toSet
    val shifted = {
      // hand-build the 2-px-scrolled view of doc 0 (not a fixture
      // variant — the point is precisely that it is NOT hop-aligned)
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        val raw = (((0 % 32) + 1) * (x * 7 + (y + 2) * 13 + 3) % 251).toInt
        img.setRGB(x, y, (raw << 16) | (raw << 8) | raw)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", bos)
      llm.Multimodal.imageTileHashes(
        Seq((99L, bos.toByteArray)).toDF("doc_id", "media"), "doc_id")
        .as[(Long, Int, Int, Long)].collect().map(_._4).toSet
    }
    // the sub-hop contract is the LOSS OF THE GUARANTEE, not a
    // guaranteed miss: on smooth/linear content a sub-tile shift acts
    // like a uniform luma shift (which aHash absorbs by design), so
    // SOME tiles can still coincide — but strictly fewer than the
    // hop-aligned crop's guaranteed 22 (measured here: 13 of them)
    val hopAligned = (llm.Multimodal.imageTileHashes(
      llm.Multimodal.withSyntheticCropImages(Seq(64L).toDF("doc_id"), "doc_id"),
      "doc_id").as[(Long, Int, Int, Long)].collect().map(_._4).toSet & base).size
    assert((base & shifted).size < hopAligned,
      s"a sub-hop scroll must share strictly fewer tile values than the " +
        s"hop-aligned crop (guarantee vs accident): got ${(base & shifted).size} " +
        s"vs $hopAligned")
  }

  test("tile null contract: undecodable / too-small payloads yield the " +
      "single null-marker row") {
    val rows = Seq(
      (1L, Array[Byte](9, 9, 9)),
      (2L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "media")
    val got = llm.Multimodal.imageTileHashes(rows, "doc_id").collect()
    assert(got.length == 2 && got.forall(r =>
      r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)))
    // a 4×4 image is smaller than one 8×8 tile
    val tiny = {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", bos)
      bos.toByteArray
    }
    val g2 = llm.Multimodal.imageTileHashes(
      Seq((3L, tiny)).toDF("doc_id", "media"), "doc_id").collect()
    assert(g2.length == 1 && g2(0).isNullAt(3))
  }

  test("tilePx is bounded by the 64-bit hash: 9 would wrap the bit shift " +
      "mod 64 and alias tile bits — rejected eagerly") {
    val e = intercept[IllegalArgumentException] {
      llm.Multimodal.imageTileHashes(fixture, "doc_id", tilePx = 9)
    }
    assert(e.getMessage.contains("tilePx"))
    intercept[IllegalArgumentException] {
      llm.Multimodal.imageTileKeys(fixture, "doc_id", tilePx = 9)
    }
  }

  test("imageTileKeys equals the relational distinct tile-hash sets; " +
      "keySetShardedEdges two-stage equals batch crop dedup") {
    val ids = (0L until 96L).toDF("doc_id") // 32 families × v0/v1/v2
    def imgs(df: org.apache.spark.sql.DataFrame) =
      llm.Multimodal.withSyntheticCropImages(df, "doc_id")
    val direct = llm.Multimodal.imageTileKeys(imgs(ids), "doc_id")
      .as[(Long, Seq[String])].collect()
      .map { case (id, ks) => id -> ks.toSet }.toMap
    val relational = llm.Multimodal.imageTileHashes(imgs(ids), "doc_id")
      .filter(col("thash").isNotNull)
      .select(col("id"), col("thash").cast("string").as("k"))
      .as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((0L until 96L).forall(id =>
        direct(id) == relational.getOrElse(id, Set.empty[String])),
      "decode-pass tile key sets diverged from the relational distincts")
    val bp = llm.TextDedup.sharedKeyPairs(
        llm.Multimodal.imageTileHashes(imgs(ids), "doc_id"),
        "id", "thash", minShared = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bp.nonEmpty, "fixture drift: no batch tile pairs")
    val batch = llm.TextDedup.dedupByPairs(ids, "doc_id",
        llm.TextDedup.sharedKeyPairs(
          llm.Multimodal.imageTileHashes(imgs(ids), "doc_id"),
          "id", "thash", minShared = 10).select("id_a", "id_b"))
      .select("doc_id").as[Long].collect().toSet
    streaming.UniqueStreams.withRocksDBStateStore(spark) {
      val edges = streaming.Replay.replay(spark, ids, "doc_id", 40,
        "append")(sdf => streaming.NearDupStream.keySetShardedEdges(
          llm.Multimodal.imageTileKeys(imgs(sdf), "doc_id"),
          threshold = 0.0, minShared = 10))
        .select("a", "b").as[(Long, Long)].collect()
      assert(edges.toSet === bp, "sharded tile edges diverged from batch pairs")
      val feed = (0L until 96L).map(i => (i, i, i * 2)) ++
        edges.map { case (a, b) => (a, b, math.max(a, b) * 2 + 1) }
      val log = streaming.Replay.replay(spark, feed.toDF("a", "b", "ord"),
        "ord", 50, "update")(sdf => streaming.NearDupStream.unionFindStage(sdf))
      val kept = log.groupBy(col("doc_id"))
        .agg(max_by(col("change"), col("upd_seq")).as("change"))
        .filter(col("change") === "keep")
        .select("doc_id").as[Long].collect().toSet
      assert(kept === batch, "sharded tile survivors diverged from batch")
    }
  }
}
