package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Perceptual image near-dup tier: dHash/aHash known answers on
  * constructed images, pigeonhole-exact banded pairs vs brute-force
  * hamming, CC dedup vs an in-memory union-find, and the null-payload
  * contract.
  */
class ImageDedupSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  /** Gray 24-bit BMP with L(x,y) = luma(x, y). */
  private def grayBmp(w: Int, h: Int)(luma: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val l = luma(x, y)
      img.setRGB(x, y, (l << 16) | (l << 8) | l)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    bos.toByteArray
  }

  private def hashesOf(rows: Seq[(Long, Array[Byte])]): Map[Long, (Option[Long], Option[Long])] =
    llm.Multimodal.imageHashes(rows.toDF("doc_id", "media"), "doc_id")
      .collect()
      .map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        r.getLong(0) -> ((opt(1), opt(2)))
      }.toMap

  test("imageHashes: dHash/aHash known answers at exact grid size; " +
      "uniform brightness shift preserves dHash; null/undecodable → null") {
    // 9×8 horizontal ramp L = 10x: every horizontal gradient positive →
    // dhash = all 64 bits set (-1L). aHash (8×8 of the same ramp is NOT
    // exact after resampling) — use a separate 8×8 fixture below.
    val ramp = grayBmp(9, 8)((x, _) => 10 * x)
    // brightness-shifted twin: dHash compares NEIGHBORS, so +30 on every
    // pixel leaves all 64 gradient signs (and the hash) unchanged —
    // aHash's mean threshold is also shift-invariant here
    val rampBright = grayBmp(9, 8)((x, _) => 10 * x + 30)
    // 8×8 checkerboard 0/200: mean = 100, bit set on the 200 cells
    val checker = grayBmp(8, 8)((x, y) => if ((x + y) % 2 == 0) 200 else 0)
    val h = hashesOf(Seq(
      (1L, ramp), (2L, rampBright), (3L, checker),
      (4L, null), (5L, "not an image".getBytes)))
    assert(h(1L)._1 === Some(-1L), "ramp dhash must set all 64 bits")
    assert(h(1L)._1 === h(2L)._1, "uniform brightness shift changed dHash")
    val expectedChecker = (for (y <- 0 until 8; x <- 0 until 8
      if (x + y) % 2 == 0) yield 1L << (y * 8 + x)).reduce(_ | _)
    assert(h(3L)._2 === Some(expectedChecker), "checkerboard aHash mismatch")
    assert(h(4L) === ((None, None)), "null payload must yield null hashes")
    assert(h(5L) === ((None, None)), "undecodable payload must yield null hashes")
  }

  test("pattern fixture: hammingHashPairs equals brute-force hamming ≤ 3 " +
      "(pigeonhole recall is exact at radius 3); dedup equals union-find") {
    val ids = (0L until 120L).toDF("doc_id")
    val hashes = llm.Multimodal.imageHashes(
      llm.Multimodal.withSyntheticPatternImages(ids, "doc_id"), "doc_id")
    val hs = hashes.select("id", "dhash").as[(Long, Long)].collect().toMap
    assert(hs.size === 120)
    // same (base, variant) → identical pattern → hamming 0 must pair;
    // fixture drift guard: at least one 0-distance and one 1..3-distance
    val brute = (for {
      (ia, ha) <- hs.toSeq; (ib, hb) <- hs.toSeq if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(brute.exists(_._3 == 0) && brute.exists(_._3 > 0),
      s"fixture drift: want both exact and near regimes, got $brute")
    val got = llm.TextDedup.hammingHashPairs(hashes, "id", "dhash",
        chunkBits = 16, maxHamming = 3, maxBucket = 1000)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === brute,
      "banded pairs diverged from brute-force hamming")
    // dedup vs in-memory union-find over the brute edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    brute.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectSurvivors = (0L until 120L).filter(i => find(i) == i).toSet
    val survivors = llm.TextDedup.dedupByPairs(ids, "doc_id",
        llm.TextDedup.hammingHashPairs(hashes, "id", "dhash",
          chunkBits = 16, maxHamming = 3, maxBucket = 1000)
          .select("id_a", "id_b"))
      .select("doc_id").as[Long].collect().toSet
    assert(survivors === expectSurvivors,
      "image dedup survivors diverged from union-find")
  }

  test("hashShardedEdges two-stage: stage-A edges equal batch pairs, " +
      "stage-B survivors equal batch dedup; chunking-invariant") {
    val ids = (0L until 120L).toDF("doc_id")
    def hashes(df: org.apache.spark.sql.DataFrame) =
      llm.Multimodal.imageHashes(
        llm.Multimodal.withSyntheticPatternImages(df, "doc_id"), "doc_id")
    val bp = llm.TextDedup.hammingHashPairs(hashes(ids), "id", "dhash",
        chunkBits = 16, maxHamming = 3, maxBucket = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bp.nonEmpty, "fixture drift: no batch pairs")
    streaming.UniqueStreams.withRocksDBStateStore(spark) {
      for (chunk <- Seq(7, 200)) {
        val edges = streaming.Replay.replay(spark, ids, "doc_id", chunk,
          "append")(sdf => streaming.NearDupStream.hashShardedEdges(
            hashes(sdf), "id", "dhash", maxHamming = 3))
        val es = edges.select("a", "b").as[(Long, Long)].collect().toSet
        assert(es === bp, s"sharded edges diverged at chunk $chunk")
      }
      // stage B over the stage-A edge set
      val edges = streaming.Replay.replay(spark, ids, "doc_id", 40,
        "append")(sdf => streaming.NearDupStream.hashShardedEdges(
          hashes(sdf), "id", "dhash", maxHamming = 3))
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
          llm.TextDedup.hammingHashPairs(hashes(ids), "id", "dhash",
            chunkBits = 16, maxHamming = 3, maxBucket = 1000)
            .select("id_a", "id_b"))
        .select("doc_id").as[Long].collect().toSet
      assert(kept === batch, "sharded survivors diverged from batch dedup")
    }
  }

  test("imageHashes plan: payload pruned to (id, media); hash pairs " +
      "shuffle ids+hashes only (no binary column past the exchange)") {
    val ids = (0L until 32L).toDF("doc_id")
    val hashes = llm.Multimodal.imageHashes(
      llm.Multimodal.withSyntheticPatternImages(ids, "doc_id"), "doc_id")
    val plan = llm.TextDedup.hammingHashPairs(hashes, "id", "dhash")
      .queryExecution.executedPlan.toString
    val exIdx = plan.indexOf("Exchange")
    assert(exIdx >= 0, s"no exchange in plan:\n$plan")
    assert(!plan.substring(0, exIdx).contains("media#"),
      s"media payload crossed an exchange:\n$plan")
  }

  test("imageLumaFeatures: real decode matches the pattern formula; " +
      "semDedup composition separates the fixture's regimes; null contract") {
    val ids = (0L until 96L).toDF("doc_id")
    val feats = llm.Multimodal.imageLumaFeatures(
        llm.Multimodal.withSyntheticPatternImages(ids, "doc_id",
          gridW = 8, gridH = 8),
        "doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def refLuma(id: Long, x: Int, y: Int): Double = {
      val base = id % 32 + 1
      val v = (id / 32) % 3
      val raw = ((base * (x * 7 + y * 13 + 3)) % 251).toInt
      val l = if (x == 2 && y == 3 && v >= 1) 250 - raw
              else if (x == 5 && y == 1 && v == 2) 250 - raw
              else raw
      l.toDouble
    }
    (0L until 96L).foreach { id =>
      val want = for (y <- 0 until 8; x <- 0 until 8) yield refLuma(id, x, y)
      assert(feats(id) == want, s"doc $id features diverged from the formula")
    }
    // the semantic composition: base families (v0/v1/v2 of one base)
    // collapse toward one survivor each at the regime-splitting eps.
    // Lower bound 32 is exact (cross-family cosine < eps, so families
    // never merge); the upper bound allows SemDeDup's documented
    // cell-confinement approximation — a family whose members land in
    // different Lloyd cells keeps one survivor PER CELL (the ε-scan is
    // within-cell by design; the oracle mirrors the same rule)
    val kept = llm.Similarity.semDedup(
        llm.Multimodal.imageLumaFeatures(
          llm.Multimodal.withSyntheticPatternImages(ids, "doc_id",
            gridW = 8, gridH = 8),
          "doc_id").filter(col("features").isNotNull),
        "id", "features", dim = 64, eps = 0.94, nCells = 8, lloydIters = 1)
      .as[Long].collect().toSet
    assert(kept.size >= 32 && kept.size <= 40,
      s"expected ~one survivor per family (32 families, cell splits " +
        s"allowed), got ${kept.size}")
    // null contract
    val broken = Seq((1L, Array[Byte](1, 2, 3)),
      (2L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "media")
    val nf = llm.Multimodal.imageLumaFeatures(broken, "doc_id").collect()
    assert(nf.forall(_.isNullAt(1)), "undecodable payloads must yield null features")
  }
}
