package graft

import TextOracles.{components, curationStagesSql}

/** The DuckDB oracle SQL of the multimodal tier (`llm.Multimodal` over
  * its synthetic image, audio and video fixtures, and the cross-modal
  * curation pipeline), one builder per operator family.
  *
  * This is the only definition of these oracles: the fixed registry rows
  * in `SparkEntry.registry` call the builders at their pinned parameters
  * (pattern width 32, hamming 3 / 2, bucket cap 1000, …), and
  * `tools.SweepVerify` calls them at seeded random draws. Each fixture is
  * generated from doc_id by an integer formula, so every builder
  * re-derives the media from the `documents` table: Spark's real
  * decode→hash path and this arithmetic meet bit-for-bit.
  */
private[graft] object MediaOracles {

  /** OR-fold of 64 hash bits, bit (y*8+x) set iff `cond(x, y)`: a SUM
    * would overflow DuckDB's checked BIGINT when bit 63 participates —
    * and so does `1::BIGINT << 63` itself, hence the INT64_MIN literal
    * for the sign bit.
    */
  private def bits64(cond: (Int, Int) => String): String =
    (for (y <- 0 until 8; x <- 0 until 8) yield {
      val bit = y * 8 + x
      val mask = if (bit == 63) "(-9223372036854775807 - 1)"
                 else s"(1::BIGINT << $bit)"
      s"(CASE WHEN ${cond(x, y)} THEN $mask ELSE 0::BIGINT END)"
    }).mkString(" |\n  ")

  // ---- images over the 9×8 gray-pattern fixture
  // (Multimodal.withSyntheticPatternImages) ----

  /** The pattern luma L(x, y) — generated AT the dHash grid size, so the
    * decode→scale→hash pipeline is exact.
    */
  private def patternLuma(x: Int, y: Int, baseMod: Long): String = {
    val k = x * 7 + y * 13 + 3
    val raw = s"(((doc_id % $baseMod) + 1) * $k) % 251"
    if (x == 2 && y == 3) s"(CASE WHEN (doc_id // $baseMod) % 3 >= 1 THEN 250 - ($raw) ELSE $raw END)"
    else if (x == 5 && y == 1) s"(CASE WHEN (doc_id // $baseMod) % 3 = 2 THEN 250 - ($raw) ELSE $raw END)"
    else s"($raw)"
  }

  /** 64-bit dHash: bit (y*8+x) set iff L(x+1,y) > L(x,y). */
  private def patternDhash(baseMod: Long): String =
    bits64((x, y) => s"${patternLuma(x + 1, y, baseMod)} > ${patternLuma(x, y, baseMod)}")

  def phashSql: String = s"""SELECT doc_id, ${patternDhash(32)} AS dhash FROM documents"""

  /** aHash of the 8×8 pattern: integer mean (sum of the 64 lumas,
    * floor-divided by 64), bit (y*8+x) set iff L(x,y) > mean.
    */
  def ahashSql: String = {
    val lumSum = (for (y <- 0 until 8; x <- 0 until 8)
      yield patternLuma(x, y, 32)).mkString(" +\n  ")
    s"""WITH m AS (SELECT doc_id, ($lumSum) // 64 AS lmean FROM documents)
SELECT doc_id, ${bits64((x, y) => s"${patternLuma(x, y, 32)} > lmean")} AS ahash FROM m"""
  }

  /** The pattern-dhash pair relation (TextDedup.hammingHashPairs,
    * chunkBits=16) as a CTE chain ending in `pairs(id_a, id_b, hamming)`:
    * arithmetic >> then 16-bit mask, bucket count in (1, maxBucket],
    * bit_count(xor) verify.
    */
  def imageHashPairsCtes(maxHamming: Int, maxBucket: Int, baseMod: Long): String =
    s"""h AS (SELECT doc_id, ${patternDhash(baseMod)} AS dhash FROM documents),
       |chp AS (SELECT doc_id, dhash, c AS chunk, (dhash >> (c * 16)) & 65535 AS cv
       |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) t),
       |okp AS (SELECT chunk, cv FROM chp GROUP BY chunk, cv
       |  HAVING count(*) <= $maxBucket AND count(*) > 1),
       |ibp AS (SELECT chp.* FROM chp JOIN okp USING (chunk, cv)),
       |pairs AS (SELECT id_a, id_b, min(hamming) AS hamming FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
       |  FROM ibp a JOIN ibp b ON a.chunk = b.chunk AND a.cv = b.cv
       |    AND a.doc_id < b.doc_id)
       |  WHERE hamming <= $maxHamming GROUP BY id_a, id_b)""".stripMargin

  def imageHashPairsSql(maxHamming: Int, maxBucket: Int, baseMod: Long = 32L): String =
    s"""WITH ${imageHashPairsCtes(maxHamming, maxBucket, baseMod)}
       |SELECT id_a, id_b, hamming FROM pairs""".stripMargin

  /** The 64 pattern lumas per doc as a DOUBLE vector (row-major — the
    * imageLumaFeatures decode path on the identity-resize fixture), the
    * source relation of the image-SemDeDup mirror.
    */
  def patternVectorSql(baseMod: Long): String = {
    val vec = (for (y <- 0 until 8; x <- 0 until 8)
      yield s"CAST(${patternLuma(x, y, baseMod)} AS DOUBLE)").mkString(", ")
    s"SELECT doc_id AS corpus_id, [$vec] AS cv FROM documents"
  }

  /** The cross-modal curation mirror: the image hamming-pair component
    * survivors (min id per component) as the source of the text stages —
    * exact dedup over IMAGE survivors, fuzzy decontamination against the
    * full eval split, cap, pack.
    */
  def mmCurationPipelineSql(mh: Int, bm: Long, shingleN: Int,
                            bands: Int, r: Int, threshold: Double,
                            maxBucket: Int, evalMod: Int, cap: Int,
                            budget: Int): String =
    s"""WITH RECURSIVE ${imageHashPairsCtes(mh, 1000, bm)},
       |${components("pairs", "i")},
       |ikept AS (SELECT * FROM documents
       |  WHERE doc_id NOT IN (SELECT id FROM icc WHERE id <> cluster_id)),
       |${curationStagesSql("ikept", shingleN, bands, r, threshold, maxBucket, evalMod, cap, budget)}""".stripMargin

  // ---- crop-tolerant tiles over the crop fixture
  // (Multimodal.withSyntheticCropImages → imageTileHashes) ----

  /** Crop-fixture luma of tile-local pixel (px, py) over tile-index
    * columns (tx, ty): imageTileHashes' absolute grid (tilePx=8,
    * hopPx=4) gives global x = tx*4+px, y = ty*4+py (+8 source scroll
    * for v=2), raw luma + the v=1 uniform +4.
    */
  private def tileLuma(px: Int, py: Int, bm: Long): String = {
    val k = px * 7 + py * 13 + 3
    val raw = s"((((doc_id % $bm) + 1) * (tx*28 + ty*52 + $k + " +
      s"CASE WHEN (doc_id // $bm) % 3 = 2 THEN 104 ELSE 0 END)) % 251)"
    s"($raw + CASE WHEN (doc_id // $bm) % 3 = 1 THEN 4 ELSE 0 END)"
  }

  /** 7×7 tile grid per doc, integer tile mean (floor of the 64-luma sum),
    * aHash bits; ends with th(doc_id, tile_x, tile_y, thash). Plain
    * concatenation (the OR-folded hash would trip stripMargin).
    */
  private def imageTileCtes(bm: Long): String = {
    val tsum = (for (py <- 0 until 8; px <- 0 until 8)
      yield tileLuma(px, py, bm)).mkString(" + ")
    s"""tg AS (SELECT doc_id, tx, ty FROM documents
  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS tx) a
  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS ty) b),
tm AS (SELECT doc_id, tx, ty, ($tsum) // 64 AS lmean FROM tg),
th AS (SELECT doc_id, CAST(tx AS BIGINT) AS tile_x, CAST(ty AS BIGINT) AS tile_y,
  ${bits64((px, py) => s"${tileLuma(px, py, bm)} > lmean")} AS thash FROM tm)"""
  }

  def imageTileHashSql: String =
    s"""WITH ${imageTileCtes(32)}
SELECT doc_id, tile_x, tile_y, thash FROM th"""

  /** sharedKeyPairs over the tile hashes, ending with tpr(id_a, id_b,
    * shared, n_a, n_b).
    */
  def imageTilePairsCtes(bm: Long, minShared: Int, maxBucket: Int): String =
    s"""${imageTileCtes(bm)},
tkeys AS (SELECT DISTINCT doc_id, thash FROM th),
tnk AS (SELECT doc_id, count(*) AS nk FROM tkeys GROUP BY doc_id),
tok AS (SELECT thash FROM tkeys GROUP BY thash
  HAVING count(*) <= $maxBucket AND count(*) > 1),
tib AS (SELECT tkeys.* FROM tkeys JOIN tok USING (thash)),
tcand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(count(DISTINCT a.thash) AS BIGINT) AS shared
  FROM tib a JOIN tib b ON a.thash = b.thash AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
tpr AS (SELECT id_a, id_b, shared, na.nk AS n_a, nb.nk AS n_b
  FROM tcand JOIN tnk na ON na.doc_id = tcand.id_a
             JOIN tnk nb ON nb.doc_id = tcand.id_b
  WHERE shared >= $minShared)"""

  def imageTilePairsSql(bm: Long, minShared: Int, maxBucket: Int): String =
    s"""WITH ${imageTilePairsCtes(bm, minShared, maxBucket)}
SELECT id_a, id_b, shared, n_a, n_b FROM tpr"""

  // ---- audio over the synthetic WAV fixtures ----

  /** Multimodal.audioHashes over withSyntheticWavs (2048 samples,
    * 32/window): per-(doc, window) integer sample sums from the formula
    * plus the variant bumps, adjacent-window comparisons → 63-bit hash
    * (no sign bit, so a plain SUM of distinct powers is safe). Ends with
    * ah(doc_id, whash).
    */
  private def audioHashCtes(baseMod: Long): String =
    s"""aw AS (
       |  SELECT doc_id, k,
       |    list_sum(list_transform(generate_series(k * 32, k * 32 + 31),
       |      i -> ((((doc_id % $baseMod) + 1) * (i * 7 + 3)) % 251) - 125))
       |    + CASE WHEN ((doc_id // $baseMod) % 3 >= 1 AND k = 5)
       |             OR ((doc_id // $baseMod) % 3 = 2 AND k = 11)
       |           THEN 40 * 32 ELSE 0 END AS s
       |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) t),
       |ah AS (
       |  SELECT a.doc_id,
       |    CAST(sum(CASE WHEN b.s > a.s THEN (1::BIGINT << a.k) ELSE 0::BIGINT END) AS BIGINT) AS whash
       |  FROM aw a JOIN aw b ON b.doc_id = a.doc_id AND b.k = a.k + 1
       |  WHERE a.k < 63 GROUP BY a.doc_id)""".stripMargin

  def audioHashSql: String =
    s"""WITH ${audioHashCtes(32)}
       |SELECT doc_id, whash FROM ah""".stripMargin

  /** hammingHashPairs over the waveform hash, ending in apairs(id_a,
    * id_b, hamming).
    */
  def audioHashPairsCtes(maxHamming: Int, maxBucket: Int, baseMod: Long): String =
    s"""${audioHashCtes(baseMod)},
       |achp AS (SELECT doc_id, whash, c AS chunk, (whash >> (c * 16)) & 65535 AS cv
       |  FROM ah CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) t2),
       |aokp AS (SELECT chunk, cv FROM achp GROUP BY chunk, cv
       |  HAVING count(*) <= $maxBucket AND count(*) > 1),
       |aibp AS (SELECT achp.* FROM achp JOIN aokp USING (chunk, cv)),
       |apairs AS (SELECT id_a, id_b, min(hamming) AS hamming FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.whash, b.whash)) AS INTEGER) AS hamming
       |  FROM aibp a JOIN aibp b ON a.chunk = b.chunk AND a.cv = b.cv
       |    AND a.doc_id < b.doc_id)
       |  WHERE hamming <= $maxHamming GROUP BY id_a, id_b)""".stripMargin

  def audioHashPairsSql(maxHamming: Int, maxBucket: Int, baseMod: Long): String =
    s"""WITH ${audioHashPairsCtes(maxHamming, maxBucket, baseMod)}
       |SELECT id_a, id_b, hamming FROM apairs""".stripMargin

  /** Multimodal.audioSegmentHashes over withSyntheticOffsetWavs (fixed
    * hash geometry 2048 samples / 32-window / 16-seg / hop 8 → 64
    * windows, 7 segments, 15-bit hashes) with the family width and
    * planted offset: per-(doc, window) sums of the variant-adjusted
    * sample formula, per-segment adjacent-window gradient bits. Ends with
    * aseg(doc_id, seg_idx, shash).
    */
  private def audioSegHashCtes(baseMod: Long, offsetSamples: Int): String =
    s"""asg AS (
       |  SELECT doc_id, k,
       |    list_sum(list_transform(generate_series(k * 32, k * 32 + 31), i ->
       |      CASE WHEN (doc_id // $baseMod) % 3 = 2 THEN
       |        CASE WHEN i < $offsetSamples THEN 0
       |             ELSE ((((doc_id % $baseMod) + 1) * ((i - $offsetSamples) * 7 + 3)) % 251) - 125 END
       |      WHEN (doc_id // $baseMod) % 3 = 1 THEN
       |        ((((doc_id % $baseMod) + 1) * (i * 7 + 3)) % 251) - 125 + 7
       |      ELSE ((((doc_id % $baseMod) + 1) * (i * 7 + 3)) % 251) - 125 END)) AS s
       |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) t),
       |aseg AS (
       |  SELECT a.doc_id, CAST(g.seg AS BIGINT) AS seg_idx,
       |    CAST(coalesce(sum(CASE WHEN b.s > a.s THEN (1::BIGINT << g.bit) ELSE 0::BIGINT END),
       |      0) AS BIGINT) AS shash
       |  FROM (SELECT s.seg, b.bit FROM (SELECT unnest(generate_series(0, 6)) AS seg) s
       |        CROSS JOIN (SELECT unnest(generate_series(0, 14)) AS bit) b) g
       |  JOIN asg a ON a.k = g.seg * 8 + g.bit
       |  JOIN asg b ON b.doc_id = a.doc_id AND b.k = g.seg * 8 + g.bit + 1
       |  GROUP BY a.doc_id, g.seg)""".stripMargin

  def audioSegHashSql: String =
    s"""WITH ${audioSegHashCtes(32, 256)}
       |SELECT doc_id, seg_idx, shash FROM aseg""".stripMargin

  /** The distinct (doc, segment-hash) keys, akeys(doc_id, shash). */
  private def audioSegKeysCtes(baseMod: Long, offsetSamples: Int): String =
    s"""${audioSegHashCtes(baseMod, offsetSamples)},
       |akeys AS (SELECT DISTINCT doc_id, shash FROM aseg)""".stripMargin

  /** The SHIFT-TOLERANT segment pair relation (audioSegmentHashes →
    * sharedKeyPairs) with match floor and bucket cap, ending in
    * apr(id_a, id_b, shared, n_a, n_b).
    */
  def audioSegPairsCtes(baseMod: Long, offsetSamples: Int,
                        minShared: Int, maxBucket: Int): String =
    s"""${audioSegKeysCtes(baseMod, offsetSamples)},
       |ank AS (SELECT doc_id, count(*) AS nk FROM akeys GROUP BY doc_id),
       |aok AS (SELECT shash FROM akeys GROUP BY shash
       |  HAVING count(*) <= $maxBucket AND count(*) > 1),
       |aib AS (SELECT akeys.* FROM akeys JOIN aok USING (shash)),
       |acand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(DISTINCT a.shash) AS BIGINT) AS shared
       |  FROM aib a JOIN aib b ON a.shash = b.shash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |apr AS (SELECT id_a, id_b, shared, na.nk AS n_a, nb.nk AS n_b
       |  FROM acand JOIN ank na ON na.doc_id = acand.id_a
       |             JOIN ank nb ON nb.doc_id = acand.id_b
       |  WHERE shared >= $minShared)""".stripMargin

  def audioSegPairsSql(baseMod: Long, offsetSamples: Int,
                       minShared: Int, maxBucket: Int): String =
    s"""WITH ${audioSegPairsCtes(baseMod, offsetSamples, minShared, maxBucket)}
       |SELECT id_a, id_b, shared, n_a, n_b FROM apr""".stripMargin

  /** sharedKeyPairsWithStats' droppedBuckets over the segment hashes: one
    * (bucket = the key value as VARCHAR, size) row per over-cap key.
    */
  def audioSegDroppedSql(baseMod: Long, offsetSamples: Int,
                         maxBucket: Int): String =
    s"""WITH ${audioSegKeysCtes(baseMod, offsetSamples)}
       |SELECT CAST(shash AS VARCHAR) AS bucket, count(*) AS size
       |FROM akeys GROUP BY shash HAVING count(*) > $maxBucket""".stripMargin

  // ---- video over the packed-frame fixture
  // (Multimodal.withSyntheticVideoClips → videoFrameHashes) ----

  /** Multimodal.videoFrameHashes: per-doc frame count nf = base%4+5 minus
    * 1 for the trimmed v=2 variant, container frame f = 0..nf-1
    * rendering source frame fe = f + skip, per-frame dHash of the
    * pattern luma (x, y constants; f, fe columns; pixel (2,3) of frame 0
    * flipped for v=1). Ends with vh(doc_id, frame_idx, fhash).
    */
  private def videoHashCtes(baseMod: Long): String = {
    def lum(x: Int, y: Int): String = {
      val k = x * 7 + y * 13 + 3
      val raw = s"(((doc_id % $baseMod) + 1) * ($k + 29 * fe)) % 251"
      if (x == 2 && y == 3)
        s"(CASE WHEN (doc_id // $baseMod) % 3 = 1 AND f = 0 THEN 250 - ($raw) ELSE ($raw) END)"
      else s"($raw)"
    }
    s"""vdocs AS (SELECT doc_id,
  ((doc_id % $baseMod) + 1) % 4 + 5
    - CASE WHEN (doc_id // $baseMod) % 3 = 2 THEN 1 ELSE 0 END AS nf,
  CASE WHEN (doc_id // $baseMod) % 3 = 2 THEN 1 ELSE 0 END AS skip
  FROM documents),
vfr AS (SELECT doc_id, f, f + skip AS fe
  FROM vdocs, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) t),
vh AS (SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, ${bits64((x, y) => s"${lum(x + 1, y)} > ${lum(x, y)}")} AS fhash FROM vfr)"""
  }

  def videoHashSql: String =
    s"""WITH ${videoHashCtes(32)}
SELECT doc_id, frame_idx, fhash FROM vh"""

  /** TextDedup.frameSequencePairs over the frame hashes: distinct k-frame
    * VARCHAR shingles (BIGINT→VARCHAR matches Long.toString including
    * negatives), bucket count in (1, maxBucket], distinct-shingle Jaccard
    * verify. Ends with vpairs(id_a, id_b, shared, n_a, n_b).
    */
  def videoSeqPairsCtes(baseMod: Long, shingleK: Int,
                        threshold: Double, maxBucket: Int): String = {
    val shJoins = (1 until shingleK).map(j =>
      s"JOIN vh f$j ON f$j.doc_id = f0.doc_id AND f$j.frame_idx = f0.frame_idx + $j")
      .mkString("\n  ")
    val shExpr = (0 until shingleK).map(j => s"CAST(f$j.fhash AS VARCHAR)")
      .mkString(" || ':' || ")
    s"""${videoHashCtes(baseMod)},
vsh AS (SELECT DISTINCT f0.doc_id, $shExpr AS sh
  FROM vh f0
  $shJoins),
vnk AS (SELECT doc_id, count(*) AS nk FROM vsh GROUP BY doc_id),
vok AS (SELECT sh FROM vsh GROUP BY sh HAVING count(*) <= $maxBucket AND count(*) > 1),
vib AS (SELECT vsh.* FROM vsh JOIN vok USING (sh)),
vcand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(count(DISTINCT a.sh) AS BIGINT) AS shared
  FROM vib a JOIN vib b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
vpairs AS (SELECT id_a, id_b, shared, na.nk AS n_a, nb.nk AS n_b
  FROM vcand JOIN vnk na ON na.doc_id = vcand.id_a
             JOIN vnk nb ON nb.doc_id = vcand.id_b
  WHERE shared >= 1
    AND CAST(shared AS DOUBLE) / (na.nk + nb.nk - shared) >= $threshold)"""
  }

  def videoSeqPairsSql(baseMod: Long, shingleK: Int,
                       threshold: Double, maxBucket: Int): String =
    s"""WITH ${videoSeqPairsCtes(baseMod, shingleK, threshold, maxBucket)}
SELECT id_a, id_b, shared, n_a, n_b FROM vpairs"""

  // ---- decode, resize, frames and feature lanes ----

  /** Solid-color resize round-trip: target dims, one color, the color. */
  def resizeSql: String =
    """SELECT doc_id, 16::BIGINT AS out_w, 16::BIGINT AS out_h,
      |  1::BIGINT AS n_colors,
      |  (doc_id % 256)::BIGINT AS r0,
      |  ((doc_id * 7) % 256)::BIGINT AS g0,
      |  ((doc_id * 13) % 256)::BIGINT AS b0
      |FROM documents""".stripMargin

  /** Inclusive stepped frame grid per doc: 0, 7, 14, … ≤ doc_id % 40
    * (list-valued range + unnest — the table-function form rejects
    * lateral column arguments).
    */
  def framesSql: String =
    """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx FROM (
      |  SELECT doc_id, unnest(range(0, (doc_id % 40) + 1, 7)) AS f FROM documents)""".stripMargin

  /** Multimodal.extractFeaturesChecked over media built with
    * mirrorableDims: payload = UTF-8 bytes of text, so n_bytes =
    * strlen(text); lane j sums the code points at 1-based char positions
    * j+1, j+9, ... (unicode(ch)); width = len % 512 + 32 folds into f0,
    * height = (len*7) % 512 + 32 into f1.
    */
  def featuresSql: String = {
    val lanes = (0 until 8).map { j =>
      val extra = j match {
        case 0 => " + (n % 512) + 32"
        case 1 => " + ((n * 7) % 512) + 32"
        case _ => ""
      }
      s"(COALESCE(list_sum(list_transform(generate_series(${j + 1}, n, 8)," +
        s" i -> unicode(text[i]))), 0)$extra)::BIGINT AS f$j"
    }.mkString(",\n  ")
    s"""WITH t AS (SELECT doc_id, text, len(text) AS n FROM documents)
       |SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
       |  $lanes
       |FROM t""".stripMargin
  }
}
