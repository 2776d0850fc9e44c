package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max_by, min, sum, timestamp_seconds}
import graft.UniqueOracles._
import graft.operators.{UniqueOps, UniqueResult}
import java.nio.file.{Files, Paths}

/** Randomized-parameter DIFFERENTIAL sweep over the 11 unique operators
  * (VERDICT r9 ask #4): the fixed-parameter CORRECTNESS rows pin one
  * parameterization each (WEEK/DAY/H6, n = 40/50/100, user_id), which
  * misses boundary arithmetic — window sizes that don't divide the day,
  * n ∈ {1, 1000}, non-zero `start.time` anchors, multi-column keys
  * (`UniqueExternalTimeBatchWindowProcessor.java:454-458`'s findEndTime
  * modulo is exactly where a fixed suite can't see a bug).
  *
  * For each seeded draw the tool picks an operator family round-robin,
  * draws (keys, window, n, start, variant) from the grids below, runs
  * the engine, writes the result parquet AND a DuckDB oracle SQL
  * GENERATED FROM THE SAME PARAMETERS — the same layout `graft.Verify`
  * produces, so the standard compare closes the loop. The unique-window
  * oracles come from `graft.UniqueOracles`, the one definition the fixed
  * registry rows in `SparkEntry.oracleSql` also call:
  *
  *   sbt "runMain graft.tools.SweepVerify <sfDir> <outDir> <seed> <nDraws>"
  *   python3 tools/check_correctness.py <sfDir> <outDir> --skip-verify
  *
  * Determinism: same (seed, nDraws) → same draws, same names, same SQL.
  */
object SweepVerify {

  private val keyGrid = Seq(
    Seq("user_id"),
    Seq("event_type"),
    Seq("user_id", "event_type"),
    Seq("user_id", "event_type", "value"))

  // deliberately includes non-divisors of the day (59 s, 90 min, 1234.567 s,
  // 99999.999 s) alongside the round units the fixed suite uses
  private val windowGrid = Seq(59000L, 3600000L, 5400000L, 21600000L,
    86400000L, 604800000L, 1234567L, 99999999L)

  private val nGrid = Seq(1, 2, 3, 7, 41, 1000)

  private val startGrid = Seq[Option[Long]](Some(0L), Some(3600000L),
    Some(123456L), None)

  // ---- LLM-tier parameterized oracle builders (VERDICT r9 ask #4
  // extended to the pipeline tier): the fixed CORRECTNESS rows pin one
  // parameterization per operator (shingleN=3, bands=4×2, k=5, minDf=3,
  // …); these regenerate the same DuckDB mirrors from ARBITRARY draw
  // parameters so boundary behavior (n=1 shingles, 1-row bands,
  // hamming=0, tiny bucket caps) gets differential coverage too. ----

  /** md5-family shingle CTEs for any gram size n (mirrors
    * TextDedup.shingleHashes(_, n, Md5Hash): left fold
    * md5(md5(th1||th2)||th3)…, n=1 → the bare token hash).
    */
  private def md5ShingleCtesN(n: Int): String = {
    val fold = (1 until n).foldLeft("th[i]")((acc, j) => s"md5($acc || th[i+$j])")
    s"""tk AS (SELECT doc_id,
       |  list_transform(list_filter(str_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'), x -> x <> ''),
       |    t -> md5(t)) AS th FROM documents),
       |sh0 AS (SELECT doc_id, list_distinct(list_transform(
       |  generate_series(1, greatest(len(th) - ${n - 1}, 0)),
       |  i -> $fold)) AS sh FROM tk),
       |s2 AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0)""".stripMargin
  }

  private def md5JaccardExpr(a: String, b: String): String =
    s"len(list_filter($a, x -> list_contains($b, x)))::DOUBLE" +
      s" / (len($a) + len($b) - len(list_filter($a, x -> list_contains($b, x))))"

  /** Parameterized minhash pair CTE chain ending in mp(id_a, id_b,
    * jaccard) — the docMinhashMd5PairsCtes shape for any draw.
    */
  private def minhashCtes(shingleN: Int, bands: Int, r: Int,
                          threshold: Double, maxBucket: Int): String = {
    val k = bands * r
    val sigItems = (0 until k).map(i =>
      s"list_min(list_transform(sh, h -> md5(h || '#$i')))").mkString(",\n    ")
    val bandCase = (0 until bands).map { b =>
      val parts = (1 to r).map(j => s"sig[${b * r + j}]").mkString(" || '|' || ")
      s"WHEN $b THEN md5($parts || '#$b')"
    }.mkString(" ")
    s"""${md5ShingleCtesN(shingleN)},
       |sig AS (SELECT doc_id, [$sigItems] AS sig FROM s2),
       |banded AS (SELECT doc_id, band, CASE band $bandCase END AS bh
       |  FROM sig CROSS JOIN (SELECT unnest([${(0 until bands).mkString(", ")}]) AS band) b),
       |ok AS (SELECT band, bh FROM banded GROUP BY band, bh
       |  HAVING count(*) <= $maxBucket AND count(*) > 1),
       |ib AS (SELECT banded.* FROM banded JOIN ok USING (band, bh)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ib a JOIN ib b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |j AS (SELECT id_a, id_b, ${md5JaccardExpr("sa.sh", "sb.sh")} AS jaccard
       |  FROM cand JOIN s2 sa ON sa.doc_id = cand.id_a
       |            JOIN s2 sb ON sb.doc_id = cand.id_b),
       |mp AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $threshold)""".stripMargin
  }

  private def minhashPairsSql(shingleN: Int, bands: Int, r: Int,
                              threshold: Double, maxBucket: Int): String =
    s"""WITH ${minhashCtes(shingleN, bands, r, threshold, maxBucket)}
       |SELECT id_a, id_b, jaccard FROM mp""".stripMargin

  /** Parameterized mirror of `TextDedup.editDistancePairsMd5`: CHAR
    * tokens (no lowercasing — the character-level contract), md5 n-gram
    * fold, the minhash band chain, then EXACT integer levenshtein ≤
    * maxDist (DuckDB full distance = Spark's thresholded distance
    * whenever it is within the threshold).
    */
  private def editPairsSql(shingleN: Int, bands: Int, r: Int,
                           maxDist: Int, maxBucket: Int): String = {
    val k = bands * r
    val fold = (1 until shingleN).foldLeft("th[i]")((acc, j) => s"md5($acc || th[i+$j])")
    val sigItems = (0 until k).map(i =>
      s"list_min(list_transform(sh, h -> md5(h || '#$i')))").mkString(",\n    ")
    val bandCase = (0 until bands).map { b =>
      val parts = (1 to r).map(j => s"sig[${b * r + j}]").mkString(" || '|' || ")
      s"WHEN $b THEN md5($parts || '#$b')"
    }.mkString(" ")
    s"""WITH tk AS (SELECT doc_id, text,
       |  list_transform(generate_series(1, length(text)), i -> md5(text[i])) AS th
       |  FROM documents),
       |sh0 AS (SELECT doc_id, text, list_distinct(list_transform(
       |  generate_series(1, greatest(len(th) - ${shingleN - 1}, 0)),
       |  i -> $fold)) AS sh FROM tk),
       |s2 AS (SELECT doc_id, text, sh FROM sh0 WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, [$sigItems] AS sig FROM s2),
       |banded AS (SELECT doc_id, band, CASE band $bandCase END AS bh
       |  FROM sig CROSS JOIN (SELECT unnest([${(0 until bands).mkString(", ")}]) AS band) b),
       |ok AS (SELECT band, bh FROM banded GROUP BY band, bh
       |  HAVING count(*) <= $maxBucket AND count(*) > 1),
       |ib AS (SELECT banded.* FROM banded JOIN ok USING (band, bh)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ib a JOIN ib b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |ep AS (SELECT id_a, id_b, dist FROM (
       |  SELECT id_a, id_b, CAST(levenshtein(ta.text, tb.text) AS INTEGER) AS dist
       |  FROM cand JOIN s2 ta ON ta.doc_id = cand.id_a
       |           JOIN s2 tb ON tb.doc_id = cand.id_b)
       |  WHERE dist <= $maxDist)
       |SELECT id_a, id_b, dist FROM ep""".stripMargin
  }

  /** DuckDB mirror of the perceptual-image near-dup pair relation over
    * the id-derived 9×8 gray-pattern fixture
    * (Multimodal.withSyntheticPatternImages — the fixture is generated
    * AT the dHash grid size, so Spark's real decode→hash meets this
    * pure-integer arithmetic bit-for-bit), with DRAWN hamming radius
    * and bucket cap.
    */
  private def imageHashPairsSql(maxHamming: Int, maxBucket: Int,
                                baseMod: Long = 32L): String =
    s"""WITH ${imageHashPairsCtes(maxHamming, maxBucket, baseMod)}
       |SELECT id_a, id_b, hamming FROM pairs""".stripMargin

  /** The pattern-dhash pair mirror as a reusable CTE chain ending in
    * `pairs(id_a, id_b, hamming)` (shared with the cross-modal
    * curation-pipeline mirror, which prepends it as the image gate).
    */
  private def imageHashPairsCtes(maxHamming: Int, maxBucket: Int,
                                 baseMod: Long): String = {
    def lum(x: Int, y: Int): String = {
      val k = x * 7 + y * 13 + 3
      val raw = s"(((doc_id % $baseMod) + 1) * $k) % 251"
      if (x == 2 && y == 3) s"(CASE WHEN (doc_id // $baseMod) % 3 >= 1 THEN 250 - ($raw) ELSE $raw END)"
      else if (x == 5 && y == 1) s"(CASE WHEN (doc_id // $baseMod) % 3 = 2 THEN 250 - ($raw) ELSE $raw END)"
      else s"($raw)"
    }
    val dhash = (for (y <- 0 until 8; x <- 0 until 8) yield {
      val bit = y * 8 + x
      val mask = if (bit == 63) "(-9223372036854775807 - 1)"
                 else s"(1::BIGINT << $bit)"
      s"(CASE WHEN ${lum(x + 1, y)} > ${lum(x, y)} THEN $mask ELSE 0::BIGINT END)"
    }).mkString(" |\n  ")
    s"""h AS (SELECT doc_id, $dhash AS dhash FROM documents),
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
  }

  /** End-to-end mirror of the CROSS-MODAL curation draw: the drawn
    * image-gate geometry (hamming radius, pattern width) feeding the
    * drawn text-stage chain — exact dedup over IMAGE survivors, fuzzy
    * decontamination against the full eval split, cap, pack.
    */
  private def mmCurationPipelineSql(mh: Int, bm: Long, shingleN: Int,
                                    bands: Int, r: Int, threshold: Double,
                                    maxBucket: Int, evalMod: Int, cap: Int,
                                    budget: Int): String = {
    val cross = crossMinhashCtes(shingleN, bands, r, threshold, maxBucket,
      evalMod, Some("trn AS (SELECT s2.* FROM s2 JOIN dd ON dd.doc_id = s2.doc_id" +
        s" WHERE s2.doc_id % $evalMod <> 0)"))
    s"""WITH RECURSIVE ${imageHashPairsCtes(mh, 1000, bm)},
       |inodes AS (SELECT DISTINCT id FROM (
       |  SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs)),
       |ieg AS (SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
       |ireach AS (
       |  SELECT id, id AS r FROM inodes
       |  UNION
       |  SELECT ieg.a AS id, ireach.r FROM ieg JOIN ireach ON ireach.id = ieg.b),
       |icc AS (SELECT id, min(r) AS cluster_id FROM ireach GROUP BY id),
       |ikept AS (SELECT * FROM documents
       |  WHERE doc_id NOT IN (SELECT id FROM icc WHERE id <> cluster_id)),
       |dd AS (SELECT doc_id, text, source FROM (
       |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |    FROM ikept) WHERE rn = 1),
       |$cross,
       |surv AS (SELECT dd.* FROM dd
       |  WHERE dd.doc_id % $evalMod <> 0 AND dd.doc_id NOT IN (SELECT id_a FROM mp)),
       |capped AS (SELECT doc_id, text, source FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
       |    FROM surv) WHERE rk <= $cap),
       |pt AS (SELECT doc_id, source,
       |  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER) AS n_tok
       |  FROM capped)
       |SELECT doc_id, source, n_tok,
       |  CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) AS tok_offset,
       |  CAST(floor(CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) / $budget) AS BIGINT) AS bin_id
       |FROM pt
       |WINDOW w AS (PARTITION BY source ORDER BY doc_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
  }

  /** DuckDB mirror of the AUDIO waveform-hash pair relation over the
    * synthetic-WAV fixture (Multimodal.withSyntheticWavs, 2048 samples,
    * 32/window), with drawn hamming radius, bucket cap, and pattern-
    * space width.
    */
  private def audioHashPairsSql(maxHamming: Int, maxBucket: Int,
                                baseMod: Long): String =
    s"""WITH aw AS (
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
       |  WHERE a.k < 63 GROUP BY a.doc_id),
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
       |  WHERE hamming <= $maxHamming GROUP BY id_a, id_b)
       |SELECT id_a, id_b, hamming FROM apairs""".stripMargin

  /** DuckDB mirror of the VIDEO sequence near-dup pair relation
    * (Multimodal.withSyntheticVideoClips → videoFrameHashes →
    * TextDedup.frameSequencePairs) with DRAWN clip-family width,
    * shingle length, Jaccard threshold, and bucket cap: per-frame
    * dHash from the pattern formula, k-frame VARCHAR shingles,
    * distinct-shingle overlap verify.
    */
  private def videoSeqPairsSql(baseMod: Long, shingleK: Int,
                               threshold: Double, maxBucket: Int): String = {
    def lum(x: Int, y: Int): String = {
      val k = x * 7 + y * 13 + 3
      val raw = s"(((doc_id % $baseMod) + 1) * ($k + 29 * fe)) % 251"
      if (x == 2 && y == 3)
        s"(CASE WHEN (doc_id // $baseMod) % 3 = 1 AND f = 0 THEN 250 - ($raw) ELSE ($raw) END)"
      else s"($raw)"
    }
    val dhash = (for (y <- 0 until 8; x <- 0 until 8) yield {
      val bit = y * 8 + x
      val mask = if (bit == 63) "(-9223372036854775807 - 1)"
                 else s"(1::BIGINT << $bit)"
      s"(CASE WHEN ${lum(x + 1, y)} > ${lum(x, y)} THEN $mask ELSE 0::BIGINT END)"
    }).mkString(" |\n  ")
    val shJoins = (1 until shingleK).map(j =>
      s"JOIN vh f$j ON f$j.doc_id = f0.doc_id AND f$j.frame_idx = f0.frame_idx + $j")
      .mkString("\n  ")
    val shExpr = (0 until shingleK).map(j => s"CAST(f$j.fhash AS VARCHAR)")
      .mkString(" || ':' || ")
    s"""WITH vdocs AS (SELECT doc_id,
  ((doc_id % $baseMod) + 1) % 4 + 5
    - CASE WHEN (doc_id // $baseMod) % 3 = 2 THEN 1 ELSE 0 END AS nf,
  CASE WHEN (doc_id // $baseMod) % 3 = 2 THEN 1 ELSE 0 END AS skip
  FROM documents),
vfr AS (SELECT doc_id, f, f + skip AS fe
  FROM vdocs, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) t),
vh AS (SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, $dhash AS fhash FROM vfr),
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
    AND CAST(shared AS DOUBLE) / (na.nk + nb.nk - shared) >= $threshold)
SELECT id_a, id_b, shared, n_a, n_b FROM vpairs"""
  }

  /** The asg/aseg/akeys CTE prefix shared by the audio-segment pair and
    * dropped-bucket mirrors (withSyntheticOffsetWavs → audioSegmentHashes;
    * fixed hash geometry 2048 samples / 32-window / 16-seg / hop 8) with
    * DRAWN family width and planted offset.
    */
  private def audioSegKeysCtes(baseMod: Long, offsetSamples: Int): String =
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
       |  GROUP BY a.doc_id, g.seg),
       |akeys AS (SELECT DISTINCT doc_id, shash FROM aseg)""".stripMargin

  /** DuckDB mirror of the SHIFT-TOLERANT audio segment pair relation
    * (audioSegmentHashes → sharedKeyPairs) with DRAWN family width,
    * planted offset, match floor, and bucket cap.
    */
  private def audioSegPairsSql(baseMod: Long, offsetSamples: Int,
                               minShared: Int, maxBucket: Int): String =
    s"""WITH ${audioSegKeysCtes(baseMod, offsetSamples)},
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
       |  WHERE shared >= $minShared)
       |SELECT id_a, id_b, shared, n_a, n_b FROM apr""".stripMargin

  /** DuckDB mirror of sharedKeyPairsWithStats' droppedBuckets over the
    * segment hashes: one (bucket, size) row per over-cap key value.
    */
  private def audioSegDroppedSql(baseMod: Long, offsetSamples: Int,
                                 maxBucket: Int): String =
    s"""WITH ${audioSegKeysCtes(baseMod, offsetSamples)}
       |SELECT CAST(shash AS VARCHAR) AS bucket, count(*) AS size
       |FROM akeys GROUP BY shash HAVING count(*) > $maxBucket""".stripMargin

  /** Parameterized mirror of `TextDedup.editDecontaminateMd5` over the
    * doc_id % 10 train/eval split: the editPairsSql hash construction
    * with BIPARTITE candidates (train × eval sharing a band bucket,
    * combined occupancy ≤ maxBucket, no per-side > 1 floor), exact
    * integer lev ≤ maxDist verify, anti-join on contaminated train ids.
    */
  private def editDecontamSql(shingleN: Int, bands: Int, r: Int,
                              maxDist: Int, maxBucket: Int): String = {
    val k = bands * r
    val fold = (1 until shingleN).foldLeft("th[i]")((acc, j) => s"md5($acc || th[i+$j])")
    val sigItems = (0 until k).map(i =>
      s"list_min(list_transform(sh, h -> md5(h || '#$i')))").mkString(",\n    ")
    val bandCase = (0 until bands).map { b =>
      val parts = (1 to r).map(j => s"sig[${b * r + j}]").mkString(" || '|' || ")
      s"WHEN $b THEN md5($parts || '#$b')"
    }.mkString(" ")
    s"""WITH tk AS (SELECT doc_id, text,
       |  list_transform(generate_series(1, length(text)), i -> md5(text[i])) AS th
       |  FROM documents),
       |sh0 AS (SELECT doc_id, text, list_distinct(list_transform(
       |  generate_series(1, greatest(len(th) - ${shingleN - 1}, 0)),
       |  i -> $fold)) AS sh FROM tk),
       |s2 AS (SELECT doc_id, text, sh FROM sh0 WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, [$sigItems] AS sig FROM s2),
       |banded AS (SELECT doc_id, band, CASE band $bandCase END AS bh
       |  FROM sig CROSS JOIN (SELECT unnest([${(0 until bands).mkString(", ")}]) AS band) b),
       |cnt AS (SELECT band, bh,
       |    count(*) FILTER (WHERE doc_id % 10 <> 0) AS cl,
       |    count(*) FILTER (WHERE doc_id % 10 = 0) AS cr
       |  FROM banded GROUP BY band, bh),
       |ok AS (SELECT band, bh FROM cnt
       |  WHERE cl >= 1 AND cr >= 1 AND cl + cr <= $maxBucket),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN ok ON a.band = ok.band AND a.bh = ok.bh
       |  JOIN banded b ON a.band = b.band AND a.bh = b.bh
       |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
       |ep AS (SELECT id_a FROM (
       |  SELECT id_a, CAST(levenshtein(ta.text, tb.text) AS INTEGER) AS dist
       |  FROM cand JOIN s2 ta ON ta.doc_id = cand.id_a
       |           JOIN s2 tb ON tb.doc_id = cand.id_b)
       |  WHERE dist <= $maxDist)
       |SELECT doc_id FROM documents
       |WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT DISTINCT id_a FROM ep)""".stripMargin
  }

  /** Parameterized mirror of `TextDedup.crossMinhashPairsMd5` over the
    * doc_id % evalMod train/eval split — the fuzzy-decontamination
    * candidate relation with DRAWN geometry: a (band, bucket) is
    * admitted iff both sides appear AND the combined occupancy is
    * ≤ maxBucket; candidates are the bipartite product.
    */
  private def crossMinhashCtes(shingleN: Int, bands: Int, r: Int,
                               threshold: Double, maxBucket: Int,
                               evalMod: Int,
                               trnCte: Option[String] = None): String = {
    val k = bands * r
    val trn = trnCte.getOrElse(
      s"trn AS (SELECT * FROM s2 WHERE doc_id % $evalMod <> 0)")
    val sigItems = (0 until k).map(i =>
      s"list_min(list_transform(sh, h -> md5(h || '#$i')))").mkString(",\n    ")
    val bandCase = (0 until bands).map { b =>
      val parts = (1 to r).map(j => s"sig[${b * r + j}]").mkString(" || '|' || ")
      s"WHEN $b THEN md5($parts || '#$b')"
    }.mkString(" ")
    s"""${md5ShingleCtesN(shingleN)},
       |$trn,
       |evl AS (SELECT * FROM s2 WHERE doc_id % $evalMod = 0),
       |sigT AS (SELECT doc_id, [$sigItems] AS sig FROM trn),
       |sigE AS (SELECT doc_id, [$sigItems] AS sig FROM evl),
       |bT AS (SELECT doc_id, band, CASE band $bandCase END AS bh
       |  FROM sigT CROSS JOIN (SELECT unnest([${(0 until bands).mkString(", ")}]) AS band) b),
       |bE AS (SELECT doc_id, band, CASE band $bandCase END AS bh
       |  FROM sigE CROSS JOIN (SELECT unnest([${(0 until bands).mkString(", ")}]) AS band) b),
       |cnt AS (SELECT ct.band, ct.bh, ct.cl, ce.cr FROM
       |  (SELECT band, bh, count(*) AS cl FROM bT GROUP BY band, bh) ct
       |  JOIN (SELECT band, bh, count(*) AS cr FROM bE GROUP BY band, bh) ce
       |    ON ce.band = ct.band AND ce.bh = ct.bh),
       |okx AS (SELECT band, bh FROM cnt WHERE cl + cr <= $maxBucket),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, e.doc_id AS id_b
       |  FROM bT a JOIN okx USING (band, bh)
       |       JOIN bE e ON e.band = a.band AND e.bh = a.bh),
       |j AS (SELECT id_a, id_b, ${md5JaccardExpr("sa.sh", "sb.sh")} AS jaccard
       |  FROM cand JOIN trn sa ON sa.doc_id = cand.id_a
       |            JOIN evl sb ON sb.doc_id = cand.id_b),
       |mp AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $threshold)""".stripMargin
  }

  private def crossPairsSql(shingleN: Int, bands: Int, r: Int,
                            threshold: Double, maxBucket: Int, evalMod: Int): String =
    s"""WITH ${crossMinhashCtes(shingleN, bands, r, threshold, maxBucket, evalMod)}
       |SELECT id_a, id_b, jaccard FROM mp""".stripMargin

  /** Mirror of `FuzzyDecontamStream.contaminationLogMd5`'s STREAM cap
    * semantics: the bucket cap applies to the STATIC EVAL side only
    * (the stream side's occupancy is unknowable online), so `ok` admits
    * a bucket iff its eval occupancy is ≤ maxBucket — differential
    * coverage for exactly the regime where the batch combined-cap and
    * the stream eval-cap DIVERGE (drawn small caps bind differently).
    */
  private def crossPairsStreamSql(shingleN: Int, bands: Int, r: Int,
                                  threshold: Double, maxBucket: Int,
                                  evalMod: Int): String = {
    val base = crossMinhashCtes(shingleN, bands, r, threshold, maxBucket, evalMod)
    val streamOk =
      s"okx AS (SELECT band, bh FROM bE GROUP BY band, bh HAVING count(*) <= $maxBucket)"
    val batchOk = s"okx AS (SELECT band, bh FROM cnt WHERE cl + cr <= $maxBucket)"
    require(base.contains(batchOk), "crossMinhashCtes drifted from the expected ok CTE")
    s"""WITH ${base.replace(batchOk, streamOk)}
       |SELECT id_a, id_b, jaccard FROM mp""".stripMargin
  }

  private def fuzzyDecontamSql(shingleN: Int, bands: Int, r: Int,
                               threshold: Double, maxBucket: Int, evalMod: Int): String =
    s"""WITH ${crossMinhashCtes(shingleN, bands, r, threshold, maxBucket, evalMod)}
       |SELECT doc_id FROM documents
       |WHERE doc_id % $evalMod <> 0 AND doc_id NOT IN (SELECT id_a FROM mp)""".stripMargin

  /** End-to-end mirror of the drawn curation composition (the
    * doc_curation_pipeline oracle with every stage parameter drawn
    * jointly): exact dedup → cross-pairs with the train side restricted
    * to dedup survivors → anti-join → per-source cap → packSequences
    * window.
    */
  private def curationPipelineSql(shingleN: Int, bands: Int, r: Int,
                                  threshold: Double, maxBucket: Int,
                                  evalMod: Int, cap: Int, budget: Int): String = {
    val cross = crossMinhashCtes(shingleN, bands, r, threshold, maxBucket,
      evalMod, Some("trn AS (SELECT s2.* FROM s2 JOIN dd ON dd.doc_id = s2.doc_id" +
        s" WHERE s2.doc_id % $evalMod <> 0)"))
    s"""WITH dd AS (SELECT doc_id, text, source FROM (
       |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |$cross,
       |surv AS (SELECT dd.* FROM dd
       |  WHERE dd.doc_id % $evalMod <> 0 AND dd.doc_id NOT IN (SELECT id_a FROM mp)),
       |capped AS (SELECT doc_id, text, source FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
       |    FROM surv) WHERE rk <= $cap),
       |pt AS (SELECT doc_id, source,
       |  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER) AS n_tok
       |  FROM capped)
       |SELECT doc_id, source, n_tok,
       |  CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) AS tok_offset,
       |  CAST(floor(CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) / $budget) AS BIGINT) AS bin_id
       |FROM pt
       |WINDOW w AS (PARTITION BY source ORDER BY doc_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
  }

  /** Recursive closure over mp → cc(id, cluster_id). */
  private def clusterTail: String =
    s"""nodes AS (SELECT DISTINCT id FROM (
       |  SELECT id_a AS id FROM mp UNION ALL SELECT id_b AS id FROM mp)),
       |eg AS (SELECT id_a AS a, id_b AS b FROM mp
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM mp),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT eg.a AS id, reach.r FROM eg JOIN reach ON reach.id = eg.b),
       |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  private def clustersSql(shingleN: Int, bands: Int, r: Int,
                          threshold: Double, maxBucket: Int): String =
    s"""WITH RECURSIVE ${minhashCtes(shingleN, bands, r, threshold, maxBucket)},
       |$clusterTail
       |SELECT id AS doc_id, cluster_id FROM cc""".stripMargin

  private def dedupIdsSql(shingleN: Int, bands: Int, r: Int,
                          threshold: Double, maxBucket: Int): String =
    s"""WITH RECURSIVE ${minhashCtes(shingleN, bands, r, threshold, maxBucket)},
       |$clusterTail
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)""".stripMargin

  private def ngramPairsSql(shingleN: Int, threshold: Double, maxBucket: Int): String =
    s"""WITH ${md5ShingleCtesN(shingleN)},
       |blk AS (SELECT doc_id, sh, list_min(sh) AS block FROM s2),
       |ok AS (SELECT block FROM blk GROUP BY block
       |  HAVING count(*) <= $maxBucket AND count(*) > 1),
       |ib AS (SELECT blk.* FROM blk JOIN ok USING (block)),
       |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ${md5JaccardExpr("a.sh", "b.sh")} AS jaccard
       |  FROM ib a JOIN ib b ON a.block = b.block AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $threshold""".stripMargin

  /** simhashPairsMd5 mirror for any (maxHamming ≤ 3, maxBucket): the 60-bit
    * md5 simhash and 4×15-bit chunk buckets are structural (pigeonhole-
    * complete for hamming ≤ 3); only the verify threshold and cap move.
    */
  private def simhashPairsSql(maxHamming: Int, maxBucket: Int): String = {
    val sums = (0 until 60).map(b => s"sum((hv >> $b) & 1)::BIGINT AS c$b").mkString(", ")
    val terms = (0 until 60).map(b =>
      s"CASE WHEN 2*c$b > n THEN (1::BIGINT << $b) ELSE 0::BIGINT END").mkString("\n  + ")
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(str_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'), x -> x <> '') AS toks
       |  FROM documents),
       |u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       |m AS (SELECT doc_id, md5(tok) AS mh FROM u),
       |h AS (SELECT doc_id, list_sum(list_transform(generate_series(1, 15),
       |    i -> (strpos('0123456789abcdef', substr(mh, i, 1)) - 1)::BIGINT * (1::BIGINT << (4*(15-i)))))::BIGINT AS hv
       |  FROM m),
       |cc AS (SELECT doc_id, count(*)::BIGINT AS n, $sums FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, $terms AS sim FROM cc),
       |ch AS (SELECT doc_id, sim, c, (sim >> (c * 15)) & ${(1L << 15) - 1} AS cv
       |  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c)),
       |ok AS (SELECT c, cv FROM ch GROUP BY c, cv
       |  HAVING count(*) <= $maxBucket AND count(*) > 1),
       |ib AS (SELECT ch.* FROM ch JOIN ok USING (c, cv)),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hd
       |  FROM ib a JOIN ib b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(min(hd) AS INTEGER) AS hamming
       |FROM p WHERE hd <= $maxHamming GROUP BY id_a, id_b""".stripMargin
  }

  private def dupSpansSql(k: Int, minCount: Int): String =
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(str_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, i, array_to_string(toks[i:i+${k - 1}], ' ') AS gram
       |      FROM t, unnest(generate_series(1, greatest(len(toks) - ${k - 1}, 0))) AS u(i)),
       |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= $minCount),
       |h AS (SELECT doc_id, i - 1 AS s, i + ${k - 2} AS e FROM g
       |      WHERE gram IN (SELECT gram FROM dup)),
       |m AS (SELECT doc_id, s, e,
       |        CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
       |      FROM h),
       |isl AS (SELECT doc_id, s, e, sum(brk) OVER (PARTITION BY doc_id ORDER BY s
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m)
       |SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
       |  max(e) - min(s) + 1 AS span_tokens
       |FROM isl GROUP BY doc_id, island""".stripMargin

  private def spanRemovalSql(k: Int, minCount: Int): String =
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(str_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, i, array_to_string(toks[i:i+${k - 1}], ' ') AS gram
       |      FROM t, unnest(generate_series(1, greatest(len(toks) - ${k - 1}, 0))) AS u(i)),
       |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= $minCount),
       |h AS (SELECT doc_id, i - 1 AS s, i + ${k - 2} AS e FROM g
       |      WHERE gram IN (SELECT gram FROM dup)),
       |m AS (SELECT doc_id, s, e,
       |        CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
       |      FROM h),
       |isl AS (SELECT doc_id, s, e, sum(brk) OVER (PARTITION BY doc_id ORDER BY s
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m),
       |sp AS (SELECT doc_id, min(s) AS ss, max(e) AS ee FROM isl GROUP BY doc_id, island),
       |cov AS (SELECT DISTINCT doc_id, p FROM sp, unnest(generate_series(ss, ee)) AS v(p)),
       |tok AS (SELECT doc_id, j, toks[j] AS w FROM t, unnest(generate_series(1, len(toks))) AS u(j)),
       |kept AS (SELECT tok.doc_id, j, w FROM tok LEFT JOIN cov
       |           ON tok.doc_id = cov.doc_id AND tok.j - 1 = cov.p WHERE cov.p IS NULL),
       |ktxt AS (SELECT doc_id, string_agg(w, ' ' ORDER BY j) AS clean_text FROM kept GROUP BY doc_id),
       |ndup AS (SELECT doc_id, count(*) AS n_dup_tokens FROM cov GROUP BY doc_id)
       |SELECT t.doc_id, len(t.toks) AS n_tokens,
       |  coalesce(ndup.n_dup_tokens, 0) AS n_dup_tokens,
       |  coalesce(ktxt.clean_text, '') AS clean_text
       |FROM t LEFT JOIN ndup ON t.doc_id = ndup.doc_id
       |       LEFT JOIN ktxt ON t.doc_id = ktxt.doc_id""".stripMargin

  /** The withSyntheticLines framing (header rotation + shared footer) as
    * CTEs ending in l(doc_id, j, line) / s(doc_id, ls) — shared by the
    * dup-lines and line-dedup mirrors.
    */
  private def syntheticLineCtes: String =
    """t AS (SELECT doc_id,
      |  list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |p AS (SELECT doc_id,
      |  (['subscribe to our newsletter today', 'click here to read more',
      |    'copyright acme corporation', 'share this article on social media'])[CAST(doc_id % 4 + 1 AS INT)]
      |  || chr(10) ||
      |  array_to_string(list_transform(
      |    generate_series(1, greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1)),
      |    i -> array_to_string(toks[(i-1)*10+1:(i-1)*10+10], ' ')), chr(10))
      |  || chr(10) || 'all rights reserved' AS lines_text
      |  FROM t),
      |s AS (SELECT doc_id, str_split(lines_text, chr(10)) AS ls FROM p),
      |l AS (SELECT doc_id, j, ls[j] AS line FROM s, unnest(generate_series(1, len(ls))) AS u(j))""".stripMargin

  // the CTE block is concatenated OUTSIDE the margin template: its body
  // contains lines starting with '||' (string concat), which a second
  // stripMargin pass would mangle into single pipes
  private def dupLinesSql(minDf: Int): String =
    s"WITH $syntheticLineCtes,\n" +
      s"""dup AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= $minDf)
         |SELECT doc_id, j - 1 AS pos FROM l WHERE line IN (SELECT line FROM dup)""".stripMargin

  private def lineDedupSql(minDf: Int): String =
    s"WITH $syntheticLineCtes,\n" +
      s"""dup AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= $minDf),
         |dr AS (SELECT doc_id, count(*) AS n_dropped FROM l
         |       WHERE line IN (SELECT line FROM dup) GROUP BY doc_id),
         |kt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY j) AS clean_text FROM l
         |       WHERE line NOT IN (SELECT line FROM dup) GROUP BY doc_id)
         |SELECT s.doc_id, len(s.ls) AS n_lines, coalesce(dr.n_dropped, 0) AS n_dropped,
         |  coalesce(kt.clean_text, '') AS clean_text
         |FROM s LEFT JOIN dr ON s.doc_id = dr.doc_id
         |       LEFT JOIN kt ON s.doc_id = kt.doc_id""".stripMargin

  private def decontamSql(n: Int, evalMod: Long): String =
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(str_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(len(toks) - ${n - 1}, 0)),
       |    i -> array_to_string(toks[i:i+${n - 1}], ' ')))) AS gram FROM t),
       |e AS (SELECT DISTINCT gram, doc_id AS eval_id FROM g WHERE doc_id % $evalMod = 0),
       |h AS (SELECT g.doc_id,
       |    count(DISTINCT g.gram) AS n_hit_grams,
       |    count(DISTINCT e.eval_id) AS n_eval_docs
       |  FROM g JOIN e USING (gram) WHERE g.doc_id % $evalMod <> 0 GROUP BY g.doc_id)
       |SELECT d.doc_id,
       |  coalesce(n_hit_grams, 0) AS n_hit_grams,
       |  coalesce(n_eval_docs, 0) AS n_eval_docs,
       |  coalesce(n_hit_grams, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
       |WHERE d.doc_id % $evalMod <> 0""".stripMargin

  private def boilerplateSql(n: Int, minDf: Int): String =
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(str_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(list_transform(
       |    generate_series(1, greatest(len(toks) - ${n - 1}, 0)),
       |    i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS gram FROM t)
       |SELECT gram, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_cnt
       |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= $minDf""".stripMargin

  private def packSql(budget: Int): String =
    s"""WITH t AS (SELECT doc_id, source,
       |  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER) AS n_tok
       |  FROM documents)
       |SELECT doc_id, source, n_tok,
       |  CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) AS tok_offset,
       |  CAST(floor(CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) / $budget) AS BIGINT) AS bin_id
       |FROM t
       |WINDOW w AS (PARTITION BY source ORDER BY doc_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin

  private def sampleSql(enPrefix: String, defPrefix: String): String =
    s"""SELECT doc_id, text, lang, source, n_chars FROM documents
       |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 4) <
       |  CASE WHEN lang = 'en' THEN '$enPrefix' ELSE '$defPrefix' END""".stripMargin

  private def exactDedupIdsSql(cols: Seq[String]): String =
    s"SELECT min(doc_id) AS doc_id FROM documents GROUP BY ${cols.mkString(", ")}"

  /** embeddingNearDupPairs mirror for any (threshold, groups,
    * planesPerGroup): the plane constants are regenerated from the SAME
    * seeded generator the engine uses and embedded verbatim.
    */
  private def embPairsSql(threshold: Double, groups: Int, ppg: Int): String = {
    val ps = graft.llm.Similarity.planes(groups * ppg, 64)
    def codeExpr(g: Int): String = (0 until ppg).map { i =>
      val arr = ps(g * ppg + i).map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"""CASE WHEN list_reduce(list_transform(list_zip(v, $arr::DOUBLE[]),
         |    z -> CAST(z[1] AS DOUBLE) * z[2]), (x, y) -> x + y) >= 0
         |  THEN ${1L << i}::BIGINT ELSE 0::BIGINT END""".stripMargin
    }.mkString("\n + ")
    val codeCase = (0 until groups).map(g => s"WHEN $g THEN ${codeExpr(g)}").mkString("\n  ")
    val cos =
      """list_sum(list_transform(list_zip(pa.v, pb.v), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(pa.v, x -> CAST(x AS DOUBLE) * x)))
        |       * sqrt(list_sum(list_transform(pb.v, x -> CAST(x AS DOUBLE) * x))))""".stripMargin
    s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |b AS (SELECT id, band, CASE band $codeCase END AS code
       |  FROM e CROSS JOIN (SELECT unnest([${(0 until groups).mkString(", ")}]) AS band) g),
       |ok AS (SELECT band, code FROM b GROUP BY band, code
       |  HAVING count(*) <= 1000 AND count(*) > 1),
       |ib AS (SELECT b.* FROM b JOIN ok USING (band, code)),
       |cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
       |  FROM ib a JOIN ib b2 ON a.band = b2.band AND a.code = b2.code AND a.id < b2.id),
       |s AS (SELECT id_a, id_b, $cos AS cos
       |  FROM cand JOIN e pa ON pa.id = cand.id_a JOIN e pb ON pb.id = cand.id_b)
       |SELECT id_a, id_b FROM s WHERE cos >= $threshold""".stripMargin
  }

  /** pqTopK mirror for any (nSub, codesPerSub, k, refine) at dim=64:
    * the anchor codebook is derived IN SQL exactly as the engine builds
    * it (subspace slices of the codesPerSub lowest-vec_id rows); encode
    * = per-subspace argmin squared L2 (ties to the smallest code), ADC
    * score = left-fold lut/norm sums in m order — bit-matching
    * PqEncode/PqLut/PqScore. refine > 0 appends the exact-cosine
    * re-rank of the top-refine ADC candidates (the two-stage path).
    */
  /** CTE chain deriving the (anchor or Lloyd-trained) PQ codebook as
    * `cbn(m, j, cent, n2)` — `Similarity.trainedCodebook`'s mirror with
    * unrolled per-subspace Lloyd passes on the sampleN lowest-id rows
    * (quantized-mean determinism — see the SparkEntry mirror for the
    * derivation). Shared by the pq AND ivfpq sweep mirrors, so drawn
    * `lloydIters` sweeps the trained-codebook path in both compositions.
    */
  private def codebookCtes(nSub: Int, cps: Int, lloydIters: Int,
                           sampleN: Int = 512): String = {
    val subDim = 64 / nSub
    def sl(v: String) = s"$v[m*$subDim+1 : m*$subDim+$subDim]"
    def sle(v: String) = s"$v[g.m*$subDim+1 : g.m*$subDim+$subDim]"
    val train = (0 until lloydIters).map { i =>
      val prev = if (i == 0) "cb0" else s"cb$i"
      s"""sd$i AS (SELECT s.vec_id, p.m, p.j,
         |    list_reduce(list_transform(list_zip(s.embedding[p.m*$subDim+1 : p.m*$subDim+$subDim], p.cent),
         |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
         |      (x, y) -> x + y) AS d
         |  FROM samp s CROSS JOIN $prev p),
         |sasg$i AS (SELECT vec_id, m, j FROM (
         |  SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, j) AS rn
         |  FROM sd$i) WHERE rn = 1),
         |supd$i AS (SELECT m, j, pos,
         |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
         |      / (count(*) * 1048576.0) AS mean
         |  FROM (SELECT g.m, g.j,
         |      generate_subscripts(${sle("s.embedding")}, 1) AS pos,
         |      unnest(${sle("s.embedding")}) AS x
         |    FROM sasg$i g JOIN samp s USING (vec_id))
         |  GROUP BY m, j, pos),
         |cbu$i AS (SELECT m, j, list(mean ORDER BY pos) AS cent FROM supd$i GROUP BY m, j),
         |cb${i + 1} AS (SELECT p.m, p.j, coalesce(u.cent, p.cent) AS cent
         |  FROM $prev p LEFT JOIN cbu$i u ON u.m = p.m AND u.j = p.j),""".stripMargin
    }.mkString("\n")
    val sampCte =
      if (lloydIters > 0)
        s"\nsamp AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $sampleN),"
      else ""
    s"""a0 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $cps),
       |a AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j, embedding AS av FROM a0),
       |cb0 AS (SELECT m, j, ${sl("av")} AS cent
       |  FROM a CROSS JOIN (SELECT unnest(generate_series(0, ${nSub - 1})) AS m)),$sampCte
       |$train
       |cbn AS (SELECT m, j, cent,
       |    list_reduce(list_transform(cent, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y) AS n2
       |  FROM cb$lloydIters)""".stripMargin
  }

  private def embPqSql(nSub: Int, cps: Int, k: Int, refine: Int,
                       lloydIters: Int = 0, sampleN: Int = 512): String = {
    val subDim = 64 / nSub
    def sl(v: String) = s"$v[m*$subDim+1 : m*$subDim+$subDim]"
    val core =
      s"""${codebookCtes(nSub, cps, lloydIters, sampleN)},
         |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
         |enc0 AS (SELECT corpus_id, m, j,
         |    list_reduce(list_transform(list_zip(${sl("cv")}, cent),
         |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
         |      (x, y) -> x + y) AS d
         |  FROM c CROSS JOIN cbn),
         |codes AS (SELECT corpus_id, m, j AS code FROM (
         |  SELECT corpus_id, m, j, row_number() OVER (PARTITION BY corpus_id, m ORDER BY d ASC, j) AS rn
         |  FROM enc0) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
         |qn AS (SELECT query_id,
         |    sqrt(list_reduce(list_transform(qv, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y)) AS qn
         |  FROM q),
         |lut AS (SELECT query_id, m, j,
         |    list_reduce(list_transform(list_zip(${sl("qv")}, cent),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (x, y) -> x + y) AS dot,
         |    n2
         |  FROM q CROSS JOIN cbn),
         |s0 AS (SELECT query_id, corpus_id,
         |    list_reduce(list(dot ORDER BY lut.m), (x, y) -> x + y) AS adc,
         |    list_reduce(list(n2 ORDER BY lut.m), (x, y) -> x + y) AS cn2
         |  FROM codes JOIN lut ON lut.m = codes.m AND lut.j = codes.code
         |  GROUP BY query_id, corpus_id),
         |s AS (SELECT s0.query_id, corpus_id,
         |    (CASE WHEN cn2 = 0 THEN 0.0 ELSE adc / sqrt(cn2) END) / qn.qn AS sim
         |  FROM s0 JOIN qn ON qn.query_id = s0.query_id
         |  WHERE corpus_id <> s0.query_id)""".stripMargin
    if (refine <= 0)
      s"""WITH $core
         |SELECT query_id, corpus_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
         |FROM s QUALIFY rank <= $k""".stripMargin
    else {
      val cos =
        """list_reduce(list_transform(list_zip(q.qv, c.cv), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (x, y) -> x + y)
          |      / (sqrt(list_reduce(list_transform(q.qv, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y))
          |         * sqrt(list_reduce(list_transform(c.cv, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y)))""".stripMargin
      s"""WITH $core,
         |cand AS (SELECT query_id, corpus_id FROM (
         |  SELECT query_id, corpus_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS arank
         |  FROM s) WHERE arank <= $refine),
         |rr AS (SELECT cand.query_id, cand.corpus_id, $cos AS rsim
         |  FROM cand JOIN q ON q.query_id = cand.query_id
         |            JOIN c ON c.corpus_id = cand.corpus_id)
         |SELECT query_id, corpus_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rsim DESC, corpus_id) AS INTEGER) AS rank
         |FROM rr QUALIFY rank <= $k""".stripMargin
    }
  }

  private def duckCos(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * x)))
       |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * x))))""".stripMargin

  /** Parametrized mirror of CorpusOps.lmPerplexity's integer sufficient
    * statistics: train = documents with doc_id % mod <> 0 (the drawn
    * held-out split), score = every document. Same CTE shapes as the
    * fixed doc_lm_ppl oracle.
    */
  private def docLmPplSql(mod: Int): String = {
    val tok = """list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '')"""
    s"""WITH tt AS (SELECT $tok AS toks FROM documents WHERE doc_id % $mod <> 0),
       |t AS (SELECT doc_id, $tok AS toks FROM documents),
       |uni AS (SELECT tok, count(*) AS c1
       |  FROM (SELECT unnest(toks) AS tok FROM tt) GROUP BY tok),
       |tbg AS (SELECT list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
       |    i -> array_to_string(toks[i:i+1], ' ')) AS grams FROM tt),
       |bi AS (SELECT gr, count(*) AS c12
       |  FROM (SELECT unnest(grams) AS gr FROM tbg) GROUP BY gr),
       |bg AS (SELECT doc_id, toks,
       |  list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
       |    i -> array_to_string(toks[i:i+1], ' ')) AS grams
       |  FROM t),
       |db AS (SELECT doc_id, gr, count(*) AS m
       |  FROM (SELECT doc_id, unnest(grams) AS gr FROM bg) GROUP BY doc_id, gr),
       |j AS (SELECT db.doc_id, db.m,
       |    coalesce(bi.c12, 0) AS c12, coalesce(uni.c1, 0) AS c1
       |  FROM db LEFT JOIN bi ON db.gr = bi.gr
       |    LEFT JOIN uni ON str_split(db.gr, ' ')[1] = uni.tok),
       |a AS (SELECT doc_id, sum(m) AS n_bigrams,
       |    sum(CASE WHEN c12 = 0 THEN m ELSE 0 END) AS oov_bigrams,
       |    sum(c1 * m) AS hit_prev, sum(c12 * m) AS hit_bigram
       |  FROM j GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CAST(coalesce(a.oov_bigrams, 0) AS BIGINT) AS oov_bigrams,
       |  CAST(coalesce(a.hit_prev, 0) AS BIGINT) AS hit_prev,
       |  CAST(coalesce(a.hit_bigram, 0) AS BIGINT) AS hit_bigram
       |FROM t LEFT JOIN a ON t.doc_id = a.doc_id""".stripMargin
  }

  /** Parametrized mirror of CorpusOps.dsirWeights' integer surface:
    * target = docs with doc_id % mod = 0, raw pool = the rest, features
    * = the drawn gram sizes md5-hashed into 16^hexChars buckets. Same
    * CTE shapes as the fixed doc_dsir oracle.
    */
  private def docDsirSql(mod: Int, hexChars: Int, gramNs: Seq[Int]): String = {
    val tok = """list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '')"""
    val grams = gramNs.map { n =>
      if (n == 1) "toks"
      else s"list_transform(generate_series(1, greatest(len(toks) - ${n - 1}, 0)), " +
        s"i -> array_to_string(toks[i:i+${n - 1}], ' '))"
    }.reduce((a, b) => s"list_concat($a, $b)")
    s"""WITH t AS (SELECT doc_id, $tok AS toks FROM documents),
       |g AS (SELECT doc_id, $grams AS grams FROM t),
       |occ AS (SELECT doc_id, substr(md5(gr), 1, $hexChars) AS bucket
       |  FROM (SELECT doc_id, unnest(grams) AS gr FROM g)),
       |tgt AS (SELECT bucket, count(*) AS c_tgt FROM occ
       |  WHERE doc_id % $mod = 0 GROUP BY bucket),
       |raw AS (SELECT bucket, count(*) AS c_raw FROM occ
       |  WHERE doc_id % $mod <> 0 GROUP BY bucket),
       |db AS (SELECT doc_id, bucket, count(*) AS m FROM occ
       |  WHERE doc_id % $mod <> 0 GROUP BY doc_id, bucket),
       |j AS (SELECT db.doc_id, db.m,
       |    coalesce(tgt.c_tgt, 0) AS c_tgt, coalesce(raw.c_raw, 0) AS c_raw
       |  FROM db LEFT JOIN tgt ON db.bucket = tgt.bucket
       |    LEFT JOIN raw ON db.bucket = raw.bucket),
       |a AS (SELECT doc_id, sum(m) AS n_grams,
       |    sum(CASE WHEN c_tgt = 0 THEN m ELSE 0 END) AS oov_tgt,
       |    sum(CASE WHEN c_raw = 0 THEN m ELSE 0 END) AS oov_raw,
       |    sum(c_tgt * m) AS hit_tgt, sum(c_raw * m) AS hit_raw
       |  FROM j GROUP BY doc_id)
       |SELECT t.doc_id, CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(a.oov_tgt, 0) AS BIGINT) AS oov_tgt,
       |  CAST(coalesce(a.oov_raw, 0) AS BIGINT) AS oov_raw,
       |  CAST(coalesce(a.hit_tgt, 0) AS BIGINT) AS hit_tgt,
       |  CAST(coalesce(a.hit_raw, 0) AS BIGINT) AS hit_raw
       |FROM t LEFT JOIN a ON t.doc_id = a.doc_id
       |WHERE t.doc_id % $mod <> 0""".stripMargin
  }

  /** Parametrized mirror of TextSearch.bm25Stats' integer surface:
    * corpus = docs with doc_id % mod <> 0, queries = the rest, stopword
    * pruning at the drawn maxDfFrac. Same CTE shapes as the fixed
    * doc_bm25_stats oracle.
    */
  private def docBm25Sql(mod: Int, maxDfFrac: Double): String = {
    val tok = """list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '')"""
    s"""WITH t AS (SELECT doc_id, $tok AS toks FROM documents),
       |corp AS (SELECT doc_id, len(toks) AS dl, toks FROM t WHERE doc_id % $mod <> 0),
       |post0 AS (SELECT tok, doc_id, dl, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM corp)
       |  GROUP BY tok, doc_id, dl),
       |dfa AS (SELECT tok, count(*) AS df_t FROM post0 GROUP BY tok
       |  HAVING count(*) <= $maxDfFrac * (SELECT count(*) FROM corp)),
       |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS tok
       |  FROM t WHERE doc_id % $mod = 0),
       |qtd AS (SELECT qt.query_id, qt.tok, dfa.df_t FROM qt
       |  JOIN dfa ON qt.tok = dfa.tok)
       |SELECT qtd.query_id, post0.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_match,
       |  CAST(sum(post0.tf) AS BIGINT) AS tf_sum,
       |  CAST(sum(post0.tf * qtd.df_t) AS BIGINT) AS tfdf_sum,
       |  CAST(min(post0.dl) AS BIGINT) AS dl
       |FROM qtd JOIN post0 ON qtd.tok = post0.tok
       |GROUP BY qtd.query_id, post0.doc_id""".stripMargin
  }

  /** Parametrized mirror of AnnStream.annStream /
    * shardedLshBucketHits→annMergeStage (exact-cosine mode): hyperplane
    * sign-bit buckets re-derived from the SAME deterministic planes,
    * own + hamming-1 probes, candidates restricted to earlier arrivals
    * (the id-ordered replay's "so far"), exact-cosine rank ≤ k. The
    * sharded bridge computes the identical log (disjoint per-bucket
    * candidates), so both forms share this mirror per draw.
    */
  private def embAnnStreamSql(nPlanes: Int, k: Int): String = {
    val ps = graft.llm.Similarity.planes(nPlanes, 64)
    def bucketExpr(v: String): String = ps.zipWithIndex.map { case (p, i) =>
      val arr = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"""CASE WHEN list_reduce(list_transform(list_zip($v, $arr::DOUBLE[]),
         |    p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y) >= 0
         |  THEN (1::BIGINT << $i) ELSE 0::BIGINT END""".stripMargin
    }.mkString("\n + ")
    val probes = "b0" +: (0 until nPlanes).map(i => s"xor(b0, ${1L << i}::BIGINT)")
    s"""WITH c AS (SELECT vec_id AS corpus_id, embedding AS cv,
       |    ${bucketExpr("embedding")} AS bucket FROM embeddings),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv,
       |    ${bucketExpr("embedding")} AS b0 FROM embeddings),
       |pr AS (SELECT query_id, qv, unnest([${probes.mkString(", ")}]) AS bucket FROM q0),
       |s AS (SELECT query_id, corpus_id,
       |    list_sum(list_transform(list_zip(qv, cv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * x)))
       |       * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * x)))) AS sim
       |  FROM c JOIN pr USING (bucket) WHERE corpus_id < query_id)
       |SELECT query_id, corpus_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
       |FROM s QUALIFY rank <= $k""".stripMargin
  }

  /** Parametrized mirror of Bm25IngestStream's earlier-arrivals retrieval
    * (corpus = id % mod <> 0, queries = id % mod = 0, id-ordered tagged
    * feed): stored postings = each term's first-by-id `maxDf` docs, a
    * query sees stored postings with doc_id < query_id, df at probe
    * counts those same rows, then the consumer-side (query, doc) fold.
    */
  private def docBm25IngestSql(mod: Int, maxDf: Int): String = {
    val tok = "list_filter(str_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'), x -> x <> '')"
    s"""WITH t AS (SELECT doc_id, $tok AS toks FROM documents),
       |corp AS (SELECT doc_id, len(toks) AS dl, toks FROM t WHERE doc_id % $mod <> 0),
       |post0 AS (SELECT tok, doc_id, dl, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM corp)
       |  GROUP BY tok, doc_id, dl),
       |kept AS (SELECT * FROM (
       |  SELECT tok, doc_id, dl, tf,
       |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rnk
       |  FROM post0) WHERE rnk <= $maxDf),
       |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS tok
       |  FROM t WHERE doc_id % $mod = 0),
       |probe AS (SELECT qt.query_id, k.doc_id, k.tok, k.tf, k.dl,
       |    count(*) OVER (PARTITION BY qt.query_id, k.tok) AS df_p
       |  FROM qt JOIN kept k ON k.tok = qt.tok AND k.doc_id < qt.query_id)
       |SELECT query_id, doc_id,
       |  CAST(count(*) AS BIGINT) AS n_match,
       |  CAST(sum(tf) AS BIGINT) AS tf_sum,
       |  CAST(sum(tf * df_p) AS BIGINT) AS tfdf_sum,
       |  CAST(min(dl) AS BIGINT) AS dl
       |FROM probe GROUP BY query_id, doc_id""".stripMargin
  }

  /** Parametrized mirror of Similarity.semDedup: the ivf centroid chain
    * (anchor init + `lloydIters` quantized-mean passes) with the FINAL
    * assignment keeping each row's winning csim, the within-cell ε-pair
    * self-join RESTRICTED to cells at or under the `maxCell` occupancy
    * cap (the hot-cell guard — over-cap cells produce no pairs, so
    * their members all survive), the min-label recursive-CTE closure,
    * and the keep rank (csim ASC, id ASC per component; rn > 1 dropped).
    */
  private def embSemDedupSql(nCells: Int, lloydIters: Int, eps: Double,
                             maxCell: Int = Int.MaxValue,
                             srcSql: String =
                               "SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings",
                             finalRel: String = "embeddings",
                             finalIdCol: String = "vec_id"): String = {
    val chain = (0 until lloydIters).map { i =>
      s"""asg$i AS (SELECT corpus_id, cv, cell FROM (
         |  SELECT corpus_id, cv, cell,
         |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
         |  FROM (SELECT corpus_id, cv, cell, ${duckCos("cv", "centroid")} AS csim
         |        FROM c CROSS JOIN cent$i)) WHERE rn = 1),
         |el$i AS (SELECT cell, generate_subscripts(cv, 1) AS pos, unnest(cv) AS x FROM asg$i),
         |cm$i AS (SELECT cell, pos,
         |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
         |      / (count(*) * 1048576.0) AS m
         |  FROM el$i GROUP BY cell, pos),
         |cent${i + 1} AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cm$i GROUP BY cell),""".stripMargin
    }.mkString("\n")
    s"""WITH RECURSIVE c AS ($srcSql),
       |cent0 AS (SELECT corpus_id::BIGINT AS cell, cv AS centroid
       |    FROM c ORDER BY corpus_id LIMIT $nCells),
       |$chain
       |asg AS (SELECT corpus_id, cv, cell, csim FROM (
       |  SELECT corpus_id, cv, cell, csim,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cv, cell, ${duckCos("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN cent$lloydIters)) WHERE rn = 1),
       |ok AS (SELECT cell FROM asg GROUP BY cell HAVING count(*) <= $maxCell),
       |ep AS (SELECT a.corpus_id AS id_a, b.corpus_id AS id_b
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.corpus_id < b.corpus_id
       |  JOIN ok ON ok.cell = a.cell
       |  WHERE ${duckCos("a.cv", "b.cv")} >= $eps),
       |nodes AS (SELECT DISTINCT id FROM (
       |  SELECT id_a AS id FROM ep UNION ALL SELECT id_b AS id FROM ep)),
       |eg AS (SELECT id_a AS a, id_b AS b FROM ep
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM ep),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT eg.a AS id, reach.r FROM eg JOIN reach ON reach.id = eg.b),
       |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |rk AS (SELECT cc.cluster_id, cc.id,
       |    row_number() OVER (PARTITION BY cc.cluster_id ORDER BY asg.csim ASC, cc.id) AS rn
       |  FROM cc JOIN asg ON cc.id = asg.corpus_id)
       |SELECT $finalIdCol FROM $finalRel
       |WHERE $finalIdCol NOT IN (SELECT id FROM rk WHERE rn > 1)""".stripMargin
  }

  /** Parametrized mirror of Similarity.ivfPqTopK (batch: the 20 lowest-id
    * queries, candidates <> query) and AnnStream.ivfPqAnnStream (stream:
    * EVERY vector queries, candidates restricted to earlier arrivals —
    * the id-ordered replay's "arrived so far"). Anchor centroids = the
    * nCells lowest-id rows; anchor codebook = subspace slices of the cps
    * lowest-id rows; cell assignment/probe rank (csim DESC, cell); ADC
    * scores divided in the engine's exact order ((adc/√cn2)/‖q‖).
    */
  private def embIvfPqSql(nCells: Int, nProbe: Int, nSub: Int, cps: Int,
                          k: Int, stream: Boolean,
                          lloydIters: Int = 0): String = {
    val subDim = 64 / nSub
    def sl(v: String) = s"$v[m*$subDim+1 : m*$subDim+$subDim]"
    val qFilter = if (stream) "" else " WHERE vec_id < 20"
    val candRestrict = if (stream) "<" else "<>"
    s"""WITH ${codebookCtes(nSub, cps, lloydIters)},
       |centt AS (SELECT vec_id::BIGINT AS cell, embedding AS centroid
       |    FROM embeddings ORDER BY vec_id LIMIT $nCells),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
       |asg AS (SELECT corpus_id, cell FROM (
       |  SELECT corpus_id, cell,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cell, ${duckCos("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN centt)) WHERE rn = 1),
       |enc0 AS (SELECT corpus_id, m, j,
       |    list_reduce(list_transform(list_zip(${sl("cv")}, cent),
       |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
       |      (x, y) -> x + y) AS d
       |  FROM c CROSS JOIN cbn),
       |codes AS (SELECT corpus_id, m, j AS code FROM (
       |  SELECT corpus_id, m, j, row_number() OVER (PARTITION BY corpus_id, m ORDER BY d ASC, j) AS rn
       |  FROM enc0) WHERE rn = 1),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings$qFilter),
       |pr AS (SELECT query_id, cell FROM (
       |  SELECT query_id, cell,
       |    row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT query_id, cell, ${duckCos("qv", "centroid")} AS csim
       |        FROM q0 CROSS JOIN centt)) WHERE rn <= $nProbe),
       |cand AS (SELECT pr.query_id, asg.corpus_id FROM asg JOIN pr USING (cell)
       |  WHERE asg.corpus_id $candRestrict pr.query_id),
       |qn AS (SELECT query_id,
       |    sqrt(list_reduce(list_transform(qv, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y)) AS qn
       |  FROM q0),
       |lut AS (SELECT query_id, m, j,
       |    list_reduce(list_transform(list_zip(${sl("qv")}, cent),
       |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (x, y) -> x + y) AS dot,
       |    n2
       |  FROM q0 CROSS JOIN cbn),
       |s0 AS (SELECT cand.query_id, cand.corpus_id,
       |    list_reduce(list(lut.dot ORDER BY lut.m), (x, y) -> x + y) AS adc,
       |    list_reduce(list(lut.n2 ORDER BY lut.m), (x, y) -> x + y) AS cn2
       |  FROM cand JOIN codes ON codes.corpus_id = cand.corpus_id
       |            JOIN lut ON lut.query_id = cand.query_id AND lut.m = codes.m AND lut.j = codes.code
       |  GROUP BY cand.query_id, cand.corpus_id),
       |s AS (SELECT s0.query_id, corpus_id,
       |    (CASE WHEN cn2 = 0 THEN 0.0 ELSE adc / sqrt(cn2) END) / qn.qn AS sim
       |  FROM s0 JOIN qn ON qn.query_id = s0.query_id)
       |SELECT query_id, corpus_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
       |FROM s QUALIFY rank <= $k""".stripMargin
  }

  /** Parameterized mirror of `Similarity.ivfPqTopK(residual = true)`
    * (lloydIters = 0): the SparkEntry fixed-geometry oracle
    * (`embIvfPqResidualOracle`) generalized over cells × probes ×
    * subspaces for randomized draws. Residual anchors are rows
    * OFFSET nCells LIMIT cps by id, assigned and centroid-subtracted;
    * scoring reassembles cosine from q·c + Σ lut over the residual
    * codebook and the per-cell norm correction Σ w.
    */
  private def embIvfPqResidualSql(nCells: Int, nProbe: Int, nSub: Int,
                                  cps: Int, k: Int,
                                  stream: Boolean = false): String = {
    val subDim = 64 / nSub
    def sl(v: String) = s"$v[m*$subDim+1 : m*$subDim+$subDim]"
    def slq(v: String, m: String) = s"$v[$m*$subDim+1 : $m*$subDim+$subDim]"
    val qFilter = if (stream) "" else " WHERE vec_id < 20"
    val candRestrict = if (stream) "<" else "<>"
    s"""WITH centt AS (SELECT vec_id::BIGINT AS cell, embedding AS centroid
       |    FROM embeddings ORDER BY vec_id LIMIT $nCells),
       |cn2t AS (SELECT cell,
       |    list_reduce(list_transform(centroid, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y) AS cn2
       |  FROM centt),
       |ra AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j, embedding AS av
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $cps OFFSET $nCells)),
       |rasg AS (SELECT j, av, centroid FROM (
       |  SELECT j, av, centroid,
       |    row_number() OVER (PARTITION BY j ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT ra.j, ra.av, centt.cell, centt.centroid,
       |          ${duckCos("av", "centroid")} AS csim
       |        FROM ra CROSS JOIN centt)) WHERE rn = 1),
       |rv AS (SELECT j, list_transform(list_zip(av, centroid),
       |    z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS resid FROM rasg),
       |cb AS (SELECT m, j, ${sl("resid")} AS cent
       |  FROM rv CROSS JOIN (SELECT unnest(generate_series(0, ${nSub - 1})) AS m)),
       |rn2 AS (SELECT m, j,
       |    list_reduce(list_transform(cent, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y) AS n2
       |  FROM cb),
       |w AS (SELECT centt.cell, cb.m, cb.j,
       |    2.0 * list_reduce(list_transform(list_zip(${slq("centt.centroid", "cb.m")}, cb.cent),
       |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (x, y) -> x + y) + rn2.n2 AS w
       |  FROM centt CROSS JOIN cb JOIN rn2 ON rn2.m = cb.m AND rn2.j = cb.j),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
       |asg AS (SELECT corpus_id, cell, cv, centroid FROM (
       |  SELECT corpus_id, cell, cv, centroid,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cell, cv, centroid, ${duckCos("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN centt)) WHERE rn = 1),
       |crv AS (SELECT corpus_id, cell, list_transform(list_zip(cv, centroid),
       |    z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS rvv FROM asg),
       |enc0 AS (SELECT corpus_id, cell, cb.m, cb.j,
       |    list_reduce(list_transform(list_zip(${slq("rvv", "cb.m")}, cb.cent),
       |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
       |      (x, y) -> x + y) AS d
       |  FROM crv CROSS JOIN cb),
       |codes AS (SELECT corpus_id, cell, m, j AS code FROM (
       |  SELECT corpus_id, cell, m, j, row_number() OVER (PARTITION BY corpus_id, m ORDER BY d ASC, j) AS rn
       |  FROM enc0) WHERE rn = 1),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings$qFilter),
       |qn AS (SELECT query_id,
       |    sqrt(list_reduce(list_transform(qv, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y)) AS qn
       |  FROM q0),
       |pr AS (SELECT query_id, cell, qdotc FROM (
       |  SELECT query_id, cell, qdotc,
       |    row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT query_id, cell, ${duckCos("qv", "centroid")} AS csim,
       |          list_reduce(list_transform(list_zip(qv, centroid),
       |            z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (x, y) -> x + y) AS qdotc
       |        FROM q0 CROSS JOIN centt)) WHERE rn <= $nProbe),
       |lut AS (SELECT query_id, m, j,
       |    list_reduce(list_transform(list_zip(${sl("qv")}, cent),
       |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (x, y) -> x + y) AS dot
       |  FROM q0 CROSS JOIN cb),
       |s0 AS (SELECT pr.query_id, codes.corpus_id, pr.cell, pr.qdotc,
       |    list_reduce(list(lut.dot ORDER BY lut.m), (x, y) -> x + y) AS adc,
       |    list_reduce(list(w.w ORDER BY w.m), (x, y) -> x + y) AS cw
       |  FROM pr JOIN codes USING (cell)
       |       JOIN lut ON lut.query_id = pr.query_id AND lut.m = codes.m AND lut.j = codes.code
       |       JOIN w ON w.cell = pr.cell AND w.m = codes.m AND w.j = codes.code
       |  WHERE codes.corpus_id $candRestrict pr.query_id
       |  GROUP BY pr.query_id, codes.corpus_id, pr.cell, pr.qdotc),
       |s AS (SELECT s0.query_id, corpus_id,
       |    CASE WHEN (cn2t.cn2 + cw) <= 0 THEN 0.0
       |         ELSE (qdotc + adc) / (sqrt(cn2t.cn2 + cw) * qn.qn) END AS sim
       |  FROM s0 JOIN qn ON qn.query_id = s0.query_id
       |          JOIN cn2t ON cn2t.cell = s0.cell)
       |SELECT query_id, corpus_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
       |FROM s QUALIFY rank <= $k""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val seed = if (args.length > 2) args(2).toLong else 42L
    val streamingMode = args.length > 4 && args(4) == "streaming"
    val llmMode = args.length > 4 && args(4) == "llm"
    val nDraws = if (args.length > 3) args(3).toInt
      else if (streamingMode) 16 else if (llmMode) 26 else 55
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val rng = new scala.util.Random(seed)
    val ev = graft.Tables.events(spark, sfDir)
    val families = Seq("ever", "first", "time", "timebatch", "firsttimebatch",
      "externaltimebatch", "length", "lengthbatch", "firstlengthbatch",
      "timelengthbatch", "deduplicate", "deduplicate_salted_hot")
    // streaming families: the same operators via their stateful
    // Structured Streaming forms, replayed chunk-by-chunk and compared
    // to change-log oracles generated from the same draw — randomized
    // boundary arithmetic through the PROCESSORS, not just the batch
    // reinterpretations
    val streamFamilies = Seq("ever_stream", "first_stream", "time_stream",
      "timebatch_stream", "lengthbatch_stream", "length_stream",
      "deduplicate_stream", "externaltimebatch_stream", "timelengthbatch_stream",
      "deduplicate_bloom_stream", "first_bloom_stream")
    // llm families: the corpus-pipeline tier with randomized operator
    // parameters (gram sizes, band geometry, thresholds, caps, eval
    // strata) — each draw's oracle SQL is regenerated from the SAME
    // parameters
    val llmFamilies = Seq("minhash_pairs", "ngram_pairs", "simhash_pairs",
      "neardup_clusters", "neardup_dedup", "dup_spans", "span_removal",
      "dup_lines", "line_dedup", "decontam", "sample", "exact_dedup",
      "emb_pairs", "boilerplate", "pack", "emb_pq", "emb_ivfpq",
      "emb_ivfpq_stream", "fuzzy_decontam", "source_cap", "fuzzy_stream",
      "curation_pipeline", "ann_sharded_stream", "semdedup", "lm_ppl", "dsir",
      "bm25", "bm25_ingest", "ann_lsh_stream", "semdedup_stream",
      "editdist_pairs", "token_mix", "editdist_decontam", "image_hash",
      "bpe_encode", "audio_hash", "video_seq", "audio_seg", "bpe_dist",
      "image_semdedup", "image_tiles", "audio_seg_dropped", "bpe_bytes",
      "mm_curation_pipeline", "heavy_hitters", "hot_keys")
    lazy val docs = graft.Tables.documents(spark, sfDir)
    lazy val docsLined = graft.llm.CorpusOps.withSyntheticLines(docs, "doc_id", "text")
    lazy val emb = graft.Tables.embeddings(spark, sfDir)
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.length))
    // RESTART INJECTION: half the streaming draws (drawn per iteration)
    // run through the mid-replay kill+restart harness instead of the
    // plain replay — state-store restore + offset recovery under
    // RANDOMIZED operator parameters, at zero oracle cost (the restart
    // contract is output-equality with the uninterrupted replay, so the
    // draw's oracle is unchanged). Only update-mode replays restart
    // (replayWithRestart's idempotent foreachBatch collector is
    // update-shaped; the append-mode timebatch family keeps its
    // watermarked windowed-agg semantics un-injected).
    var drawRestart = false
    var usedRestart = false
    def replayed(seqCol: String, mode: String)(
        build: DataFrame => DataFrame): DataFrame =
      if (drawRestart && mode == "update") {
        usedRestart = true
        graft.streaming.Replay.replayWithRestart(spark, ev, seqCol, 2000)(build)
      } else graft.streaming.Replay.replay(spark, ev, seqCol, 2000, mode)(build)

    val oracles = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var ok = 0
    // optional family filter (comma-separated) — used for the sf0.1
    // robustness passes, where a few GENERATED ORACLES (not the engine)
    // are scale-hostile: lengthBatchSql's batch recurrence re-aggregates
    // the whole table once per batch, so a draw like n=2 over a
    // near-unique 3-column key (~50k batches at sf0.1) grinds DuckDB for
    // hours while the engine side finishes in seconds. A misspelled name
    // fails loudly.
    val famFilter = sys.env.get("SPARK_GRAFT_SWEEP_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val activeFamilies = {
      val base = if (streamingMode) streamFamilies
                 else if (llmMode) llmFamilies else families
      famFilter match {
        case Some(fs) =>
          val unknown = fs -- base.toSet
          require(unknown.isEmpty,
            s"SPARK_GRAFT_SWEEP_FAMILIES names unknown families: " +
              s"${unknown.toSeq.sorted.mkString(", ")} (known: ${base.mkString(", ")})")
          base.filter(fs.contains)
        case None => base
      }
    }
    def output(r: UniqueResult, v: String): DataFrame = v match {
      case "current" => r.current
      case "expired" => r.expired
      case "all" => r.all
    }
    (0 until nDraws).foreach { i =>
      val fam = activeFamilies(i % activeFamilies.length)
      val keys = pick(keyGrid)
      val w = pick(windowGrid)
      val n = pick(nGrid)
      drawRestart = streamingMode && rng.nextBoolean()
      usedRestart = false
      // draw a result (engine DataFrame) and its param-matched oracle SQL
      val (df, sql, tag): (DataFrame, String, String) = fam match {
        case "ever" =>
          val v = pick(Seq("current", "expired", "all"))
          val r = UniqueOps.ever(ev, keys, "event_id")
          val d = output(r, v)
          (d, everSql(keys, v), v)
        case "first" =>
          (UniqueOps.first(ev, keys, "event_id").current, firstSql(keys), "current")
        case "time" =>
          val v = pick(Seq("current", "expired", "all"))
          val r = UniqueOps.time(ev, keys, "event_id", "ts", w)
          val d = output(r, v)
          val sql =
            if (v == "all") allSql(timeSql(keys, w, "current"), timeSql(keys, w, "expired"))
            else timeSql(keys, w, v)
          (d, sql, s"${v}_w$w")
        case "timebatch" =>
          val v = pick(Seq("current", "expired", "all"))
          val s = pick(startGrid.filter(_.isDefined)) // reference timeBatch anchors the epoch grid
          val rts = rng.nextBoolean() && v == "current"
          val r = UniqueOps.timeBatch(ev, keys, "event_id", "ts", w, s,
            replaceTsWithBatchEnd = rts)
          val d = output(r, v)
          def tbSql(vv: String) =
            timeBatchSql(keys, w, s, keepFirst = false, replaceTs = rts, vv)
          val sql = if (v == "all") allSql(tbSql("current"), tbSql("expired")) else tbSql(v)
          (d, sql, s"${v}_w${w}_s${s.get}${if (rts) "_rts" else ""}")
        case "firsttimebatch" =>
          val v = pick(Seq("current", "expired", "all"))
          val s = pick(startGrid.filter(_.isDefined))
          val r = UniqueOps.firstTimeBatch(ev, keys, "event_id", "ts", w, s)
          val d = output(r, v)
          def ftbSql(vv: String) =
            timeBatchSql(keys, w, s, keepFirst = true, replaceTs = false, vv)
          val sql = if (v == "all") allSql(ftbSql("current"), ftbSql("expired")) else ftbSql(v)
          (d, sql, s"${v}_w${w}_s${s.get}")
        case "externaltimebatch" =>
          val v = pick(Seq("current", "expired", "all"))
          val s = pick(startGrid) // None = min(ts) anchor, the reference default
          val r = UniqueOps.externalTimeBatch(ev, keys, "event_id", "ts", w, s)
          val d = output(r, v)
          def etbSql(vv: String) =
            timeBatchSql(keys, w, s, keepFirst = false, replaceTs = false, vv)
          val sql = if (v == "all") allSql(etbSql("current"), etbSql("expired"))
                    else etbSql(v)
          (d, sql, s"${v}_w${w}_s${s.map(_.toString).getOrElse("min")}")
        case "length" =>
          val v = pick(Seq("current", "expired", "all"))
          val r = UniqueOps.length(ev, keys, "event_id", n)
          val d = output(r, v)
          val sql =
            if (v == "all") allSql(lengthSql(keys, n, "current"), lengthSql(keys, n, "expired"))
            else lengthSql(keys, n, v)
          (d, sql, s"${v}_n$n")
        case "lengthbatch" =>
          val v = pick(Seq("current", "expired", "all"))
          val r = UniqueOps.lengthBatch(ev, keys, "event_id", n)
          val d = output(r, v)
          def lbSql(e: Boolean) = lengthBatchSql(keys, n, latest = true, expiredOnly = e)
          val sql = v match {
            case "all" => allSql(lbSql(false), lbSql(true))
            case vv => lbSql(vv == "expired")
          }
          (d, sql, s"${v}_n$n")
        case "firstlengthbatch" =>
          val v = pick(Seq("current", "expired", "all"))
          val r = UniqueOps.firstLengthBatch(ev, keys, "event_id", n)
          val d = output(r, v)
          def flbSql(e: Boolean) = lengthBatchSql(keys, n, latest = false, expiredOnly = e)
          val sql = v match {
            case "all" => allSql(flbSql(false), flbSql(true))
            case vv => flbSql(vv == "expired")
          }
          (d, sql, s"${v}_n$n")
        case "timelengthbatch" =>
          val v = pick(Seq("current", "expired", "all"))
          val r = UniqueOps.timeLengthBatch(ev, keys, "event_id", "ts", w, n)
          val d = output(r, v)
          val sql =
            if (v == "all") allSql(timeLengthBatchSql(keys, w, n, "current"),
              timeLengthBatchSql(keys, w, n, "expired"))
            else timeLengthBatchSql(keys, w, n, v)
          (d, sql, s"${v}_w${w}_n$n")
        case "deduplicate" =>
          val salted = rng.nextBoolean()
          val d = if (salted)
            UniqueOps.deduplicateSalted(ev, keys, "event_id", "ts", w).current
          else UniqueOps.deduplicate(ev, keys, "event_id", "ts", w).current
          (d, deduplicateSql(keys, w), s"${if (salted) "salted_" else ""}w$w")
        case "deduplicate_salted_hot" =>
          // 1-key-dominates geometry (VERDICT r10 ask #8): every event_id
          // not divisible by hotMod collapses onto one 'HOT' user_id, so
          // 1-1/hotMod of the corpus lands on a single key; the salted
          // twin's chunk-boundary stitch (chunk width = the drawn interval)
          // must match the recurrence oracle on the rewritten corpus.
          // hotMod=1000 is the near-total-degeneracy corner (~99.9% hot).
          val hotMod = pick(Seq(2, 10, 1000))
          // user_id is numeric in the events table — the hot key is the
          // sentinel -1 (outside the generated id range)
          val hotEv = ev.withColumn("user_id",
            org.apache.spark.sql.functions.when(col("event_id") % hotMod =!= 0,
              org.apache.spark.sql.functions.lit(-1L)).otherwise(col("user_id")))
          (UniqueOps.deduplicateSalted(hotEv, Seq("user_id"), "event_id", "ts", w).current,
            hotKeyDedupSql(w, hotMod), s"hot${hotMod}_w$w")

        // ---- streaming families (replay harness, change-log oracles) ----
        case "ever_stream" =>
          (replayed("event_id", "update")(sdf =>
            graft.streaming.UniqueStreams.everStream(sdf, keys, Some("event_id"))),
            everStreamSql(keys), "replay")
        case "first_stream" =>
          (replayed("event_id", "update")(sdf =>
            graft.streaming.UniqueStreams.firstStream(sdf, keys, "event_id")),
            firstSql(keys), "replay")
        case "time_stream" =>
          (replayed("event_id", "update")(sdf =>
            graft.streaming.UniqueStreams.timeStream(sdf, keys, "ts", w,
              seqCol = Some("event_id"))),
            timeStreamSql(keys, w), s"replay_w$w")
        case "timebatch_stream" =>
          // ts-ordered feed keeps the watermark monotone; the start.time
          // grid anchor exercises the window() modulo against the batch
          // floor arithmetic
          val s = pick(startGrid.flatten)
          val kf = rng.nextBoolean()
          (replayed("ts", "append")(sdf =>
            graft.streaming.UniqueStreams.timeBatchStream(sdf, keys, "event_id",
              "ts", w, keepFirst = kf, startMs = s)),
            timeBatchSql(keys, w, Some(s), keepFirst = kf, replaceTs = false, "expired"),
            s"replay_w${w}_s$s${if (kf) "_first" else ""}")
        case "lengthbatch_stream" =>
          val nn = pick(Seq(7, 41)) // the recursive oracle at tiny n is the batch sweep's job
          val kf = rng.nextBoolean()
          (replayed("event_id", "update")(sdf =>
            graft.streaming.UniqueStreams.lengthBatchStream(sdf, keys, "event_id", nn,
              keepFirst = kf)),
            lengthBatchStreamSql(keys, nn, latest = !kf),
            s"replay_n$nn${if (kf) "_first" else ""}")
        case "length_stream" =>
          (replayed("event_id", "update")(sdf =>
            graft.streaming.UniqueStreams.lengthStream(sdf, keys, "event_id", n)),
            lengthStreamSql(keys, n), s"replay_n$n")
        case "deduplicate_stream" =>
          (replayed("event_id", "update")(sdf =>
            graft.streaming.UniqueStreams.deduplicateStreamExact(sdf, keys,
              "event_id", "ts", w)),
            deduplicateSql(keys, w), s"replay_w$w")
        case "deduplicate_bloom_stream" =>
          (replayed("event_id", "update")(sdf =>
            graft.streaming.UniqueStreams.deduplicateStreamBloom(sdf, keys, "ts", w,
              numShards = 8, bitsPerShard = 1 << 20, seqCol = Some("event_id"))),
            deduplicateBloomSql(keys, w), s"replay_w$w")
        case "first_bloom_stream" =>
          // drawn shard/hash geometry, every draw generously sized (worst
          // case 100k distinct keys at sf0.1 over >= 4 × 8 Mbit shards →
          // per-admission FP odds < 1e-10, deterministic seeds): the
          // admitted set is exactly first-per-key, sharing firstSql
          val shards = pick(Seq(4, 8, 32))
          val kH = pick(Seq(3, 5, 7))
          (replayed("event_id", "update")(sdf =>
            graft.streaming.UniqueStreams.firstStreamBloom(sdf, keys,
              numShards = shards, bitsPerShard = 1 << 23, numHashes = kH,
              seqCol = Some("event_id"))),
            firstSql(keys), s"replay_s${shards}_h$kH")
        case "externaltimebatch_stream" =>
          (replayed("event_id", "update")(sdf =>
            graft.streaming.UniqueStreams.externalTimeBatchStream(sdf, keys,
              "event_id", "ts", w, timeOutMs = 0L)).drop("flush_kind"),
            etbStreamSql(keys, w), s"replay_w$w")
        case "timelengthbatch_stream" =>
          // FULL change log compared, change column included (the
          // operator emits insert+expire since round 11's widening);
          // keepFirst drawn — the firstTimeBatch/firstLengthBatch latch
          // semantics under randomized window × length geometry
          val kf = rng.nextBoolean()
          (replayed("event_id", "update")(sdf =>
            graft.streaming.UniqueStreams.timeLengthBatchStream(sdf, keys,
              "event_id", "ts", w, n, keepFirst = kf)),
            tlbStreamSql(keys, w, n, keepFirst = kf),
            s"replay_w${w}_n$n${if (kf) "_first" else ""}")

        // ---- llm families (randomized operator parameters) ----
        case "minhash_pairs" =>
          val sn = pick(Seq(2, 3, 4)); val bands = pick(Seq(2, 4, 6))
          val r = pick(Seq(1, 2, 3)); val th = pick(Seq(0.1, 0.2, 0.35))
          val mb = pick(Seq(50, 1000))
          (graft.llm.TextDedup.minhashPairsMd5(docs, "text", "doc_id", sn, bands, r, th, mb),
            minhashPairsSql(sn, bands, r, th, mb), s"sn${sn}_b${bands}x${r}_t${th}_mb$mb")
        case "ngram_pairs" =>
          val sn = pick(Seq(2, 3, 5)); val th = pick(Seq(0.05, 0.1, 0.3))
          val mb = pick(Seq(20, 200))
          (graft.llm.TextDedup.ngramJaccardPairsMd5(docs, "text", "doc_id", sn, th, mb),
            ngramPairsSql(sn, th, mb), s"sn${sn}_t${th}_mb$mb")
        case "simhash_pairs" =>
          val mh = pick(Seq(0, 1, 2, 3)); val mb = pick(Seq(100, 1000))
          (graft.llm.TextDedup.simhashPairsMd5(docs, "text", "doc_id", mh, mb),
            simhashPairsSql(mh, mb), s"h${mh}_mb$mb")
        case "neardup_clusters" =>
          // threshold floor 0.2: the recursive-closure oracle is
          // Σ component² — a low threshold's giant components belong to
          // the pairs families, not the closure ones
          val sn = pick(Seq(2, 3)); val bands = pick(Seq(4, 6)); val r = pick(Seq(1, 2))
          val th = pick(Seq(0.2, 0.35))
          (graft.llm.TextDedup.nearDupClusters(
            graft.llm.TextDedup.minhashPairsMd5(docs, "text", "doc_id", sn, bands, r, th, 1000))
            .select(col("id").as("doc_id"), col("cluster_id")),
            clustersSql(sn, bands, r, th, 1000), s"sn${sn}_b${bands}x${r}_t$th")
        case "neardup_dedup" =>
          val sn = pick(Seq(2, 3)); val bands = pick(Seq(4, 6)); val r = pick(Seq(1, 2))
          val th = pick(Seq(0.2, 0.35))
          (graft.llm.TextDedup.dedupByPairs(docs, "doc_id",
            graft.llm.TextDedup.minhashPairsMd5(docs, "text", "doc_id", sn, bands, r, th, 1000))
            .select("doc_id"),
            dedupIdsSql(sn, bands, r, th, 1000), s"sn${sn}_b${bands}x${r}_t$th")
        case "dup_spans" =>
          val k = pick(Seq(3, 5, 8)); val mc = pick(Seq(2, 3, 5))
          val hashed = rng.nextBoolean() // xx gram keys: same spans by construction
          (graft.llm.TextDedup.duplicateSpans(docs, "doc_id", "text", k, mc, hashed),
            dupSpansSql(k, mc), s"k${k}_c$mc${if (hashed) "_xx" else ""}")
        case "span_removal" =>
          val k = pick(Seq(3, 5, 8)); val mc = pick(Seq(2, 3, 5))
          val hashed = rng.nextBoolean()
          (graft.llm.TextDedup.removeDuplicateSpans(docs, "doc_id", "text", k, mc, hashed),
            spanRemovalSql(k, mc), s"k${k}_c$mc${if (hashed) "_xx" else ""}")
        case "dup_lines" =>
          val mdf = pick(Seq(2, 3, 4)); val hashed = rng.nextBoolean()
          (graft.llm.CorpusOps.duplicateLines(docsLined, "doc_id", "lines_text", mdf, hashed),
            dupLinesSql(mdf), s"df$mdf${if (hashed) "_xx" else ""}")
        case "line_dedup" =>
          val mdf = pick(Seq(2, 3, 4)); val hashed = rng.nextBoolean()
          (graft.llm.CorpusOps.lineDedup(docsLined, "doc_id", "lines_text", mdf, hashed),
            lineDedupSql(mdf), s"df$mdf${if (hashed) "_xx" else ""}")
        case "decontam" =>
          val gn = pick(Seq(3, 5, 7)); val em = pick(Seq(20L, 50L))
          val bc = rng.nextBoolean() // broadcast vs shuffle-join eval side
          (graft.llm.CorpusOps.decontaminate(docs, "doc_id", "text", em, gn, bc),
            decontamSql(gn, em), s"n${gn}_m$em${if (bc) "" else "_sj"}")
        case "sample" =>
          val ps = Seq("0fff", "1999", "3333", "7fff")
          val p1 = pick(ps); val p2 = pick(ps)
          (graft.llm.CorpusOps.sampleByHash(docs, "doc_id", "text", "lang",
            Map("en" -> p1), p2),
            sampleSql(p1, p2), s"en${p1}_d$p2")
        case "exact_dedup" =>
          val cols = pick(Seq(Seq("text"), Seq("text", "lang"), Seq("lang", "source")))
          (graft.llm.TextDedup.exactDedup(docs, cols, "doc_id").select("doc_id"),
            exactDedupIdsSql(cols), cols.mkString("-"))
        case "emb_pairs" =>
          val th = pick(Seq(0.35, 0.4, 0.45)); val g = pick(Seq(4, 8))
          val ppg = pick(Seq(3, 4))
          (graft.llm.Similarity.embeddingNearDupPairs(emb, "vec_id", "embedding",
            th, g, ppg).select("id_a", "id_b"),
            embPairsSql(th, g, ppg), s"t${th}_g${g}x$ppg")
        case "boilerplate" =>
          val gn = pick(Seq(2, 3, 4)); val mdf = pick(Seq(3, 5, 10))
          (graft.llm.CorpusOps.boilerplatePhrases(docs, "doc_id", "text", gn, mdf),
            boilerplateSql(gn, mdf), s"n${gn}_df$mdf")
        case "pack" =>
          val b = pick(Seq(128, 512, 1024))
          (graft.llm.CorpusOps.packSequences(docs, "doc_id", "text", "source", b),
            packSql(b), s"b$b")
        case "emb_pq" =>
          // drawn PQ geometry at dim=64 (subDim = 64/nSub), pure-ADC or
          // two-stage (refine), anchor or Lloyd-trained codebook — the
          // oracle re-derives the (possibly trained) codebook per draw
          val ns = pick(Seq(4, 8, 16)); val cp = pick(Seq(8, 16))
          val kk = pick(Seq(5, 10)); val rf = pick(Seq(0, 50))
          val ll = pick(Seq(0, 1, 2))
          (graft.llm.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 20),
            "vec_id", "embedding", kk, nSub = ns, codesPerSub = cp,
            refine = rf, lloydIters = ll).select("query_id", "corpus_id", "rank"),
            embPqSql(ns, cp, kk, rf, ll), s"s${ns}x${cp}_k${kk}_r${rf}_l$ll")
        case "fuzzy_decontam" =>
          // drawn cross-corpus geometry AND split fraction; half the
          // draws verify the pair relation, half the end-to-end
          // decontamination deliverable
          val sn = pick(Seq(2, 3)); val bands = pick(Seq(2, 4, 6))
          val r = pick(Seq(1, 2)); val th = pick(Seq(0.2, 0.5))
          val mb = pick(Seq(50, 1000)); val em = pick(Seq(5, 10))
          val docsT = docs.filter(col("doc_id") % em =!= 0)
          val docsE = docs.filter(col("doc_id") % em === 0)
          if (rng.nextBoolean())
            (graft.llm.TextDedup.crossMinhashPairsMd5(docsT, docsE, "text",
              "doc_id", sn, bands, r, th, mb),
              crossPairsSql(sn, bands, r, th, mb, em),
              s"pairs_sn${sn}_b${bands}x${r}_t${th}_m$em")
          else
            (graft.llm.TextDedup.fuzzyDecontaminateMd5(docsT, docsE,
              "doc_id", "text", sn, bands, r, th, mb).select("doc_id"),
              fuzzyDecontamSql(sn, bands, r, th, mb, em),
              s"decontam_sn${sn}_b${bands}x${r}_t${th}_m$em")
        case "fuzzy_stream" =>
          // the STREAM-STATIC contamination log with drawn geometry —
          // including small caps, where the stream's eval-side-only cap
          // diverges from the batch combined cap (the stream mirror's
          // point); drawn chunk size varies the micro-batch boundaries
          val sn = pick(Seq(2, 3)); val bands = pick(Seq(2, 4))
          val r = pick(Seq(1, 2)); val th = pick(Seq(0.2, 0.5))
          val mb = pick(Seq(2, 50, 1000)); val em = pick(Seq(5, 10))
          val chunk = pick(Seq(60, 250))
          val docsT = docs.filter(col("doc_id") % em =!= 0)
          val docsE = docs.filter(col("doc_id") % em === 0)
          // Stats form + unpersist: each draw would otherwise leave its
          // persisted eval index behind until ContextCleaner GC
          var cs: graft.streaming.FuzzyDecontamStream.ContaminationStream = null
          val streamed =
            try graft.streaming.Replay.replay(spark, docsT, "doc_id", chunk,
              "append") { sdf =>
                cs = graft.streaming.FuzzyDecontamStream.contaminationLogStatsMd5(
                  sdf, docsE, "doc_id", "text", sn, bands, r, th, mb)
                cs.log
              }
            finally if (cs != null) cs.unpersist()
          (streamed,
            crossPairsStreamSql(sn, bands, r, th, mb, em),
            s"sn${sn}_b${bands}x${r}_t${th}_mb${mb}_m${em}_c$chunk")
        case "source_cap" =>
          // drawn per-group quota over both natural group columns
          val cap = pick(Seq(1, 3, 10, 26))
          val gcol = pick(Seq("source", "lang"))
          (graft.llm.CorpusOps.capPerGroup(docs, gcol, "doc_id", cap)
            .select("doc_id", gcol),
            s"""SELECT doc_id, $gcol FROM (
               |  SELECT doc_id, $gcol,
               |    row_number() OVER (PARTITION BY $gcol ORDER BY doc_id) AS rk
               |  FROM documents) WHERE rk <= $cap""".stripMargin,
            s"${gcol}_c$cap")
        case "emb_ivfpq" =>
          // drawn IVF×PQ composition geometry (anchor centroids + anchor
          // codebook, the closed-form mirror): cells × probes × subspaces
          // × DIRECT-vs-RESIDUAL encoding (residual = the Faiss
          // IndexIVFPQ layout, mirrored by embIvfPqResidualSql)
          val nc = pick(Seq(8, 16, 32)); val np = pick(Seq(2, 4))
          val ns = pick(Seq(4, 8, 16)); val kk = pick(Seq(5, 10))
          val rs = pick(Seq(false, true))
          // drawn Lloyd passes in DIRECT mode — the trained-codebook
          // composition the graft_ann_ivfpq TVF exposes (lloyd_iters
          // arg); the TVF↔API parity is spec-pinned, this draw closes
          // API↔DuckDB. Residual draws stay anchor-codebook (no
          // residual-Lloyd mirror).
          val ll = if (rs) 0 else pick(Seq(0, 1, 2))
          (graft.llm.Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20),
            "vec_id", "embedding", kk, nCells = nc, nProbe = np,
            nSub = ns, codesPerSub = 16, residual = rs, lloydIters = ll)
            .select("query_id", "corpus_id", "rank"),
            if (rs) embIvfPqResidualSql(nc, np, ns, 16, kk)
            else embIvfPqSql(nc, np, ns, 16, kk, stream = false, lloydIters = ll),
            s"c${nc}p${np}s${ns}_k$kk${if (rs) "_res" else ""}${if (ll > 0) s"_l$ll" else ""}")
        case "lm_ppl" =>
          // drawn held-out train split (train = docs with id % mod <> 0,
          // score = all): varies both count tables and the OOV rate the
          // probe joins see; the integer sufficient statistics are the
          // hashed surface (ppl's ln/exp is spec-pinned, not hashed).
          // Round 14 adds the WINDOWED (watermark-bounded) streaming form
          // as a third drawn variant — eviction fires mid-replay and the
          // draw still shares the batch mirror.
          val mod = pick(Seq(2, 3, 5, 10))
          val form = pick(Seq("batch", "stream", "winstream"))
          val scored =
            if (form == "batch")
              graft.llm.CorpusOps.lmPerplexity(docs, "text", "doc_id",
                docs.filter(col("doc_id") % mod =!= 0), "text")
            else {
              val model = graft.llm.CorpusOps.lmTrain(
                docs.filter(col("doc_id") % mod =!= 0), "text")
              if (form == "stream")
                graft.streaming.Replay.replay(spark, docs, "doc_id", 100, "update")(
                  sdf => graft.streaming.LmScoreStream.lmScoreStream(
                    sdf, "text", "doc_id", model))
              else graft.streaming.Replay.replay(spark,
                docs.withColumn("event_ts", timestamp_seconds(col("doc_id"))),
                "doc_id", 100, "update")(
                  sdf => graft.streaming.LmScoreStream.lmScoreStreamWindowed(
                    sdf, "text", "doc_id", "event_ts", model,
                    "50 seconds", "10 seconds"))
            }
          (scored.select("doc_id", "n_tokens", "n_bigrams", "oov_bigrams",
              "hit_prev", "hit_bigram"),
            docLmPplSql(mod),
            s"m$mod${if (form == "batch") "" else s"_$form"}")
        case "bm25" =>
          // drawn BM25 geometry: query/corpus split × stopword-pruning
          // fraction, through the batch op or its replayed streaming
          // twin — the integer join statistics are the hashed surface
          // (idf/score/rank are spec-pinned, not hashed). maxDfFrac
          // values are binary-exact so the HAVING literal agrees
          val mod = pick(Seq(2, 3, 5, 10))
          val frac = pick(Seq(0.25, 0.5, 1.0))
          val form = pick(Seq("batch", "stream", "winstream"))
          val corpD = docs.filter(col("doc_id") % mod =!= 0)
          val qD = docs.filter(col("doc_id") % mod === 0)
            .select(col("doc_id").as("query_id"), col("text"))
          val idx = graft.llm.TextSearch.bm25Index(corpD, "doc_id", "text",
            maxDfFrac = frac)
          val scored = form match {
            case "stream" =>
              graft.streaming.Replay.replay(spark, qD, "query_id", 10, "update")(
                sdf => graft.streaming.Bm25SearchStream.bm25StatsStream(
                  sdf, "text", "query_id", idx))
            case "winstream" =>
              graft.streaming.Replay.replay(spark,
                qD.withColumn("event_ts", timestamp_seconds(col("query_id"))),
                "query_id", 10, "update")(
                sdf => graft.streaming.Bm25SearchStream.bm25StatsStreamWindowed(
                  sdf, "text", "query_id", "event_ts", idx,
                  "50 seconds", "10 seconds"))
            case _ => graft.llm.TextSearch.bm25Stats(qD, "query_id", "text", idx)
          }
          (scored.select("query_id", "doc_id", "n_match", "tf_sum",
              "tfdf_sum", "dl"),
            docBm25Sql(mod, frac),
            s"m${mod}_f$frac${if (form == "batch") "" else s"_$form"}")
        case "ann_lsh_stream" =>
          // the exact LSH-probed continuous-ANN pair (round 14): drawn
          // planes × k, through the single-task monolith OR the
          // bucket-sharded two-stage bridge — both compute the identical
          // earlier-arrivals retrieval log, so each draw's regenerated
          // mirror serves either form
          val np = pick(Seq(4, 6, 8)); val kk = pick(Seq(5, 10))
          val form = pick(Seq("mono", "sharded"))
          val chunkA = pick(Seq(700, 1000))
          val d = graft.streaming.UniqueStreams.withRocksDBStateStore(spark) {
            if (form == "mono")
              graft.streaming.Replay.replay(spark, emb, "vec_id", chunkA,
                "append")(sdf => graft.streaming.AnnStream.annStream(sdf,
                  "vec_id", "embedding", k = kk, nPlanes = np))
            else {
              val hits = graft.streaming.Replay.replay(spark, emb, "vec_id",
                chunkA, "append")(sdf =>
                  graft.streaming.AnnStream.shardedLshBucketHits(sdf,
                    "vec_id", "embedding", k = kk, nPlanes = np))
              graft.streaming.Replay.replay(spark, hits, "query_id", 1 << 20,
                "append")(sdf =>
                  graft.streaming.AnnStream.annMergeStage(sdf,
                    nProbe = np + 1, k = kk))
            }
          }
          (d.select("query_id", "corpus_id", "rank"),
            embAnnStreamSql(np, kk),
            s"p${np}_k${kk}_${form}_a$chunkA")
        case "bm25_ingest" =>
          // STREAMING INDEX INGESTION (round 14): drawn query/corpus
          // split × maxDf saturation cap × chunking × kill/restart —
          // each draw's mirror re-derives the stored-postings prefix
          // (row_number ≤ maxDf) and the at-probe df from the SAME
          // parameters; "arrivals-so-far" is chunking-insensitive by
          // the processor's in-batch seq sort, so every chunk size
          // shares the one mirror
          val mod = pick(Seq(3, 5, 10))
          val maxDf = pick(Seq(25, 100, 1 << 20))
          val chunk = pick(Seq(20, 50))
          val restart = rng.nextBoolean()
          val tagged = docs.select(col("doc_id"), col("text"),
            (col("doc_id") % mod === 0).as("is_query"))
          val raw = graft.streaming.UniqueStreams.withRocksDBStateStore(spark) {
            def build(sdf: DataFrame) = graft.streaming.Bm25IngestStream
              .bm25IngestStream(sdf, "doc_id", "text", "is_query", maxDf = maxDf)
            if (restart)
              graft.streaming.Replay.replayWithRestart(spark, tagged,
                "doc_id", chunk)(build)
            else graft.streaming.Replay.replay(spark, tagged, "doc_id",
              chunk, "append")(build)
          }
          (raw.groupBy("query_id", "doc_id")
            .agg(count(lit(1)).as("n_match"), sum(col("tf")).as("tf_sum"),
              sum(col("tf") * col("df_p")).as("tfdf_sum"),
              min(col("dl")).as("dl")),
            docBm25IngestSql(mod, maxDf),
            s"m${mod}_df${maxDf}_c$chunk${if (restart) "_restart" else ""}")
        case "dsir" =>
          // drawn DSIR geometry: target split × bucket width × feature
          // gram sizes, through the batch op or its replayed streaming
          // twin — the integer sufficient statistics are the hashed
          // surface (logw's ln fold is spec-pinned, not hashed)
          val mod = pick(Seq(2, 3, 5, 10))
          val hc = pick(Seq(1, 2, 3))
          val gns = pick(Seq(Seq(1), Seq(2), Seq(1, 2), Seq(1, 2, 3)))
          val form = pick(Seq("batch", "stream", "winstream"))
          val tgtD = docs.filter(col("doc_id") % mod === 0)
          val rawD = docs.filter(col("doc_id") % mod =!= 0)
          val model = graft.llm.CorpusOps.dsirTrain(tgtD, "text", rawD, "text",
            gramNs = gns, hexChars = hc, md5Family = true)
          val scored = form match {
            case "stream" =>
              graft.streaming.Replay.replay(spark, rawD, "doc_id", 100, "update")(
                sdf => graft.streaming.DsirScoreStream.dsirScoreStream(
                  sdf, "text", "doc_id", model))
            case "winstream" =>
              graft.streaming.Replay.replay(spark,
                rawD.withColumn("event_ts", timestamp_seconds(col("doc_id"))),
                "doc_id", 100, "update")(
                sdf => graft.streaming.DsirScoreStream.dsirScoreStreamWindowed(
                  sdf, "text", "doc_id", "event_ts", model,
                  "50 seconds", "10 seconds"))
            case _ => graft.llm.CorpusOps.dsirWeights(rawD, "doc_id", "text", model)
          }
          (scored.select("doc_id", "n_grams", "oov_tgt", "oov_raw",
              "hit_tgt", "hit_raw"),
            docDsirSql(mod, hc, gns),
            s"m${mod}_h${hc}_g${gns.mkString("")}${if (form == "batch") "" else s"_$form"}")
        case "semdedup" =>
          // drawn SemDeDup geometry: cells × Lloyd passes × ε. ε is drawn
          // from the corpus' real cosine range (p99 ≈ 0.29, max ≈ 0.51 at
          // sf0.01) so draws land on both dense-pair and sparse-pair
          // regimes; eps values are binary-exact decimals so the SQL
          // literal and the Scala double agree bit-for-bit
          val nc = pick(Seq(8, 16, 32)); val ll = pick(Seq(0, 1, 2))
          val epsQ = pick(Seq(0.25, 0.3125, 0.375))
          // drawn hot-cell cap: cell sizes at sf0.01 run ~500/nCells
          // (62/31/16), so 25 usually caps everything (zero pairs —
          // everyone survives), 60 bites partially at nc=8, and 2^20
          // never bites — all three regimes land in the sweep
          val mc = pick(Seq(25, 60, 1 << 20))
          (graft.llm.Similarity.semDedup(emb, "vec_id", "embedding",
            dim = 64, eps = epsQ, nCells = nc, lloydIters = ll,
            maxCell = mc),
            embSemDedupSql(nc, ll, epsQ, mc),
            s"c${nc}_l${ll}_e${epsQ}_mc$mc")
        case "image_semdedup" =>
          // the semdedup family re-drawn with IMAGE-feature vectors:
          // real decode → 64-dim luma grid → the identical cell/ε/keep
          // chain, drawn pattern-space width × cells × Lloyd × ε × cap.
          // ε values are binary-exact and straddle the fixture's
          // regimes (within-family cosine ≥ .957, cross ≤ .921 at
          // baseMod 32): 29/32 admits cross-family pairs, 15/16 splits
          // the regimes, 31/32 breaks some within-family pairs
          val bm = pick(Seq(8L, 32L)); val nc = pick(Seq(4, 8, 16))
          val ll = pick(Seq(0, 1)); val epsQ = pick(Seq(0.90625, 0.9375, 0.96875))
          val mc = pick(Seq(20, 1 << 20))
          def lum(x: Int, y: Int): String = {
            val k = x * 7 + y * 13 + 3
            val raw = s"(((doc_id % $bm) + 1) * $k) % 251"
            if (x == 2 && y == 3)
              s"(CASE WHEN (doc_id // $bm) % 3 >= 1 THEN 250 - ($raw) ELSE $raw END)"
            else if (x == 5 && y == 1)
              s"(CASE WHEN (doc_id // $bm) % 3 = 2 THEN 250 - ($raw) ELSE $raw END)"
            else s"($raw)"
          }
          val vecSql = (for (y <- 0 until 8; x <- 0 until 8)
            yield s"CAST(${lum(x, y)} AS DOUBLE)").mkString(", ")
          (graft.llm.Similarity.semDedup(
            graft.llm.Multimodal.imageLumaFeatures(
              graft.llm.Multimodal.withSyntheticPatternImages(docs, "doc_id",
                gridW = 8, gridH = 8, baseMod = bm),
              "doc_id").filter(col("features").isNotNull),
            "id", "features", dim = 64, eps = epsQ, nCells = nc,
            lloydIters = ll, maxCell = mc)
            .select(col("id").as("doc_id")),
            embSemDedupSql(nc, ll, epsQ, mc,
              srcSql = s"SELECT doc_id AS corpus_id, [$vecSql] AS cv FROM documents",
              finalRel = "documents", finalIdCol = "doc_id"),
            s"b${bm}_c${nc}_l${ll}_e${epsQ}_mc$mc")
        case "image_tiles" =>
          // the crop-tolerant tile tier under drawn family width ×
          // match floor × bucket cap: the crop regime (v=2) shares 22
          // of 26 distinct tiles, so floors up to 22 keep it and 23+
          // drop it — both sides of the boundary land in the sweep;
          // cap 30 BINDS at bm=8 (value buckets reach ~190 members on
          // the 62-doc families), 1000 never does
          val bm = pick(Seq(8L, 32L, 128L)); val ms = pick(Seq(5, 10, 23))
          val mb = pick(Seq(30, 1000))
          def tlum(px: Int, py: Int): String = {
            val k = px * 7 + py * 13 + 3
            val raw = s"((((doc_id % $bm) + 1) * (tx*28 + ty*52 + $k + " +
              s"CASE WHEN (doc_id // $bm) % 3 = 2 THEN 104 ELSE 0 END)) % 251)"
            s"($raw + CASE WHEN (doc_id // $bm) % 3 = 1 THEN 4 ELSE 0 END)"
          }
          val tsum = (for (py <- 0 until 8; px <- 0 until 8)
            yield tlum(px, py)).mkString(" + ")
          val tbits = (for (py <- 0 until 8; px <- 0 until 8) yield {
            val bit = py * 8 + px
            val mask = if (bit == 63) "(-9223372036854775807 - 1)"
                       else s"(1::BIGINT << $bit)"
            s"(CASE WHEN ${tlum(px, py)} > lmean THEN $mask ELSE 0::BIGINT END)"
          }).mkString(" |\n  ")
          (graft.llm.TextDedup.sharedKeyPairs(
            graft.llm.Multimodal.imageTileHashes(
              graft.llm.Multimodal.withSyntheticCropImages(docs, "doc_id",
                baseMod = bm),
              "doc_id"),
            "id", "thash", minShared = ms, maxBucket = mb),
            s"""WITH tg AS (SELECT doc_id, tx, ty FROM documents
  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS tx) a
  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS ty) b),
tm AS (SELECT doc_id, tx, ty, ($tsum) // 64 AS lmean FROM tg),
th AS (SELECT doc_id, CAST(tx AS BIGINT) AS tile_x, CAST(ty AS BIGINT) AS tile_y,
  $tbits AS thash FROM tm),
tkeys AS (SELECT DISTINCT doc_id, thash FROM th),
tnk AS (SELECT doc_id, count(*) AS nk FROM tkeys GROUP BY doc_id),
tok AS (SELECT thash FROM tkeys GROUP BY thash
  HAVING count(*) <= $mb AND count(*) > 1),
tib AS (SELECT tkeys.* FROM tkeys JOIN tok USING (thash)),
tcand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(count(DISTINCT a.thash) AS BIGINT) AS shared
  FROM tib a JOIN tib b ON a.thash = b.thash AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
tpr AS (SELECT id_a, id_b, shared, na.nk AS n_a, nb.nk AS n_b
  FROM tcand JOIN tnk na ON na.doc_id = tcand.id_a
             JOIN tnk nb ON nb.doc_id = tcand.id_b
  WHERE shared >= $ms)
SELECT id_a, id_b, shared, n_a, n_b FROM tpr""",
            s"b${bm}_ms${ms}_mb$mb")
        case "token_mix" =>
          // drawn default budget × one per-group override × FORM
          // (window vs segmented prefix sum with drawn rangeWidth —
          // both must produce the identical admission set): small
          // budgets cut every source early, large ones never bite, and
          // the src1 override diverges from the default both ways
          val db = pick(Seq(200L, 500L, 1200L))
          val b1 = pick(Seq(100L, 700L, 50000L))
          val rw = pick(Seq(0L, 1L, 16L, 1024L)) // 0 = window form
          val mixed =
            if (rw == 0L)
              graft.llm.CorpusOps.mixByTokenBudget(docs, "doc_id", "text",
                "source", defaultBudget = db, budgetByGroup = Map("src1" -> b1))
            else
              graft.llm.CorpusOps.mixByTokenBudgetSegmented(docs, "doc_id",
                "text", "source", defaultBudget = db,
                budgetByGroup = Map("src1" -> b1), rangeWidth = rw)
          (mixed,
            s"""WITH t AS (SELECT doc_id, source,
               |  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER) AS n_tok
               |  FROM documents),
               |c AS (SELECT doc_id, source, n_tok,
               |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
               |  FROM t)
               |SELECT doc_id, source, n_tok, tok_before FROM c
               |WHERE tok_before < (CASE source WHEN 'src1' THEN $b1 ELSE $db END)""".stripMargin,
            s"d${db}_s1b${b1}_rw$rw")
        case "bpe_encode" =>
          // drawn sample geometry × merge count × encode truncation —
          // training AND encoding re-derived per draw on BOTH engines
          // (the SQL mirror re-trains from the raw table, so every draw
          // exercises the full trainer state machine, early-stop and
          // tie-break rules included). A third of draws encode FULL
          // texts (corpus restricted to short docs so the mirror's
          // per-merge recursion stays bounded) — the VERDICT r16
          // hardening past the fixed row's 120-char prefix: for those
          // docs the truncation is a no-op by construction, so the
          // hash pins the encoder over every code point of the text
          val sd = pick(Seq(2, 4, 8)); val sc = pick(Seq(120, 240))
          val nm = pick(Seq(0, 8, 24))
          val full = pick(Seq(false, false, true))
          val (corpus, rel, ec) =
            if (full) (docs.filter(org.apache.spark.sql.functions.length(
                col("text")) <= 160),
              "(SELECT * FROM documents WHERE length(text) <= 160)", 160)
            else (docs, "documents", pick(Seq(60, 120)))
          val model = graft.llm.Bpe.train(corpus, "doc_id", "text",
            numMerges = nm, sampleDocs = sd, sampleChars = sc)
          (corpus.select(col("doc_id"),
              org.apache.spark.sql.functions.posexplode(graft.llm.Bpe.encode(
                org.apache.spark.sql.functions.substring(col("text"), 1, ec), model)))
            .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
              col("col").cast("long").as("token_id")),
            graft.SparkEntry.docBpeEncodeOracleFor(sd, sc, nm, ec, rel),
            s"s${sd}x${sc}_m${nm}_e$ec${if (full) "_full" else ""}")
        case "bpe_bytes" =>
          // the byte-level LOAD path under drawn merge tables × encode
          // truncation: each table is a merges.txt-format fixture
          // (parseMergesLines → fromMergesByteLevel, global-merge mode —
          // the pre-tokenizer is spec-pinned, see doc_bpe_encode_bytes);
          // the tables differ in RANK ORDER ('t he' before vs after
          // 'Ġ t' changes which merge wins inside ' the') and in whether
          // the space-crossing 's Ġ' rule exists
          val tables = Seq(
            ("fix", graft.SparkEntry.bpeBytesMergesLines),
            ("rank", "#v" +: Seq("t he", "h e", "Ġ t", "Ġt he", "e r", "a n")),
            ("nospace", "#v" +: Seq("h e", "i n", "a n", "an d", "r e")))
          val (tag, lines) = pick(tables)
          val ec = pick(Seq(60, 120))
          val model = graft.llm.Bpe.fromMergesByteLevel(
            graft.llm.Bpe.parseMergesLines(lines), None, pretokenize = false)
          (docs.select(col("doc_id"),
              org.apache.spark.sql.functions.posexplode(graft.llm.Bpe.encode(
                org.apache.spark.sql.functions.substring(col("text"), 1, ec), model)))
            .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
              col("col").cast("long").as("token_id")),
            graft.SparkEntry.docBpeEncodeBytesOracleFor(lines, ec),
            s"${tag}_e$ec")
        case "bpe_dist" =>
          // the DISTRIBUTED trainer under drawn sample size × merge
          // count × encode truncation × ALPHABET — the per-doc
          // choose/apply state machine re-derived per draw
          // (document-boundary semantics, global argmax, bool_or
          // apply-mode latch all exercised); byte-mode draws run the
          // same state machine over the bytes→unicode alphabet
          // (trainByteLevel — space trains as Ġ, the 256-token base
          // vocabulary replaces the sample distincts)
          val sd = pick(Seq(8, 32, 64)); val nm = pick(Seq(0, 8, 16))
          val ec = pick(Seq(60, 120))
          val bytes = pick(Seq(false, false, true))
          val model =
            if (bytes) graft.llm.Bpe.trainByteLevel(docs, "doc_id", "text",
              numMerges = nm, sampleDocs = sd, sampleChars = 240)
            else graft.llm.Bpe.trainDistributed(docs, "doc_id", "text",
              numMerges = nm, sampleDocs = sd, sampleChars = 240)
          (docs.select(col("doc_id"),
              org.apache.spark.sql.functions.posexplode(graft.llm.Bpe.encode(
                org.apache.spark.sql.functions.substring(col("text"), 1, ec), model)))
            .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
              col("col").cast("long").as("token_id")),
            graft.SparkEntry.docBpeEncodeDistOracleFor(sd, 240, nm, ec,
              byteLevel = bytes),
            s"s${sd}_m${nm}_e$ec${if (bytes) "_bytes" else ""}")
        case "video_seq" =>
          // drawn clip-family width × shingle length × Jaccard
          // threshold × bucket cap over the packed-frame fixture — the
          // REAL per-frame decode path under randomized sequence-match
          // parameters (k=3 demands longer untouched runs, 0.75 drops
          // the one-perturbed-frame regime, cap 8 forces drops on the
          // narrow pattern space)
          val bm = pick(Seq(8L, 32L, 128L)); val k = pick(Seq(2, 3))
          val thr = pick(Seq(0.34, 0.5, 0.75)); val mb = pick(Seq(8, 1000))
          (graft.llm.TextDedup.frameSequencePairs(
            graft.llm.Multimodal.videoFrameHashes(
              graft.llm.Multimodal.withSyntheticVideoClips(docs, "doc_id",
                baseMod = bm),
              "doc_id"),
            "id", "frame_idx", "fhash", shingleK = k, threshold = thr,
            maxBucket = mb),
            videoSeqPairsSql(bm, k, thr, mb),
            s"b${bm}_k${k}_t${thr}_mb$mb")
        case "audio_seg" =>
          // drawn family width × planted offset × match floor × bucket
          // cap over the offset-WAV fixture — offset 256 = one segment
          // hop (the re-alignment regime), 64 = sub-hop (the documented
          // miss), 0 = exact-duplicate control; minShared 7 demands ALL
          // segments match; cap 16 straddles the 15-16-member value
          // buckets the bm=32 fixture concentrates (the binding regime
          // the no-silent-caps telemetry exists for)
          val bm = pick(Seq(8L, 32L)); val off = pick(Seq(0, 64, 256, 512))
          val ms = pick(Seq(1, 3, 7)); val mb = pick(Seq(16, 1000))
          (graft.llm.TextDedup.sharedKeyPairs(
            graft.llm.Multimodal.audioSegmentHashes(
              graft.llm.Multimodal.withSyntheticOffsetWavs(docs, "doc_id",
                offsetSamples = off, baseMod = bm),
              "doc_id"),
            "id", "shash", minShared = ms, maxBucket = mb),
            audioSegPairsSql(bm, off, ms, mb),
            s"b${bm}_o${off}_ms${ms}_mb$mb")
        case "audio_seg_dropped" =>
          // the dropped-bucket TELEMETRY relation itself under a drawn
          // binding cap — the no-silent-caps contract hash-verified at
          // randomized geometries (cap 4 drops nearly everything at
          // bm=8, cap 30 only the hottest aliased values)
          val bm = pick(Seq(8L, 32L)); val off = pick(Seq(0, 256))
          val mb = pick(Seq(4, 16, 30))
          (graft.llm.TextDedup.sharedKeyPairsWithStats(
            graft.llm.Multimodal.audioSegmentHashes(
              graft.llm.Multimodal.withSyntheticOffsetWavs(docs, "doc_id",
                offsetSamples = off, baseMod = bm),
              "doc_id"),
            "id", "shash", maxBucket = mb).droppedBuckets,
            audioSegDroppedSql(bm, off, mb),
            s"b${bm}_o${off}_mb$mb")
        case "image_hash" =>
          // drawn hamming radius × bucket cap over the pattern-image
          // fixture: radius 0 = exact-duplicate regime, 3 = the
          // pigeonhole-guaranteed radius, 6 = recall beyond the
          // guarantee (pairs are still blocking-defined — the mirror
          // replicates the blocking, so the relation is exact either
          // way); cap 20 forces dropped buckets on the hot patterns
          val mh = pick(Seq(0, 3, 6)); val mb = pick(Seq(20, 1000))
          val bm = pick(Seq(8L, 32L, 128L)) // drawn pattern-space width
          (graft.llm.TextDedup.hammingHashPairs(
            graft.llm.Multimodal.imageHashes(
              graft.llm.Multimodal.withSyntheticPatternImages(docs, "doc_id",
                baseMod = bm),
              "doc_id"),
            "id", "dhash", chunkBits = 16, maxHamming = mh, maxBucket = mb),
            imageHashPairsSql(mh, mb, bm),
            s"h${mh}_mb${mb}_b$bm")
        case "audio_hash" =>
          // drawn hamming radius × cap × pattern-space width over the
          // synthetic-WAV fixture — the REAL javax.sound decode path
          // under randomized pair-stage parameters
          val mh = pick(Seq(0, 2, 5)); val mb = pick(Seq(20, 1000))
          val bm = pick(Seq(8L, 32L, 128L))
          (graft.llm.TextDedup.hammingHashPairs(
            graft.llm.Multimodal.audioHashes(
              graft.llm.Multimodal.withSyntheticWavs(docs, "doc_id",
                baseMod = bm),
              "doc_id"),
            "id", "whash", chunkBits = 16, maxHamming = mh, maxBucket = mb),
            audioHashPairsSql(mh, mb, bm),
            s"h${mh}_mb${mb}_b$bm")
        case "editdist_decontam" =>
          // drawn char-shingle banding × lev radius × combined bucket
          // cap over the doc_id%10 train/eval split — the bipartite
          // relation under cap pressure on BOTH sides plus the
          // anti-join endgame
          val n = pick(Seq(3, 5)); val bands = pick(Seq(4, 6))
          val r = pick(Seq(1, 2, 4)); val md = pick(Seq(1, 5, 10))
          val mb = pick(Seq(50, 1000))
          (graft.llm.TextDedup.editDecontaminateMd5(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
            maxDist = md, shingleN = n, bands = bands, rowsPerBand = r,
            maxBucket = mb).select("doc_id"),
            editDecontamSql(n, bands, r, md, mb),
            s"n${n}_b${bands}x${r}_d${md}_mb$mb")
        case "editdist_pairs" =>
          // drawn char-shingle banding × lev threshold × bucket cap:
          // small caps drop degenerate buckets on BOTH sides; maxDist=1
          // lands the near-exact regime, 10 the loose one
          val n = pick(Seq(3, 5)); val bands = pick(Seq(4, 6))
          val r = pick(Seq(1, 2, 4)); val md = pick(Seq(1, 5, 10))
          val mb = pick(Seq(50, 1000))
          (graft.llm.TextDedup.editDistancePairsMd5(docs, "text", "doc_id",
            maxDist = md, shingleN = n, bands = bands, rowsPerBand = r,
            maxBucket = mb),
            editPairsSql(n, bands, r, md, mb),
            s"n${n}_b${bands}x${r}_d${md}_mb$mb")
        case "heavy_hitters" =>
          // exact two-phase Misra-Gries under drawn key column × k ×
          // weighting: the k draw sweeps the strict w*(k+1) > W
          // threshold across the fixture's distribution boundaries
          // (lang: k=4..6 straddle the de/fr exclusion; source is
          // count-uniform so unweighted draws go empty at every k < 19
          // while n_chars weighting splits the sources), and the engine
          // side re-runs the candidate phase under whatever partitioning
          // the scan produced — the mirror is the full groupBy, so every
          // draw re-proves partitioning-independent exactness
          val hk = pick(Seq(1, 2, 4, 6, 9, 19, 40))
          val (kc, wc, wSql, wTag) = pick(Seq(
            ("lang", None, "1", "none"),
            ("source", None, "1", "none"),
            ("lang", Some("n_chars"), "coalesce(n_chars, 0)", "nchars"),
            ("source", Some("n_chars"), "coalesce(n_chars, 0)", "nchars")))
          (graft.llm.SkewOps.heavyHitters(docs, kc, hk, wc),
            s"""WITH t AS (SELECT $kc AS key, CAST($wSql AS BIGINT) AS w
               |  FROM documents),
               |a AS (SELECT key, CAST(sum(w) AS BIGINT) AS w FROM t GROUP BY key),
               |tot AS (SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS total_w FROM t)
               |SELECT a.key, a.w, tot.total_w FROM a, tot
               |WHERE a.w * ${hk + 1} > tot.total_w""".stripMargin,
            s"${kc}_k${hk}_w$wTag")
        case "hot_keys" =>
          // the streaming hot-key alert twin under drawn key × threshold
          // × weighting × chunking × restart injection: thresholds are
          // chosen to land below, inside, exactly on, and above the
          // fixture's running totals, so draws exercise first-chunk
          // alerts, mid-replay crossings, boundary-exact crossings, and
          // the never-fires path; the mirror is the batch running-sum
          // window regenerated from the same draw
          val (kc2, wc2, wSql2, wTag2, thrGrid) = pick(Seq(
            ("lang", None, "1", "none", Seq(10L, 40L, 70L, 75L, 100000L)),
            ("source", None, "1", "none", Seq(5L, 24L, 25L, 400L)),
            ("lang", Some("n_chars"), "coalesce(n_chars, 0)", "nchars",
              Seq(2000L, 22000L, 60000L)),
            ("source", Some("n_chars"), "coalesce(n_chars, 0)", "nchars",
              Seq(1000L, 7000L, 1000000L))))
          val thr = pick(thrGrid)
          val chunk2 = pick(Seq(50, 100, 500))
          val hkRestart = rng.nextBoolean()
          val hkOut = graft.streaming.UniqueStreams.withRocksDBStateStore(spark) {
            if (hkRestart)
              graft.streaming.Replay.replayWithRestart(spark, docs, "doc_id",
                chunk2)(sdf => graft.streaming.HotKeyStream.hotKeyAlerts(
                  sdf, kc2, "doc_id", thr, wc2))
            else
              graft.streaming.Replay.replay(spark, docs, "doc_id", chunk2,
                "append")(sdf => graft.streaming.HotKeyStream.hotKeyAlerts(
                  sdf, kc2, "doc_id", thr, wc2))
          }
          (hkOut,
            s"""WITH t AS (SELECT $kc2 AS key, doc_id AS o,
               |  CAST($wSql2 AS BIGINT) AS w FROM documents),
               |r AS (SELECT key, o, w,
               |  CAST(sum(w) OVER (PARTITION BY key ORDER BY o) AS BIGINT) AS rs
               |  FROM t)
               |SELECT key, o AS at_order, rs AS running_w FROM r
               |WHERE rs - w < $thr AND rs >= $thr""".stripMargin,
            s"${kc2}_t${thr}_w${wTag2}_ch$chunk2${if (hkRestart) "_restart" else ""}")
        case "semdedup_stream" =>
          // the STREAMING twin through the replay harness with the same
          // drawn geometry grid as the batch family (cells × Lloyd ×
          // ε × hot-cell cap) plus drawn chunking — the final verdicts
          // must hash-match the SAME regenerated batch mirror, capped
          // regimes included (saturation re-promotion is retroactive)
          val nc = pick(Seq(8, 16, 32)); val ll = pick(Seq(0, 1, 2))
          val epsQ = pick(Seq(0.25, 0.3125, 0.375))
          val mc = pick(Seq(25, 60, 1 << 20))
          val chunk = pick(Seq(300, 1000))
          val d = graft.streaming.UniqueStreams.withRocksDBStateStore(spark) {
            val cents = graft.llm.Similarity.semDedupCentroids(emb, "vec_id",
              "embedding", dim = 64, nCells = nc, lloydIters = ll)
            graft.streaming.Replay.replay(spark, emb, "vec_id", chunk,
              "update")(sdf => graft.streaming.SemDedupStream.semDedupStream(
                sdf, "vec_id", "embedding", dim = 64, eps = epsQ,
                centroids = cents, maxCell = mc))
              .filter(col("change").isin("keep", "drop"))
              .groupBy(col("vec_id"))
              .agg(max_by(col("change"), col("upd_seq")).as("change"))
              .filter(col("change") === "keep")
              .select("vec_id")
          }
          (d, embSemDedupSql(nc, ll, epsQ, mc),
            s"c${nc}_l${ll}_e${epsQ}_mc${mc}_ch$chunk")
        case "emb_ivfpq_stream" =>
          // the CELL-BUCKETED streaming form through the replay harness:
          // every arrival retrieves against earlier arrivals from its
          // nProbe nearest cells' code lists; randomized geometry through
          // the PROCESSOR, not just the batch reinterpretation — and a
          // drawn DIRECT-vs-RESIDUAL state encoding
          val nc = pick(Seq(8, 16, 32)); val np = pick(Seq(2, 4))
          val ns = pick(Seq(4, 8)); val kk = pick(Seq(5, 10))
          val rs = pick(Seq(false, true))
          val d = graft.streaming.UniqueStreams.withRocksDBStateStore(spark) {
            val (cent, cb) =
              if (rs) {
                val model = graft.llm.Similarity.residualPqModel(emb, "vec_id",
                  "embedding", dim = 64, nCells = nc, nSub = ns, codesPerSub = 16)
                (model.cells.map { case (cell, c, _, _) => (cell, c) },
                  model.codebook)
              } else {
                (graft.llm.Similarity.anchorCentroids(emb, "vec_id",
                    "embedding", dim = 64, nCells = nc),
                  graft.llm.Similarity.anchorCodebook(emb, "vec_id",
                    "embedding", dim = 64, nSub = ns, codesPerSub = 16)._1)
              }
            graft.streaming.Replay.replay(spark, emb, "vec_id", 1000,
              "append")(sdf => graft.streaming.AnnStream.ivfPqAnnStream(sdf,
                "vec_id", "embedding", centroids = cent, codebook = cb,
                codesPerSub = 16, k = kk, nProbe = np, residual = rs))
          }
          (d, if (rs) embIvfPqResidualSql(nc, np, ns, 16, kk, stream = true)
              else embIvfPqSql(nc, np, ns, 16, kk, stream = true),
            s"c${nc}p${np}s${ns}_k$kk${if (rs) "_res" else ""}")
        case "ann_sharded_stream" =>
          // the CELL-SHARDED two-stage bridge with randomized geometry —
          // the new operator's differential coverage: drawn cells ×
          // probes × subspaces × residual × stage-A chunking × (round 14)
          // Lloyd-trained-codebook passes in direct mode — the last
          // batch-vs-stream sweep asymmetry (the batch emb_ivfpq family
          // draws lloyd_iters; residual draws stay anchor-codebook, no
          // residual-Lloyd mirror) — same mirrors as the monolith stream
          // family (the bridge computes the identical retrieval log)
          val nc = pick(Seq(8, 16, 32)); val np = pick(Seq(2, 4))
          val ns = pick(Seq(4, 8)); val kk = pick(Seq(5, 10))
          val rs = pick(Seq(false, true))
          val chunkA = pick(Seq(700, 1000))
          val ll = if (rs) 0 else pick(Seq(0, 1, 2))
          val d = graft.streaming.UniqueStreams.withRocksDBStateStore(spark) {
            val (cent, cb) =
              if (rs) {
                val model = graft.llm.Similarity.residualPqModel(emb, "vec_id",
                  "embedding", dim = 64, nCells = nc, nSub = ns, codesPerSub = 16)
                (model.cells.map { case (cell, c, _, _) => (cell, c) },
                  model.codebook)
              } else {
                (graft.llm.Similarity.anchorCentroids(emb, "vec_id",
                    "embedding", dim = 64, nCells = nc),
                  graft.llm.Similarity.trainedCodebook(emb, "vec_id",
                    "embedding", dim = 64, nSub = ns, codesPerSub = 16,
                    lloydIters = ll)._1)
              }
            val hits = graft.streaming.Replay.replay(spark, emb, "vec_id",
              chunkA, "append")(sdf =>
                graft.streaming.AnnStream.shardedIvfPqCellHits(sdf,
                  "vec_id", "embedding", centroids = cent, codebook = cb,
                  codesPerSub = 16, k = kk, nProbe = np, residual = rs))
            graft.streaming.Replay.replay(spark, hits, "query_id", 1 << 20,
              "append")(sdf =>
                graft.streaming.AnnStream.annMergeStage(sdf, nProbe = np, k = kk))
          }
          (d, if (rs) embIvfPqResidualSql(nc, np, ns, 16, kk, stream = true)
              else embIvfPqSql(nc, np, ns, 16, kk, stream = true, lloydIters = ll),
            s"c${nc}p${np}s${ns}_k$kk${if (rs) "_res" else ""}_a$chunkA" +
              (if (ll > 0) s"_l$ll" else ""))
        case "curation_pipeline" =>
          // every stage parameter drawn JOINTLY: split modulus and fuzzy
          // geometry (decontam stage), per-source cap, packing budget —
          // the oracle SQL is regenerated from the same draw, each stage
          // consuming the previous stage's output
          val sn = pick(Seq(2, 3)); val bands = pick(Seq(2, 4))
          val r = pick(Seq(1, 2)); val th = pick(Seq(0.2, 0.5))
          val mb = pick(Seq(50, 1000)); val em = pick(Seq(5, 10))
          val cap = pick(Seq(3, 10, 26)); val budget = pick(Seq(128, 512))
          val deduped = graft.llm.TextDedup.exactDedup(docs, Seq("text"), "doc_id")
          val dec = graft.llm.TextDedup.fuzzyDecontaminateMd5(
            deduped.filter(col("doc_id") % em =!= 0),
            docs.filter(col("doc_id") % em === 0),
            "doc_id", "text", sn, bands, r, th, mb)
          val capped = graft.llm.CorpusOps.capPerGroup(dec, "source", "doc_id", cap)
          (graft.llm.CorpusOps.packSequences(capped, "doc_id", "text", "source", budget),
            curationPipelineSql(sn, bands, r, th, mb, em, cap, budget),
            s"sn${sn}_b${bands}x${r}_t${th}_mb${mb}_m${em}_c${cap}_bu$budget")
        case "mm_curation_pipeline" =>
          // the CROSS-MODAL composition with the image gate's geometry
          // drawn JOINTLY with the text stages: hamming radius 0 keeps
          // the one-flipped-pixel variants (a LARGER survivor set flows
          // into the text tiers), radius 3 collapses whole families;
          // pattern width, decontam geometry, cap and budget as in the
          // text-only family
          val mh = pick(Seq(0, 3)); val bmI = pick(Seq(8L, 32L))
          val sn = pick(Seq(2, 3)); val bands = pick(Seq(2, 4))
          val r = pick(Seq(1, 2)); val th = pick(Seq(0.2, 0.5))
          val mb = pick(Seq(50, 1000)); val em = pick(Seq(5, 10))
          val cap = pick(Seq(3, 10, 26)); val budget = pick(Seq(128, 512))
          val imgKept = graft.llm.TextDedup.dedupByPairs(docs, "doc_id",
            graft.llm.TextDedup.hammingHashPairs(
              graft.llm.Multimodal.imageHashes(
                graft.llm.Multimodal.withSyntheticPatternImages(docs, "doc_id",
                  baseMod = bmI), "doc_id"),
              "id", "dhash", maxHamming = mh).select("id_a", "id_b"))
          val deduped = graft.llm.TextDedup.exactDedup(imgKept, Seq("text"), "doc_id")
          val dec = graft.llm.TextDedup.fuzzyDecontaminateMd5(
            deduped.filter(col("doc_id") % em =!= 0),
            docs.filter(col("doc_id") % em === 0),
            "doc_id", "text", sn, bands, r, th, mb)
          val capped = graft.llm.CorpusOps.capPerGroup(dec, "source", "doc_id", cap)
          (graft.llm.CorpusOps.packSequences(capped, "doc_id", "text", "source", budget),
            mmCurationPipelineSql(mh, bmI, sn, bands, r, th, mb, em, cap, budget),
            s"h${mh}_ib${bmI}_sn${sn}_b${bands}x${r}_t${th}_mb${mb}_m${em}_c${cap}_bu$budget")
      }
      // llm draws don't use the event-key grid — keep their names to the
      // parameters that actually vary
      val rsTag = if (usedRestart) "_restart" else ""
      val name = if (llmMode) f"draw$i%03d_${fam}_$tag"
                 else f"draw$i%03d_${fam}_${keys.mkString("-")}_$tag$rsTag"
      try {
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        oracles(name) = sql
        ok += 1
        System.err.println(s"[sweep] $name written")
      } catch {
        case scala.util.control.NonFatal(e) =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
          System.err.println(s"[sweep] $name FAILED: ${e.getMessage}")
      }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    println(s"""{"draws":$nDraws,"written":$ok,"errors":${errors.size},"seed":$seed}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
