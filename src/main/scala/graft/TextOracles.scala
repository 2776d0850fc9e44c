package graft

/** The DuckDB oracle SQL of the text-curation tier (`llm.TextDedup`,
  * `llm.CorpusOps`, `llm.TextSearch`, `llm.Bpe`, `llm.SkewOps` and their
  * streaming twins), one builder per operator family.
  *
  * This is the only definition of these oracles: the fixed registry rows
  * in `SparkEntry.registry` call the builders at their pinned parameters
  * (shingleN = 3, bands 4×2, threshold 0.2, the doc_id % 10 eval split,
  * …), and `tools.SweepVerify` calls them at seeded random draws. Rows
  * with no sweep family (quality, langid, pii, …) are single builders
  * here too. Every builder reads the `documents` table.
  */
private[graft] object TextOracles {

  /** The full `documents` row, as the dedup and sampling rows project it. */
  val DOCSQL = "doc_id, text, lang, source, n_chars"

  /** TextDedup.tokenize: lowercase, split on non-letter/non-digit runs. */
  private val TOKS = """list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '')"""

  /** The BPE-ish token count shared by doc_text_stats, pack and token mix. */
  private val NTOK = """CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS n_tok"""

  /** Connected components of the pair relation `edges(id_a, id_b)` as a
    * recursive-CTE transitive closure (feasible at oracle scale: closure
    * size is Σ component-size², and near-dup components are tiny): every
    * member id labeled with the minimum reachable id — the ground truth
    * for the engine's min-label propagation and union-find. The CTEs are
    * `<prefix>nodes`, `<prefix>eg`, `<prefix>reach`, `<prefix>cc(id,
    * cluster_id)`; a prefix keeps them apart from a caller's own CTEs.
    */
  def components(edges: String, prefix: String): String = {
    val p = prefix
    s"""${p}nodes AS (SELECT DISTINCT id FROM (
       |  SELECT id_a AS id FROM $edges UNION ALL SELECT id_b AS id FROM $edges)),
       |${p}eg AS (SELECT id_a AS a, id_b AS b FROM $edges
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM $edges),
       |${p}reach AS (
       |  SELECT id, id AS r FROM ${p}nodes
       |  UNION
       |  SELECT ${p}eg.a AS id, ${p}reach.r FROM ${p}eg JOIN ${p}reach ON ${p}reach.id = ${p}eg.b),
       |${p}cc AS (SELECT id, min(r) AS cluster_id FROM ${p}reach GROUP BY id)""".stripMargin
  }

  /** Min-id connected-component dedup: the `cols` of `rel` whose `idCol`
    * is no component's non-minimum member — survivors = min id per
    * component of the `edges` pairs built by `ctes`, plus every row in
    * no pair.
    */
  def ccSurvivorsSql(ctes: String, edges: String, prefix: String = "",
                     cols: String = "doc_id", rel: String = "documents",
                     idCol: String = "doc_id"): String =
    s"WITH RECURSIVE $ctes,\n${components(edges, prefix)}\n" +
      s"SELECT $cols FROM $rel\n" +
      s"WHERE $idCol NOT IN (SELECT id FROM ${prefix}cc WHERE id <> cluster_id)"

  // ---- md5 minhash family (TextDedup.minhashPairsMd5, nearDupClusters,
  // crossMinhashPairsMd5, FuzzyDecontamStream) ----

  /** md5-family shingle CTEs for any gram size n (mirrors
    * TextDedup.shingleHashes(_, n, Md5Hash): left fold
    * md5(md5(th1||th2)||th3)…, n=1 → the bare token hash).
    */
  private def md5ShingleCtesN(n: Int): String = {
    val fold = (1 until n).foldLeft("th[i]")((acc, j) => s"md5($acc || th[i+$j])")
    s"""tk AS (SELECT doc_id,
       |  list_transform($TOKS,
       |    t -> md5(t)) AS th FROM documents),
       |sh0 AS (SELECT doc_id, list_distinct(list_transform(
       |  generate_series(1, greatest(len(th) - ${n - 1}, 0)),
       |  i -> $fold)) AS sh FROM tk),
       |s2 AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0)""".stripMargin
  }

  /** Set-Jaccard over two (already distinct) shingle arrays; one double
    * division so the value is bit-exact across engines.
    */
  private def md5JaccardExpr(a: String, b: String): String =
    s"len(list_filter($a, x -> list_contains($b, x)))::DOUBLE" +
      s" / (len($a) + len($b) - len(list_filter($a, x -> list_contains($b, x))))"

  /** The k = bands·r minhash signature items: per-seed min of md5(h || '#i'). */
  private def sigItems(k: Int): String =
    (0 until k).map(i =>
      s"list_min(list_transform(sh, h -> md5(h || '#$i')))").mkString(",\n    ")

  /** Band hash = md5 of the band's signature slice joined by '|' plus '#band'. */
  private def bandCase(bands: Int, r: Int): String =
    (0 until bands).map { b =>
      val parts = (1 to r).map(j => s"sig[${b * r + j}]").mkString(" || '|' || ")
      s"WHEN $b THEN md5($parts || '#$b')"
    }.mkString(" ")

  private def bandList(bands: Int): String = (0 until bands).mkString(", ")

  /** Minhash pair CTE chain ending in mp(id_a, id_b, jaccard):
    * bucket-capped band self-join, distinct pairs, one exact Jaccard
    * verify.
    */
  private def minhashCtes(shingleN: Int, bands: Int, r: Int,
                          threshold: Double, maxBucket: Int): String =
    s"""${md5ShingleCtesN(shingleN)},
       |sig AS (SELECT doc_id, [${sigItems(bands * r)}] AS sig FROM s2),
       |banded AS (SELECT doc_id, band, CASE band ${bandCase(bands, r)} END AS bh
       |  FROM sig CROSS JOIN (SELECT unnest([${bandList(bands)}]) AS band) b),
       |ok AS (SELECT band, bh FROM banded GROUP BY band, bh
       |  HAVING count(*) <= $maxBucket AND count(*) > 1),
       |ib AS (SELECT banded.* FROM banded JOIN ok USING (band, bh)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ib a JOIN ib b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |j AS (SELECT id_a, id_b, ${md5JaccardExpr("sa.sh", "sb.sh")} AS jaccard
       |  FROM cand JOIN s2 sa ON sa.doc_id = cand.id_a
       |            JOIN s2 sb ON sb.doc_id = cand.id_b),
       |mp AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $threshold)""".stripMargin

  def minhashPairsSql(shingleN: Int, bands: Int, r: Int,
                      threshold: Double, maxBucket: Int): String =
    s"""WITH ${minhashCtes(shingleN, bands, r, threshold, maxBucket)}
       |SELECT id_a, id_b, jaccard FROM mp""".stripMargin

  def clustersSql(shingleN: Int, bands: Int, r: Int,
                  threshold: Double, maxBucket: Int): String =
    s"""WITH RECURSIVE ${minhashCtes(shingleN, bands, r, threshold, maxBucket)},
       |${components("mp", "")}
       |SELECT id AS doc_id, cluster_id FROM cc""".stripMargin

  /** Near-dup dedup survivors (min id per minhash component); `cols`
    * picks the projected document columns.
    */
  def dedupIdsSql(shingleN: Int, bands: Int, r: Int,
                  threshold: Double, maxBucket: Int, cols: String = "doc_id"): String =
    ccSurvivorsSql(minhashCtes(shingleN, bands, r, threshold, maxBucket), "mp", cols = cols)

  /** Minhash pair chain over the doc_id % evalMod train/eval split — the
    * fuzzy-decontamination candidate relation: a (band, bucket) is
    * admitted iff both sides appear AND the combined occupancy is
    * ≤ maxBucket; candidates are the bipartite product. `trnCte`
    * replaces the train side (the curation pipelines restrict it to the
    * exact-dedup survivors).
    */
  private def crossMinhashCtes(shingleN: Int, bands: Int, r: Int,
                               threshold: Double, maxBucket: Int,
                               evalMod: Int,
                               trnCte: Option[String] = None): String = {
    val trn = trnCte.getOrElse(
      s"trn AS (SELECT * FROM s2 WHERE doc_id % $evalMod <> 0)")
    val items = sigItems(bands * r)
    val bc = bandCase(bands, r)
    s"""${md5ShingleCtesN(shingleN)},
       |$trn,
       |evl AS (SELECT * FROM s2 WHERE doc_id % $evalMod = 0),
       |sigT AS (SELECT doc_id, [$items] AS sig FROM trn),
       |sigE AS (SELECT doc_id, [$items] AS sig FROM evl),
       |bT AS (SELECT doc_id, band, CASE band $bc END AS bh
       |  FROM sigT CROSS JOIN (SELECT unnest([${bandList(bands)}]) AS band) b),
       |bE AS (SELECT doc_id, band, CASE band $bc END AS bh
       |  FROM sigE CROSS JOIN (SELECT unnest([${bandList(bands)}]) AS band) b),
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

  def crossPairsSql(shingleN: Int, bands: Int, r: Int,
                    threshold: Double, maxBucket: Int, evalMod: Int): String =
    s"""WITH ${crossMinhashCtes(shingleN, bands, r, threshold, maxBucket, evalMod)}
       |SELECT id_a, id_b, jaccard FROM mp""".stripMargin

  /** Mirror of `FuzzyDecontamStream.contaminationLogMd5`'s STREAM cap
    * semantics: the bucket cap applies to the STATIC EVAL side only
    * (the stream side's occupancy is unknowable online), so `okx` admits
    * a bucket iff its eval occupancy is ≤ maxBucket — the regime where
    * the batch combined cap and the stream eval cap diverge.
    */
  def crossPairsStreamSql(shingleN: Int, bands: Int, r: Int,
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

  def fuzzyDecontamSql(shingleN: Int, bands: Int, r: Int,
                       threshold: Double, maxBucket: Int, evalMod: Int): String =
    s"""WITH ${crossMinhashCtes(shingleN, bands, r, threshold, maxBucket, evalMod)}
       |SELECT doc_id FROM documents
       |WHERE doc_id % $evalMod <> 0 AND doc_id NOT IN (SELECT id_a FROM mp)""".stripMargin

  /** The text stages of the curation composition over the relation `src`:
    * exact dedup (min doc_id per text) → cross-pairs with the train side
    * restricted to dedup survivors → anti-join the contaminated ids →
    * per-source cap → the packSequences window, each stage consuming the
    * previous stage's output exactly as the Spark chain does.
    */
  def curationStagesSql(src: String, shingleN: Int, bands: Int, r: Int,
                        threshold: Double, maxBucket: Int,
                        evalMod: Int, cap: Int, budget: Int): String = {
    val cross = crossMinhashCtes(shingleN, bands, r, threshold, maxBucket,
      evalMod, Some("trn AS (SELECT s2.* FROM s2 JOIN dd ON dd.doc_id = s2.doc_id" +
        s" WHERE s2.doc_id % $evalMod <> 0)"))
    s"""dd AS (SELECT doc_id, text, source FROM (
       |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |    FROM $src) WHERE rn = 1),
       |$cross,
       |surv AS (SELECT dd.* FROM dd
       |  WHERE dd.doc_id % $evalMod <> 0 AND dd.doc_id NOT IN (SELECT id_a FROM mp)),
       |capped AS (SELECT doc_id, text, source FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
       |    FROM surv) WHERE rk <= $cap),
       |pt AS (SELECT doc_id, source,
       |  $NTOK
       |  FROM capped)
       |${packSelect("pt", budget)}""".stripMargin
  }

  def curationPipelineSql(shingleN: Int, bands: Int, r: Int,
                          threshold: Double, maxBucket: Int,
                          evalMod: Int, cap: Int, budget: Int): String =
    "WITH " + curationStagesSql("documents", shingleN, bands, r, threshold,
      maxBucket, evalMod, cap, budget)

  // ---- character-level edit distance (TextDedup.editDistancePairsMd5,
  // editDecontaminateMd5) ----

  /** CHAR tokens (no lowercasing — the character-level contract), md5
    * n-gram fold, minhash signature and band hashes, ending in
    * banded(doc_id, band, bh) next to s2(doc_id, text, sh).
    */
  private def charBandCtes(shingleN: Int, bands: Int, r: Int): String = {
    val fold = (1 until shingleN).foldLeft("th[i]")((acc, j) => s"md5($acc || th[i+$j])")
    s"""tk AS (SELECT doc_id, text,
       |  list_transform(generate_series(1, length(text)), i -> md5(text[i])) AS th
       |  FROM documents),
       |sh0 AS (SELECT doc_id, text, list_distinct(list_transform(
       |  generate_series(1, greatest(len(th) - ${shingleN - 1}, 0)),
       |  i -> $fold)) AS sh FROM tk),
       |s2 AS (SELECT doc_id, text, sh FROM sh0 WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, [${sigItems(bands * r)}] AS sig FROM s2),
       |banded AS (SELECT doc_id, band, CASE band ${bandCase(bands, r)} END AS bh
       |  FROM sig CROSS JOIN (SELECT unnest([${bandList(bands)}]) AS band) b)""".stripMargin
  }

  /** Edit-distance pair chain ending in ep(id_a, id_b, dist): the band
    * self-join, then EXACT integer levenshtein ≤ maxDist (DuckDB's full
    * distance equals Spark's thresholded distance whenever it is within
    * the threshold).
    */
  private def editPairsCtes(shingleN: Int, bands: Int, r: Int,
                            maxDist: Int, maxBucket: Int): String =
    s"""${charBandCtes(shingleN, bands, r)},
       |ok AS (SELECT band, bh FROM banded GROUP BY band, bh
       |  HAVING count(*) <= $maxBucket AND count(*) > 1),
       |ib AS (SELECT banded.* FROM banded JOIN ok USING (band, bh)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ib a JOIN ib b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |ep AS (SELECT id_a, id_b, dist FROM (
       |  SELECT id_a, id_b, CAST(levenshtein(ta.text, tb.text) AS INTEGER) AS dist
       |  FROM cand JOIN s2 ta ON ta.doc_id = cand.id_a
       |           JOIN s2 tb ON tb.doc_id = cand.id_b)
       |  WHERE dist <= $maxDist)""".stripMargin

  def editPairsSql(shingleN: Int, bands: Int, r: Int,
                   maxDist: Int, maxBucket: Int): String =
    s"""WITH ${editPairsCtes(shingleN, bands, r, maxDist, maxBucket)}
       |SELECT id_a, id_b, dist FROM ep""".stripMargin

  /** Min-id component survivors of the edit-distance pairs (the batch
    * dedup and the streaming operator's converged survivor set).
    */
  def editDedupSql(shingleN: Int, bands: Int, r: Int, maxDist: Int,
                   maxBucket: Int, cols: String = "doc_id"): String =
    ccSurvivorsSql(editPairsCtes(shingleN, bands, r, maxDist, maxBucket), "ep", cols = cols)

  /** `TextDedup.editDecontaminateMd5` over the doc_id % 10 split: the
    * same hash construction with BIPARTITE candidates (train × eval
    * sharing a band bucket, combined occupancy ≤ maxBucket, no per-side
    * > 1 floor), exact integer lev ≤ maxDist verify, anti-join on the
    * contaminated train ids.
    */
  def editDecontamSql(shingleN: Int, bands: Int, r: Int,
                      maxDist: Int, maxBucket: Int): String =
    s"""WITH ${charBandCtes(shingleN, bands, r)},
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

  // ---- n-gram Jaccard and simhash (TextDedup.ngramJaccardPairsMd5,
  // simhashDfMd5, simhashPairsMd5) ----

  /** Block on the min shingle hash, cap blocks, verify with exact Jaccard. */
  def ngramPairsSql(shingleN: Int, threshold: Double, maxBucket: Int): String =
    s"""WITH ${md5ShingleCtesN(shingleN)},
       |blk AS (SELECT doc_id, sh, list_min(sh) AS block FROM s2),
       |ok AS (SELECT block FROM blk GROUP BY block
       |  HAVING count(*) <= $maxBucket AND count(*) > 1),
       |ib AS (SELECT blk.* FROM blk JOIN ok USING (block)),
       |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ${md5JaccardExpr("a.sh", "b.sh")} AS jaccard
       |  FROM ib a JOIN ib b ON a.block = b.block AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $threshold""".stripMargin

  /** The md5 simhash as CTEs ending in sh(doc_id, sim): per-token 60-bit
    * hash = first 15 hex chars of md5 (hex digits decoded via strpos,
    * exactly Spark's conv(_,16,10)); bit b is set iff more than half the
    * token hashes have bit b set.
    */
  private def simhashCtes: String = {
    val sums = (0 until 60).map(b => s"sum((hv >> $b) & 1)::BIGINT AS c$b").mkString(", ")
    val terms = (0 until 60).map(b =>
      s"CASE WHEN 2*c$b > n THEN (1::BIGINT << $b) ELSE 0::BIGINT END").mkString("\n  + ")
    s"""t AS (SELECT doc_id,
       |    $TOKS AS toks
       |  FROM documents),
       |u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       |m AS (SELECT doc_id, md5(tok) AS mh FROM u),
       |h AS (SELECT doc_id, list_sum(list_transform(generate_series(1, 15),
       |    i -> (strpos('0123456789abcdef', substr(mh, i, 1)) - 1)::BIGINT * (1::BIGINT << (4*(15-i)))))::BIGINT AS hv
       |  FROM m),
       |cc AS (SELECT doc_id, count(*)::BIGINT AS n, $sums FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, $terms AS sim FROM cc)""".stripMargin
  }

  def simhashSql: String =
    s"""WITH $simhashCtes
       |SELECT doc_id, sim AS simhash_md5 FROM sh""".stripMargin

  /** simhashPairsMd5 for any (maxHamming ≤ 3, maxBucket): the 4×15-bit
    * chunk buckets are structural (pigeonhole-complete for hamming ≤ 3);
    * only the verify threshold and cap move.
    */
  def simhashPairsSql(maxHamming: Int, maxBucket: Int): String =
    s"""WITH $simhashCtes,
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

  /** Exact dedup: the min doc_id per distinct value of `cols`. */
  def exactDedupIdsSql(cols: Seq[String]): String =
    s"SELECT min(doc_id) AS doc_id FROM documents GROUP BY ${cols.mkString(", ")}"

  /** Exact dedup on text as full rows (the batch row and firstStream keyed
    * on text, fed in doc_id order).
    */
  def exactDedupSql: String =
    s"""SELECT $DOCSQL FROM (
       |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM documents) WHERE rn = 1""".stripMargin

  // ---- duplicated spans and lines (TextDedup.duplicateSpans,
  // CorpusOps.duplicateLines / lineDedup over withSyntheticLines) ----

  /** k-token window occurrences → corpus-wide dup filter (≥ minCount) →
    * per-doc gaps-and-islands merge on a running max of inclusive span
    * ends, ending in isl(doc_id, s, e, island) next to t(doc_id, toks).
    */
  private def spanIslandCtes(k: Int, minCount: Int): String =
    s"""t AS (SELECT doc_id,
       |  $TOKS AS toks
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
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m)""".stripMargin

  def dupSpansSql(k: Int, minCount: Int): String =
    s"""WITH ${spanIslandCtes(k, minCount)}
       |SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
       |  max(e) - min(s) + 1 AS span_tokens
       |FROM isl GROUP BY doc_id, island""".stripMargin

  def spanRemovalSql(k: Int, minCount: Int): String =
    s"""WITH ${spanIslandCtes(k, minCount)},
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
    s"""t AS (SELECT doc_id,
      |  $TOKS AS toks
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
  /** The 0-based (doc, pos) of every line appearing in ≥ minDf distinct docs. */
  def dupLinesSql(minDf: Int): String =
    s"WITH $syntheticLineCtes,\n" +
      s"""dup AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= $minDf)
         |SELECT doc_id, j - 1 AS pos FROM l WHERE line IN (SELECT line FROM dup)""".stripMargin

  def lineDedupSql(minDf: Int): String =
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

  // ---- n-gram decontamination, boilerplate, packing, sampling, caps ----

  /** Word n-gram overlap of each train doc against the doc_id % evalMod
    * eval split.
    */
  def decontamSql(n: Int, evalMod: Long): String =
    s"""WITH t AS (SELECT doc_id,
       |  $TOKS AS toks
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

  def boilerplateSql(n: Int, minDf: Int): String =
    s"""WITH t AS (SELECT doc_id,
       |  $TOKS AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(list_transform(
       |    generate_series(1, greatest(len(toks) - ${n - 1}, 0)),
       |    i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS gram FROM t)
       |SELECT gram, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_cnt
       |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= $minDf""".stripMargin

  /** packSequences' per-source running token offset (exclusive of the
    * row) and floor-division bin over the relation `rel(doc_id, source,
    * n_tok)`.
    */
  private def packSelect(rel: String, budget: Int): String =
    s"""SELECT doc_id, source, n_tok,
       |  CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) AS tok_offset,
       |  CAST(floor(CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) / $budget) AS BIGINT) AS bin_id
       |FROM $rel
       |WINDOW w AS (PARTITION BY source ORDER BY doc_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin

  def packSql(budget: Int): String =
    s"""WITH t AS (SELECT doc_id, source,
       |  $NTOK
       |  FROM documents)
       |${packSelect("t", budget)}""".stripMargin

  def sampleSql(enPrefix: String, defPrefix: String): String =
    s"""SELECT $DOCSQL FROM documents
       |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 4) <
       |  CASE WHEN lang = 'en' THEN '$enPrefix' ELSE '$defPrefix' END""".stripMargin

  /** CorpusOps.capPerGroup: the first `cap` doc_ids per `gcol` value. */
  def sourceCapSql(gcol: String, cap: Int): String =
    s"""SELECT doc_id, $gcol FROM (
       |  SELECT doc_id, $gcol,
       |    row_number() OVER (PARTITION BY $gcol ORDER BY doc_id) AS rk
       |  FROM documents) WHERE rk <= $cap""".stripMargin

  /** CorpusOps.mixByTokenBudget: the per-source running token sum
    * EXCLUSIVE of the current row and the greedy-fill cut (admit while
    * tok_before < budget), with per-source budget overrides. The stream's
    * per-group token counter in doc_id order IS this window.
    */
  def tokenMixSql(defaultBudget: Long, budgetByGroup: Seq[(String, Long)]): String = {
    val whens = budgetByGroup.map { case (g, b) => s"WHEN '$g' THEN $b" }.mkString(" ")
    s"""WITH t AS (SELECT doc_id, source,
       |  $NTOK
       |  FROM documents),
       |c AS (SELECT doc_id, source, n_tok,
       |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
       |  FROM t)
       |SELECT doc_id, source, n_tok, tok_before FROM c
       |WHERE tok_before < (CASE source $whens ELSE $defaultBudget END)""".stripMargin
  }

  /** Exact heavy hitters (SkewOps.heavyHitters): the strict w·(k+1) > W
    * threshold in integer arithmetic, `wSql` the per-row weight.
    */
  def heavyHittersSql(keyCol: String, wSql: String, k: Int): String =
    s"""WITH t AS (SELECT $keyCol AS key, CAST($wSql AS BIGINT) AS w
       |  FROM documents),
       |a AS (SELECT key, CAST(sum(w) AS BIGINT) AS w FROM t GROUP BY key),
       |tot AS (SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS total_w FROM t)
       |SELECT a.key, a.w, tot.total_w FROM a, tot
       |WHERE a.w * ${k + 1} > tot.total_w""".stripMargin

  /** HotKeyStream.hotKeyAlerts: the first arrival whose running weight
    * carries the key from below the threshold to at-or-above it (prev < T
    * AND rs >= T — the processor's crossing test, so zero-weight
    * arrivals at the boundary cannot fire). An ordered feed makes the
    * stream's per-key counter this window.
    */
  def hotKeysSql(keyCol: String, wSql: String, threshold: Long): String =
    s"""WITH t AS (SELECT $keyCol AS key, doc_id AS o,
       |  CAST($wSql AS BIGINT) AS w FROM documents),
       |r AS (SELECT key, o, w,
       |  CAST(sum(w) OVER (PARTITION BY key ORDER BY o) AS BIGINT) AS rs
       |  FROM t)
       |SELECT key, o AS at_order, rs AS running_w FROM r
       |WHERE rs - w < $threshold AND rs >= $threshold""".stripMargin

  // ---- corpus statistics (CorpusOps.lmPerplexity, dsirWeights,
  // TextSearch.bm25Stats, Bm25IngestStream) ----

  /** CorpusOps.lmPerplexity's integer sufficient statistics: train =
    * documents with doc_id % mod <> 0 (every document when `mod` is
    * None), score = every document; unigram/bigram train counts, the
    * per-(doc, bigram-type) multiplicities, both probe lookups, the
    * per-doc sums (HUGEINT sums cast back to BIGINT for schema parity).
    */
  def docLmPplSql(mod: Option[Int]): String = {
    val trainWhere = mod.fold("")(m => s" WHERE doc_id % $m <> 0")
    s"""WITH tt AS (SELECT $TOKS AS toks FROM documents$trainWhere),
       |t AS (SELECT doc_id, $TOKS AS toks FROM documents),
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

  /** CorpusOps.dsirWeights' integer surface: target = docs with
    * doc_id % mod = 0, raw pool = the rest, features = the gram sizes
    * md5-hashed into 16^hexChars buckets. The ln-based `logw` is not
    * hashed (doubles are not correctly rounded across engines).
    */
  def docDsirSql(mod: Int, hexChars: Int, gramNs: Seq[Int]): String = {
    val grams = gramNs.map { n =>
      if (n == 1) "toks"
      else s"list_transform(generate_series(1, greatest(len(toks) - ${n - 1}, 0)), " +
        s"i -> array_to_string(toks[i:i+${n - 1}], ' '))"
    }.reduce((a, b) => s"list_concat($a, $b)")
    s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
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

  /** The BM25 corpus (doc_id % mod <> 0) as t / corp / post0(tok, doc_id,
    * dl, tf) postings.
    */
  private def bm25PostingCtes(mod: Int): String =
    s"""t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |corp AS (SELECT doc_id, len(toks) AS dl, toks FROM t WHERE doc_id % $mod <> 0),
       |post0 AS (SELECT tok, doc_id, dl, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM corp)
       |  GROUP BY tok, doc_id, dl)""".stripMargin

  /** TextSearch.bm25Stats' integer surface: queries = the doc_id % mod = 0
    * docs, stopword pruning at maxDfFrac; the ln-based idf/score/rank are
    * spec-pinned, not hashed.
    */
  def docBm25Sql(mod: Int, maxDfFrac: Double): String =
    s"""WITH ${bm25PostingCtes(mod)},
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

  /** Bm25IngestStream's earlier-arrivals retrieval over the id-ordered
    * tagged feed: stored postings = each term's first-by-id `maxDf` docs
    * (the online Zipf-head saturation), a query sees stored postings with
    * doc_id < query_id, df at probe counts those same rows, then the
    * consumer-side (query, doc) fold.
    */
  def docBm25IngestSql(mod: Int, maxDf: Int): String =
    s"""WITH ${bm25PostingCtes(mod)},
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

  /** CorpusOps.qualityClfScore's integer surface over the lang='en'-vs-rest
    * labeled split (gramNs = 1,2, hexChars = 2, md5 family): the feature
    * buckets, both class count relations and the per-doc probe-join
    * folds. The NB log-odds score and pred are closed forms of these
    * integers, pinned by LlmOpsSpec, not hashed (doubles).
    */
  def docQualityClfSql: String =
    s"""WITH t AS (SELECT doc_id, lang,
      |  $TOKS AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, lang, list_concat(toks,
      |    list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
      |      i -> array_to_string(toks[i:i+1], ' '))) AS grams
      |  FROM t),
      |occ AS (SELECT doc_id, lang, substr(md5(gr), 1, 2) AS bucket
      |  FROM (SELECT doc_id, lang, unnest(grams) AS gr FROM g)),
      |cpos AS (SELECT bucket, count(*) AS c_pos FROM occ
      |  WHERE lang = 'en' GROUP BY bucket),
      |cneg AS (SELECT bucket, count(*) AS c_neg FROM occ
      |  WHERE lang <> 'en' GROUP BY bucket),
      |db AS (SELECT doc_id, bucket, count(*) AS m FROM occ
      |  GROUP BY doc_id, bucket),
      |j AS (SELECT db.doc_id, db.m,
      |    coalesce(cpos.c_pos, 0) AS c_pos, coalesce(cneg.c_neg, 0) AS c_neg
      |  FROM db LEFT JOIN cpos ON db.bucket = cpos.bucket
      |    LEFT JOIN cneg ON db.bucket = cneg.bucket),
      |a AS (SELECT doc_id, sum(m) AS n_grams,
      |    sum(CASE WHEN c_pos = 0 THEN m ELSE 0 END) AS oov_pos,
      |    sum(CASE WHEN c_neg = 0 THEN m ELSE 0 END) AS oov_neg,
      |    sum(c_pos * m) AS hit_pos, sum(c_neg * m) AS hit_neg
      |  FROM j GROUP BY doc_id)
      |SELECT t.doc_id,
      |  CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(coalesce(a.oov_pos, 0) AS BIGINT) AS oov_pos,
      |  CAST(coalesce(a.oov_neg, 0) AS BIGINT) AS oov_neg,
      |  CAST(coalesce(a.hit_pos, 0) AS BIGINT) AS hit_pos,
      |  CAST(coalesce(a.hit_neg, 0) AS BIGINT) AS hit_neg
      |FROM t LEFT JOIN a ON t.doc_id = a.doc_id""".stripMargin

  // ---- per-document analysis (llm.TextAnalysis, CorpusOps) ----

  def docTextStatsSql: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(str_split(text, ' '), x -> x <> '')) AS INTEGER) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS bpeish_tokens
      |FROM documents""".stripMargin

  /** llm.TextAnalysis.qualityColumns: same stopword list (embedded as a
    * SQL array literal), same left-associated arithmetic so IEEE doubles
    * match bit-for-bit; DuckDB regexp_replace needs the 'g' flag for
    * replace-all (Spark's default).
    */
  def docQualitySql: String = {
    val stops = llm.TextAnalysis.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    $TOKS AS toks
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, text, toks,
       |    CAST(len(toks) AS INTEGER) AS n_tokens,
       |    CASE WHEN len(text) = 0 THEN 0.0
       |      ELSE CAST(len(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) / len(text) END AS alpha_ratio,
       |    CASE WHEN len(text) = 0 THEN 0.0
       |      ELSE CAST(len(regexp_replace(text, '[\\p{L}\\p{Nd}\\s]', '', 'g')) AS DOUBLE) / len(text) END AS punct_ratio,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |      ELSE CAST(len(list_filter(toks, t -> list_contains($stops, t))) AS DOUBLE) / len(toks) END AS stopword_ratio,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |      ELSE CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) END AS mean_token_len
       |  FROM t)
       |SELECT doc_id, n_tokens, alpha_ratio, punct_ratio, stopword_ratio, mean_token_len,
       |  least(1.0, least(CAST(n_tokens AS DOUBLE) / 20, 1.0) * 0.3
       |    + alpha_ratio * 0.3
       |    + (1.0 - least(punct_ratio * 4, 1.0)) * 0.2
       |    + least(stopword_ratio * 3, 1.0) * 0.2) AS quality_score
       |FROM f""".stripMargin
  }

  /** llm.TextAnalysis.langId: per-language stopword hit counts (same
    * lists, multiset semantics) and the same fold order — languages
    * scanned alphabetically, a later language wins only on a STRICTLY
    * greater score; cjk ratio > 0.25 short-circuits to zh.
    */
  def docLangIdSql: String = {
    val langs = llm.TextAnalysis.stopwords.toSeq.sortBy(_._1)
    val hitCols = langs.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(toks, t -> list_contains($arr, t))) AS INTEGER) AS h_$l"
    }.mkString(",\n    ")
    // fold: best = first lang; each later lang wins iff strictly greater
    val fold = langs.tail.foldLeft((s"'${langs.head._1}'", s"h_${langs.head._1}")) {
      case ((bestExpr, scoreExpr), (l, _)) =>
        (s"CASE WHEN h_$l > $scoreExpr THEN '$l' ELSE $bestExpr END",
          s"greatest(h_$l, $scoreExpr)")
    }._1
    s"""WITH t AS (
       |  SELECT doc_id, lang, text,
       |    $TOKS AS toks
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, lang, text,
       |    $hitCols,
       |    CASE WHEN len(text) = 0 THEN 0.0
       |      ELSE CAST(len(regexp_replace(text, '[^\\p{Han}]', '', 'g')) AS DOUBLE) / len(text) END AS cjk
       |  FROM t)
       |SELECT doc_id, lang,
       |  CASE WHEN cjk > 0.25 THEN 'zh' ELSE $fold END AS pred_lang
       |FROM f""".stripMargin
  }

  /** Word- and bigram-repetition ratios; single double divisions of
    * integer counts, so values are bit-exact across engines.
    */
  def docRepetitionSql: String =
    s"""WITH t AS (SELECT doc_id,
      |  $TOKS AS toks
      |  FROM documents),
      |b AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_words,
      |  len(list_distinct(toks)) AS n_distinct,
      |  list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
      |    i -> array_to_string(toks[i:i+1], ' ')) AS grams
      |  FROM t),
      |w AS (SELECT doc_id, max(cnt) AS top_word_cnt FROM (
      |  SELECT doc_id, w, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY doc_id, w)
      |  GROUP BY doc_id),
      |g AS (SELECT doc_id, max(cnt) AS top_bigram_cnt, sum(cnt) AS n_bigrams FROM (
      |  SELECT doc_id, gr, count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(grams) AS gr FROM b) GROUP BY doc_id, gr)
      |  GROUP BY doc_id)
      |SELECT b.doc_id, n_words,
      |  CASE WHEN n_words = 0 THEN 0.0
      |    ELSE CAST(n_words - n_distinct AS DOUBLE) / n_words END AS dup_word_frac,
      |  CASE WHEN n_words = 0 THEN 0.0
      |    ELSE CAST(coalesce(top_word_cnt, 0) AS DOUBLE) / n_words END AS top_word_frac,
      |  CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
      |    ELSE CAST(top_bigram_cnt AS DOUBLE) / n_bigrams END AS top_bigram_frac
      |FROM b
      |LEFT JOIN w ON b.doc_id = w.doc_id
      |LEFT JOIN g ON b.doc_id = g.doc_id""".stripMargin

  def docPiiRedactSql: String =
    """WITH p AS (SELECT doc_id,
      |  text || ' contact user' || CAST(doc_id AS VARCHAR)
      |    || '@mail.example.com or call +1-555-'
      |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' AS pii_text
      |  FROM documents)
      |SELECT doc_id,
      |  regexp_replace(regexp_replace(pii_text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\+\d{1,3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted,
      |  CAST(len(regexp_extract_all(pii_text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
      |  CAST(len(regexp_extract_all(pii_text,
      |    '\+\d{1,3}-\d{3}-\d{4}')) AS INTEGER) AS n_phones
      |FROM p""".stripMargin

  def docFingerprintSql: String =
    """WITH t AS (SELECT doc_id,
      |  trim(regexp_replace(lower(text), '[^\p{L}\p{Nd}]+', ' ', 'g')) AS norm FROM documents)
      |SELECT doc_id,
      |  list_min(list_transform(generate_series(1, greatest(len(norm)-7, 1)),
      |    i -> md5(substr(norm, i, 8)))) AS fp_min_gram_md5,
      |  md5(norm) AS fp_full_md5
      |FROM t""".stripMargin

  // ---- BPE (llm.Bpe) ----

  /** Self-contained mirror of the BPE tier: re-derives TRAINING
    * (recursive choose/apply state machine over the bounded sample — best
    * pair by (max count, code-point lex), repeated leftmost single
    * merges) and ENCODING (greedy min-rank leftmost, one merge per
    * recursion step) from the raw table, per the determinism contract on
    * Bpe's scaladoc — no Spark-side literal reaches the mirror. Built by
    * plain concatenation, NOT stripMargin: the SQL is full of `||`
    * operators that stripMargin would eat at line starts. Ends with
    * done(doc_id, toks), tok2id(tok, id).
    */
  def docBpeCtes(sampleDocs: Int, sampleChars: Int, numMerges: Int,
                 encChars: Int, docsRel: String = "documents"): String =
    s"""smp AS (SELECT string_agg(substr(text, 1, $sampleChars), chr(10) ORDER BY doc_id) AS s
FROM (SELECT doc_id, text FROM $docsRel WHERE text IS NOT NULL ORDER BY doc_id LIMIT $sampleDocs)),
ini AS (SELECT list_transform(generate_series(1, length(s)), i -> s[i]) AS toks FROM smp),
tr AS (
  SELECT toks, 0 AS round, 0 AS step, CAST(NULL AS VARCHAR) AS cl,
         CAST(NULL AS VARCHAR) AS cr,
         CAST([] AS VARCHAR[]) AS ml, CAST([] AS VARCHAR[]) AS mr
  FROM ini
  UNION ALL
  SELECT * FROM (
    WITH cur AS (SELECT * FROM tr),
    choose AS (
      SELECT c.toks, c.round + 1, c.step + 1, b.l, b.r,
             list_append(c.ml, b.l), list_append(c.mr, b.r)
      FROM cur c, LATERAL (
        SELECT u.l, u.r FROM (
          SELECT toks[i] AS l, toks[i + 1] AS r, count(*) AS n
          FROM (SELECT unnest(generate_series(1, len(c.toks) - 1)) AS i)
          GROUP BY 1, 2) u
        WHERE u.n >= 2
        ORDER BY u.n DESC, u.l, u.r LIMIT 1) b
      WHERE c.cl IS NULL AND c.round < $numMerges
    ),
    apply AS (
      SELECT CASE WHEN p.pos IS NULL THEN c.toks
                  ELSE c.toks[1:p.pos - 1] || [c.cl || c.cr] || c.toks[p.pos + 2:len(c.toks)]
             END,
             c.round, c.step + 1,
             CASE WHEN p.pos IS NULL THEN NULL ELSE c.cl END,
             CASE WHEN p.pos IS NULL THEN NULL ELSE c.cr END,
             c.ml, c.mr
      FROM cur c, LATERAL (
        SELECT list_filter(generate_series(1, len(c.toks) - 1),
                 i -> c.toks[i] = c.cl AND c.toks[i + 1] = c.cr)[1] AS pos) p
      WHERE c.cl IS NOT NULL
    )
    SELECT * FROM choose UNION ALL SELECT * FROM apply)
),
fin AS (SELECT ml, mr FROM tr ORDER BY step DESC LIMIT 1),
basev AS (SELECT list_sort(list_distinct(toks)) AS bv FROM ini),
base_ids AS (SELECT unnest(bv) AS tok, unnest(generate_series(1, len(bv))) AS id FROM basev),
merge_toks AS (
  SELECT tok, min(ord) AS ord FROM (
    SELECT unnest(list_transform(generate_series(1, len(ml)), k -> ml[k] || mr[k])) AS tok,
           unnest(generate_series(1, len(ml))) AS ord
    FROM fin)
  WHERE tok NOT IN (SELECT tok FROM base_ids)
  GROUP BY tok),
tok2id AS (
  SELECT tok, id FROM base_ids
  UNION ALL
  SELECT tok, (SELECT len(bv) FROM basev) + row_number() OVER (ORDER BY ord) AS id
  FROM merge_toks),
dini AS (SELECT doc_id,
    list_transform(generate_series(1, length(substr(text, 1, $encChars))),
      i -> substr(text, 1, $encChars)[i]) AS toks,
    (SELECT ml FROM fin) AS ml, (SELECT mr FROM fin) AS mr
  FROM $docsRel),
enc AS (
  SELECT doc_id, toks, ml, mr, 0 AS step FROM dini
  UNION ALL
  SELECT e.doc_id,
         e.toks[1:b.pos - 1] || [e.ml[b.rk] || e.mr[b.rk]] || e.toks[b.pos + 2:len(e.toks)],
         e.ml, e.mr, e.step + 1
  FROM enc e, LATERAL (
    SELECT rks.rk, list_position(rks.rkl, rks.rk) AS pos FROM (
      SELECT rkl, list_min(list_filter(rkl, x -> x IS NOT NULL)) AS rk FROM (
        SELECT list_transform(generate_series(1, len(e.toks) - 1),
          i -> list_filter(generate_series(1, len(e.ml)),
                 k -> e.ml[k] = e.toks[i] AND e.mr[k] = e.toks[i + 1])[1]) AS rkl) ) rks
    WHERE rks.rk IS NOT NULL) b
),
done AS (
  SELECT doc_id, toks FROM (
    SELECT doc_id, toks, row_number() OVER (PARTITION BY doc_id ORDER BY step DESC) AS rn
    FROM enc) WHERE rn = 1)"""

  /** Bpe.trainDistributed + encode: the recursive choose/apply state
    * machine of docBpeCtes lifted to PER-DOC rows — the choose step takes
    * the GLOBAL argmax over within-doc adjacent pairs (count desc, then
    * code-point lex), the apply step merges one leftmost occurrence in
    * EVERY doc that still has one and stays in apply mode while any doc
    * does (the bool_or over the post-apply rows). No '\n' joining — the
    * document is the pre-tokenization boundary, exactly the trainer's
    * contract. Ends with ddone(doc_id, toks), dtok2id(tok, id). Plain
    * concatenation (the lambdas are full of `||`).
    */
  def docBpeDistCtes(sampleDocs: Int, sampleChars: Int,
                     numMerges: Int, encChars: Int,
                     docsRel: String = "documents",
                     byteLevel: Boolean = false): String = {
    // byte-level mode: the ASCII corpus's UTF-8 bytes map through the
    // GPT-2 alphabet as the identity except space -> 'G-dot' (U+0120),
    // and the base vocabulary is the FULL 256-token alphabet (ascending
    // concat = code-point-sorted) instead of the sample's distincts
    val sampleExpr =
      if (byteLevel) s"replace(substr(text, 1, $sampleChars), ' ', 'Ġ')"
      else s"substr(text, 1, $sampleChars)"
    val encExpr =
      if (byteLevel) s"replace(substr(text, 1, $encChars), ' ', 'Ġ')"
      else s"substr(text, 1, $encChars)"
    val basevCte =
      if (byteLevel)
        """dbasev AS (SELECT list_transform(
  generate_series(33, 126) || generate_series(161, 172) ||
  generate_series(174, 255) || generate_series(256, 323),
  c -> chr(CAST(c AS INTEGER))) AS bv)"""
      else "dbasev AS (SELECT list_sort(list_distinct(flatten(list(toks)))) AS bv FROM dinit)"
    s"""sdocs AS (SELECT doc_id, $sampleExpr AS s
  FROM $docsRel WHERE text IS NOT NULL ORDER BY doc_id LIMIT $sampleDocs),
dinit AS (SELECT doc_id, list_transform(generate_series(1, length(s)), i -> s[i]) AS toks
  FROM sdocs),
dtr AS (
  SELECT doc_id, toks, 0 AS round, 0 AS step,
         CAST(NULL AS VARCHAR) AS cl, CAST(NULL AS VARCHAR) AS cr,
         CAST([] AS VARCHAR[]) AS ml, CAST([] AS VARCHAR[]) AS mr
  FROM dinit
  UNION ALL
  SELECT * FROM (
    WITH cur AS (SELECT * FROM dtr),
    best AS (
      SELECT u.l, u.r FROM (
        SELECT toks[i] AS l, toks[i + 1] AS r, count(*) AS n
        FROM cur c, LATERAL (SELECT unnest(generate_series(1, len(c.toks) - 1)) AS i) t
        WHERE c.cl IS NULL AND c.round < $numMerges
        GROUP BY 1, 2) u
      WHERE u.n >= 2
      ORDER BY u.n DESC, u.l, u.r LIMIT 1),
    choose AS (
      SELECT c.doc_id, c.toks, c.round + 1, c.step + 1, b.l, b.r,
             list_append(c.ml, b.l), list_append(c.mr, b.r)
      FROM cur c JOIN best b ON true
      WHERE c.cl IS NULL AND c.round < $numMerges),
    app AS (
      SELECT c.doc_id,
        CASE WHEN p.pos IS NULL THEN c.toks
             ELSE c.toks[1:p.pos - 1] || [c.cl || c.cr] || c.toks[p.pos + 2:len(c.toks)]
        END AS toks,
        c.round, c.step + 1 AS step, c.cl, c.cr, c.ml, c.mr
      FROM cur c, LATERAL (
        SELECT list_filter(generate_series(1, len(c.toks) - 1),
                 i -> c.toks[i] = c.cl AND c.toks[i + 1] = c.cr)[1] AS pos) p
      WHERE c.cl IS NOT NULL),
    appmore AS (
      SELECT coalesce(bool_or(len(list_filter(generate_series(1, len(a.toks) - 1),
          i -> a.toks[i] = a.cl AND a.toks[i + 1] = a.cr)) > 0), false) AS more
      FROM app a),
    apply2 AS (
      SELECT a.doc_id, a.toks, a.round, a.step,
        CASE WHEN m.more THEN a.cl ELSE NULL END,
        CASE WHEN m.more THEN a.cr ELSE NULL END,
        a.ml, a.mr
      FROM app a CROSS JOIN appmore m)
    SELECT * FROM choose UNION ALL SELECT * FROM apply2)
),
dfin AS (SELECT ml, mr FROM dtr ORDER BY step DESC LIMIT 1),
$basevCte,
dbase_ids AS (SELECT unnest(bv) AS tok, unnest(generate_series(1, len(bv))) AS id FROM dbasev),
dmerge_toks AS (
  SELECT tok, min(ord) AS ord FROM (
    SELECT unnest(list_transform(generate_series(1, len(ml)), k -> ml[k] || mr[k])) AS tok,
           unnest(generate_series(1, len(ml))) AS ord
    FROM dfin)
  WHERE tok NOT IN (SELECT tok FROM dbase_ids)
  GROUP BY tok),
dtok2id AS (
  SELECT tok, id FROM dbase_ids
  UNION ALL
  SELECT tok, (SELECT len(bv) FROM dbasev) + row_number() OVER (ORDER BY ord) AS id
  FROM dmerge_toks),
ddini AS (SELECT doc_id,
    list_transform(generate_series(1, length($encExpr)),
      i -> ($encExpr)[i]) AS toks,
    (SELECT ml FROM dfin) AS ml, (SELECT mr FROM dfin) AS mr
  FROM $docsRel),
denc AS (
  SELECT doc_id, toks, ml, mr, 0 AS step FROM ddini
  UNION ALL
  SELECT e.doc_id,
         e.toks[1:b.pos - 1] || [e.ml[b.rk] || e.mr[b.rk]] || e.toks[b.pos + 2:len(e.toks)],
         e.ml, e.mr, e.step + 1
  FROM denc e, LATERAL (
    SELECT rks.rk, list_position(rks.rkl, rks.rk) AS pos FROM (
      SELECT rkl, list_min(list_filter(rkl, x -> x IS NOT NULL)) AS rk FROM (
        SELECT list_transform(generate_series(1, len(e.toks) - 1),
          i -> list_filter(generate_series(1, len(e.ml)),
                 k -> e.ml[k] = e.toks[i] AND e.mr[k] = e.toks[i + 1])[1]) AS rkl) ) rks
    WHERE rks.rk IS NOT NULL) b
),
ddone AS (
  SELECT doc_id, toks FROM (
    SELECT doc_id, toks, row_number() OVER (PARTITION BY doc_id ORDER BY step DESC) AS rn
    FROM denc) WHERE rn = 1)"""
  }

  def docBpeEncodeDistOracleFor(sampleDocs: Int, sampleChars: Int,
                                numMerges: Int, encChars: Int,
                                docsRel: String = "documents",
                                byteLevel: Boolean = false): String =
    "WITH RECURSIVE\n" +
      docBpeDistCtes(sampleDocs, sampleChars, numMerges, encChars, docsRel,
        byteLevel) + """
SELECT u.doc_id, u.pos, CAST(coalesce(t.id, 0) AS BIGINT) AS token_id
FROM (SELECT doc_id, unnest(toks) AS tok,
        CAST(unnest(generate_series(1, len(toks))) AS BIGINT) AS pos FROM ddone) u
LEFT JOIN dtok2id t ON u.tok = t.tok"""

  def docBpeEncodeOracleFor(sampleDocs: Int, sampleChars: Int,
                            numMerges: Int, encChars: Int,
                            docsRel: String = "documents"): String =
    "WITH RECURSIVE\n" +
      docBpeCtes(sampleDocs, sampleChars, numMerges, encChars, docsRel) + """
SELECT u.doc_id, u.pos, CAST(coalesce(t.id, 0) AS BIGINT) AS token_id
FROM (SELECT doc_id, unnest(toks) AS tok,
        CAST(unnest(generate_series(1, len(toks))) AS BIGINT) AS pos FROM done) u
LEFT JOIN tok2id t ON u.tok = t.tok"""

  /** The fixture merges.txt content for the byte-level load row (and the
    * bpe_bytes sweep family): corpus-relevant merges over the
    * lowercase+space charset in the deployed GPT-2 file format —
    * including the space-crossing "s Ġ" rule that only global-merge
    * mode applies and the rank-ordered "an d" that needs "a n" first.
    */
  val bpeBytesMergesLines: Seq[String] =
    "#version: graft byte-level fixture" +: Seq(
      "Ġ t", "h e", "Ġt he", "i n", "a n", "r e", "e r", "s Ġ",
      "an d", "t he")

  /** The byte-level LOAD path (fromMergesByteLevel with the library id
    * contract, global-merge mode): the 256-token bytes→unicode alphabet
    * as chr() lists (33..126, 161..172, 174..255 map to themselves, the
    * displaced bytes to 256..323 — ascending, so positional ids ARE the
    * code-point-sorted contract), literal ml/mr merge arrays, the
    * docBpeCtes min-rank encode state machine over the byte-mapped text
    * (the corpus is ASCII+space, so the mapping is exactly space→Ġ).
    */
  def docBpeEncodeBytesOracleFor(
      mergesLines: Seq[String], encChars: Int,
      docsRel: String = "documents"): String = {
    val merges = llm.Bpe.parseMergesLines(mergesLines)
    val ml = merges.map(p => s"'${p._1}'").mkString("[", ", ", "]")
    val mr = merges.map(p => s"'${p._2}'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE
balpha AS (SELECT list_transform(
  generate_series(33, 126) || generate_series(161, 172) ||
  generate_series(174, 255) || generate_series(256, 323),
  c -> chr(CAST(c AS INTEGER))) AS bv),
base_ids AS (SELECT unnest(bv) AS tok, unnest(generate_series(1, len(bv))) AS id FROM balpha),
bfin AS (SELECT $ml AS ml, $mr AS mr),
merge_toks AS (
  SELECT tok, min(ord) AS ord FROM (
    SELECT unnest(list_transform(generate_series(1, len(ml)), k -> ml[k] || mr[k])) AS tok,
           unnest(generate_series(1, len(ml))) AS ord
    FROM bfin)
  WHERE tok NOT IN (SELECT tok FROM base_ids)
  GROUP BY tok),
tok2id AS (
  SELECT tok, id FROM base_ids
  UNION ALL
  SELECT tok, 256 + row_number() OVER (ORDER BY ord) AS id FROM merge_toks),
dini AS (SELECT doc_id,
    list_transform(generate_series(1, length(s)), i -> s[i]) AS toks,
    (SELECT ml FROM bfin) AS ml, (SELECT mr FROM bfin) AS mr
  FROM (SELECT doc_id, replace(substr(text, 1, $encChars), ' ', 'Ġ') AS s
        FROM $docsRel)),
enc AS (
  SELECT doc_id, toks, ml, mr, 0 AS step FROM dini
  UNION ALL
  SELECT e.doc_id,
         e.toks[1:b.pos - 1] || [e.ml[b.rk] || e.mr[b.rk]] || e.toks[b.pos + 2:len(e.toks)],
         e.ml, e.mr, e.step + 1
  FROM enc e, LATERAL (
    SELECT rks.rk, list_position(rks.rkl, rks.rk) AS pos FROM (
      SELECT rkl, list_min(list_filter(rkl, x -> x IS NOT NULL)) AS rk FROM (
        SELECT list_transform(generate_series(1, len(e.toks) - 1),
          i -> list_filter(generate_series(1, len(e.ml)),
                 k -> e.ml[k] = e.toks[i] AND e.mr[k] = e.toks[i + 1])[1]) AS rkl) ) rks
    WHERE rks.rk IS NOT NULL) b
),
done AS (
  SELECT doc_id, toks FROM (
    SELECT doc_id, toks, row_number() OVER (PARTITION BY doc_id ORDER BY step DESC) AS rn
    FROM enc) WHERE rn = 1)
SELECT u.doc_id, u.pos, CAST(coalesce(t.id, 0) AS BIGINT) AS token_id
FROM (SELECT doc_id, unnest(toks) AS tok,
        CAST(unnest(generate_series(1, len(toks))) AS BIGINT) AS pos FROM done) u
LEFT JOIN tok2id t ON u.tok = t.tok"""
  }

  /** Token-budget mixing over BPE token counts (docBpeCtes' encode). */
  def docTokenMixBpeSql: String =
    "WITH RECURSIVE\n" + docBpeCtes(4, 240, 16, 120) + """,
cntb AS (SELECT d.doc_id, d.source, CAST(len(done.toks) AS INTEGER) AS n_tok
  FROM done JOIN documents d ON d.doc_id = done.doc_id),
cb AS (SELECT doc_id, source, n_tok,
  CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
  FROM cntb)
SELECT doc_id, source, n_tok, tok_before FROM cb
WHERE tok_before < (CASE source WHEN 'src1' THEN 500 ELSE 300 END)"""
}
