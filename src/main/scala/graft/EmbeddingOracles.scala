package graft

import TextOracles.{ccSurvivorsSql, components}

/** The DuckDB oracle SQL of the embedding tier (`llm.Similarity`,
  * `streaming.AnnStream`, `streaming.SemDedupStream` and the near-dup
  * stream), one builder per operator family.
  *
  * This is the only definition of these oracles: the fixed registry rows
  * in `SparkEntry.registry` call the builders at their pinned parameters
  * (8 planes, 16 cells × 4 probes, 8 × 16 PQ codebook, k = 10, …), and
  * `tools.SweepVerify` calls them at seeded random draws. Every builder
  * reads the `embeddings(vec_id, embedding)` table at dim 64; hyperplane
  * constants are regenerated from the same seeded generator the engine
  * uses and embedded verbatim (Double.toString round-trips exactly).
  */
private[graft] object EmbeddingOracles {

  /** Cosine via list_sum over double products — hash-matches the
    * engine's native VecCosine double loop.
    */
  private def duckCos(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * x)))
       |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * x))))""".stripMargin

  /** Brute-force exact-cosine top-10 of the 20 lowest-id queries. */
  def embKnnBruteSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
      |s AS (SELECT query_id, vec_id AS corpus_id,
      |        list_sum(list_transform(list_zip(qv, embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |        / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * x)))
      |           * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))) AS sim
      |      FROM embeddings CROSS JOIN q WHERE vec_id <> query_id)
      |SELECT query_id, corpus_id,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
      |FROM s QUALIFY rank <= 10""".stripMargin

  // ---- near-dup pairs (Similarity.embeddingNearDupPairs and the
  // streaming near-dup operator) ----

  /** Banded hyperplane codes (planesPerGroup planes per band, left-fold
    * sign test), bucket-capped band self-join, distinct candidates and
    * their exact cosine, ending in s(id_a, id_b, cos) next to e(id, v).
    */
  private def embPairCtes(groups: Int, ppg: Int): String = {
    val ps = graft.llm.Similarity.planes(groups * ppg, 64)
    def codeExpr(g: Int): String = (0 until ppg).map { i =>
      val arr = ps(g * ppg + i).map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"""CASE WHEN list_reduce(list_transform(list_zip(v, $arr::DOUBLE[]),
         |    z -> CAST(z[1] AS DOUBLE) * z[2]), (x, y) -> x + y) >= 0
         |  THEN ${1L << i}::BIGINT ELSE 0::BIGINT END""".stripMargin
    }.mkString("\n + ")
    val codeCase = (0 until groups).map(g => s"WHEN $g THEN ${codeExpr(g)}").mkString("\n  ")
    s"""e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |b AS (SELECT id, band, CASE band $codeCase END AS code
       |  FROM e CROSS JOIN (SELECT unnest([${(0 until groups).mkString(", ")}]) AS band) g),
       |ok AS (SELECT band, code FROM b GROUP BY band, code
       |  HAVING count(*) <= 1000 AND count(*) > 1),
       |ib AS (SELECT b.* FROM b JOIN ok USING (band, code)),
       |cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
       |  FROM ib a JOIN ib b2 ON a.band = b2.band AND a.code = b2.code AND a.id < b2.id),
       |s AS (SELECT id_a, id_b, ${duckCos("pa.v", "pb.v")} AS cos
       |  FROM cand JOIN e pa ON pa.id = cand.id_a JOIN e pb ON pb.id = cand.id_b)""".stripMargin
  }

  /** embeddingNearDupPairs for any (threshold, groups, planesPerGroup). */
  def embPairsSql(threshold: Double, groups: Int, ppg: Int): String =
    s"""WITH ${embPairCtes(groups, ppg)}
       |SELECT id_a, id_b FROM s WHERE cos >= $threshold""".stripMargin

  /** The near-dup pairs at or above `threshold` as the edge CTE ep. */
  private def embEdgeCtes(threshold: Double, groups: Int, ppg: Int): String =
    s"${embPairCtes(groups, ppg)},\nep AS (SELECT id_a, id_b FROM s WHERE cos >= $threshold)"

  /** Min-label components of the near-dup pairs (pair members only). */
  def embClustersSql(threshold: Double, groups: Int, ppg: Int): String =
    s"WITH RECURSIVE ${embEdgeCtes(threshold, groups, ppg)},\n${components("ep", "")}\n" +
      "SELECT id AS vec_id, cluster_id FROM cc"

  /** Near-dup dedup survivors: min id per component plus isolated vectors. */
  def embDedupSql(threshold: Double, groups: Int, ppg: Int): String =
    ccSurvivorsSql(embEdgeCtes(threshold, groups, ppg), "ep",
      cols = "vec_id", rel = "embeddings", idCol = "vec_id")

  // ---- LSH ANN (Similarity.annTopK, AnnStream.annStream) ----

  /** The LSH bucket of vector column `v`: bit i set iff the left-fold dot
    * with the i-th deterministic hyperplane is ≥ 0.
    */
  private def lshBucket(nPlanes: Int, v: String): String =
    graft.llm.Similarity.planes(nPlanes, 64).zipWithIndex.map { case (p, i) =>
      val arr = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"""CASE WHEN list_reduce(list_transform(list_zip($v, $arr::DOUBLE[]),
         |    p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y) >= 0
         |  THEN (1::BIGINT << $i) ELSE 0::BIGINT END""".stripMargin
    }.mkString("\n + ")

  /** The query's own bucket b0 and its hamming-1 neighbours. */
  private def lshProbes(nPlanes: Int): String =
    ("b0" +: (0 until nPlanes).map(i => s"xor(b0, ${1L << i}::BIGINT)")).mkString(", ")

  /** Hyperplane sign-bit buckets from the deterministic planes, own +
    * hamming-1 probes, exact-cosine rank ≤ k. `stream`: every vector
    * queries and candidates are earlier arrivals (the id-ordered replay's
    * "so far", which the sharded bridge computes identically); batch: the
    * 20 lowest-id queries, candidates <> query.
    */
  def embAnnStreamSql(nPlanes: Int, k: Int, stream: Boolean = true): String = {
    val qFilter = if (stream) "" else " WHERE vec_id < 20"
    val candRestrict = if (stream) "<" else "<>"
    s"""WITH c AS (SELECT vec_id AS corpus_id, embedding AS cv,
       |    ${lshBucket(nPlanes, "embedding")} AS bucket FROM embeddings),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv,
       |    ${lshBucket(nPlanes, "embedding")} AS b0 FROM embeddings$qFilter),
       |pr AS (SELECT query_id, qv, unnest([${lshProbes(nPlanes)}]) AS bucket FROM q0),
       |s AS (SELECT query_id, corpus_id,
       |    list_sum(list_transform(list_zip(qv, cv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * x)))
       |       * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * x)))) AS sim
       |  FROM c JOIN pr USING (bucket) WHERE corpus_id $candRestrict query_id)
       |SELECT query_id, corpus_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
       |FROM s QUALIFY rank <= $k""".stripMargin
  }

  // ---- product quantization (Similarity.pqTopK, ivfPqTopK,
  // AnnStream.ivfPqAnnStream) ----

  /** CTE chain deriving the (anchor or Lloyd-trained) PQ codebook as
    * `cbn(m, j, cent, n2)` — `Similarity.trainedCodebook`'s mirror: the
    * anchor codebook is the subspace slices of the cps lowest-vec_id
    * rows; each unrolled Lloyd pass assigns the sampleN lowest-id sample
    * subvectors by the encoder's left-fold squared-diff argmin (ties →
    * smallest code) and recomputes each (m, j) centroid as the
    * floor(x·2^20)-quantized element-wise mean — bit-identical across
    * engines because the sums are exact integer adds. Codes with no
    * members keep the previous centroid (the LEFT JOIN + coalesce).
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

  /** pqTopK for any (nSub, codesPerSub, k, refine) at dim=64: encode =
    * per-subspace argmin squared L2 (ties to the smallest code), ADC
    * score = left-fold lut/norm sums in m order — bit-matching
    * PqEncode/PqLut/PqScore. refine > 0 appends the exact-cosine re-rank
    * of the top-refine ADC candidates (the two-stage path).
    */
  def embPqSql(nSub: Int, cps: Int, k: Int, refine: Int,
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

  /** AnnStream.pqAnnStream (dim=64, nSub=8, codesPerSub=16, nPlanes=8,
    * k=10): the PQ codebook/encode/LUT machinery with EVERY vector as a
    * query, candidates restricted to the query's 9 probe buckets AND
    * earlier arrivals (corpus_id < query_id — the id-ordered replay's
    * "arrived so far"), scores divided in the engine's exact order
    * ((adc/√cn2)/‖q‖).
    */
  def embPqStreamSql: String = {
    val sub = "(SELECT unnest(generate_series(0, 7)) AS m)"
    s"""WITH a0 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
       |a AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j, embedding AS av FROM a0),
       |cb AS (SELECT m, j, av[m*8+1 : m*8+8] AS cent FROM a CROSS JOIN $sub),
       |cbn AS (SELECT m, j, cent,
       |    list_reduce(list_transform(cent, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y) AS n2
       |  FROM cb),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv,
       |    ${lshBucket(8, "embedding")} AS bucket FROM embeddings),
       |enc0 AS (SELECT corpus_id, m, j,
       |    list_reduce(list_transform(list_zip(cv[m*8+1 : m*8+8], cent),
       |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
       |      (x, y) -> x + y) AS d
       |  FROM c CROSS JOIN cbn),
       |codes AS (SELECT corpus_id, m, j AS code FROM (
       |  SELECT corpus_id, m, j, row_number() OVER (PARTITION BY corpus_id, m ORDER BY d ASC, j) AS rn
       |  FROM enc0) WHERE rn = 1),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv,
       |    ${lshBucket(8, "embedding")} AS b0 FROM embeddings),
       |pr AS (SELECT query_id, unnest([${lshProbes(8)}]) AS bucket FROM q0),
       |cand AS (SELECT pr.query_id, c.corpus_id FROM c JOIN pr USING (bucket)
       |  WHERE c.corpus_id < pr.query_id),
       |qn AS (SELECT query_id,
       |    sqrt(list_reduce(list_transform(qv, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y)) AS qn
       |  FROM q0),
       |lut AS (SELECT query_id, m, j,
       |    list_reduce(list_transform(list_zip(qv[m*8+1 : m*8+8], cent),
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
       |FROM s QUALIFY rank <= 10""".stripMargin
  }

  /** Similarity.ivfPqTopK (batch: the 20 lowest-id queries, candidates
    * <> query) and AnnStream.ivfPqAnnStream (stream: EVERY vector
    * queries, candidates restricted to earlier arrivals — the id-ordered
    * replay's "arrived so far"). Anchor centroids = the nCells lowest-id
    * rows; codebook = codebookCtes; cell assignment/probe rank (csim
    * DESC, cell); ADC scores divided in the engine's exact order
    * ((adc/√cn2)/‖q‖).
    */
  def embIvfPqSql(nCells: Int, nProbe: Int, nSub: Int, cps: Int,
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

  /** `Similarity.ivfPqTopK(residual = true)` (lloydIters = 0), the Faiss
    * IndexIVFPQ layout: each corpus row PQ-encodes its RESIDUAL against
    * its assigned cell's centroid. Residual anchors are rows OFFSET
    * nCells LIMIT cps by id, assigned and centroid-subtracted; scoring
    * reassembles cosine exactly like the engine from q·c + Σ lut over the
    * residual codebook and the per-cell norm correction Σ w, w(cell, m,
    * j) = 2·dot(centroidₘ, cb(m, j)) + ‖cb(m, j)‖²; 0 when the
    * reconstructed norm² ≤ 0.
    */
  def embIvfPqResidualSql(nCells: Int, nProbe: Int, nSub: Int,
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

  // ---- IVF cells (Similarity.ivfTopK, semDedup, SemDedupStream) ----

  /** Similarity.ivfTopK (nCells=16, nProbe=4, k=10, lloydIters=1):
    * anchor centroids = the 16 lowest-vec_id rows; corpus assigned to the
    * argmax-cosine cell (ties to the smallest cell, matching the
    * engine's (csim, -cell) max_by); ONE Lloyd pass recomputes each
    * centroid as its cell's element-wise mean on floor(x·2^20) longs
    * (exact order-free sums) and reassigns; queries probe the 4 nearest
    * refined cells; rank-compared like emb_knn_brute.
    */
  def embIvfSql: String =
    s"""WITH cent0 AS (SELECT vec_id::BIGINT AS cell, embedding AS centroid
       |    FROM embeddings ORDER BY vec_id LIMIT 16),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
       |asg0 AS (SELECT corpus_id, cv, cell FROM (
       |  SELECT corpus_id, cv, cell,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cv, cell, ${duckCos("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN cent0)) WHERE rn = 1),
       |el AS (SELECT cell, generate_subscripts(cv, 1) AS pos, unnest(cv) AS x FROM asg0),
       |cm AS (SELECT cell, pos,
       |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
       |      / (count(*) * 1048576.0) AS m
       |  FROM el GROUP BY cell, pos),
       |cent AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cm GROUP BY cell),
       |asg AS (SELECT corpus_id, cv, cell FROM (
       |  SELECT corpus_id, cv, cell,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cv, cell, ${duckCos("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN cent)) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
       |pr AS (SELECT query_id, qv, cell FROM (
       |  SELECT query_id, qv, cell,
       |    row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT query_id, qv, cell, ${duckCos("qv", "centroid")} AS csim
       |        FROM q CROSS JOIN cent)) WHERE rn <= 4),
       |s AS (SELECT query_id, corpus_id, ${duckCos("qv", "cv")} AS sim
       |  FROM asg JOIN pr USING (cell) WHERE corpus_id <> query_id)
       |SELECT query_id, corpus_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
       |FROM s QUALIFY rank <= 10""".stripMargin

  /** The semDedup centroid chain over `c(corpus_id, cv) = srcSql`: anchor
    * init from the nCells lowest ids, `lloydIters` quantized-mean passes,
    * and the FINAL assignment keeping each row's winning csim, ending in
    * asg(corpus_id, cv, cell, csim).
    */
  private def semDedupAsgCtes(nCells: Int, lloydIters: Int, srcSql: String): String = {
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
    s"""c AS ($srcSql),
       |cent0 AS (SELECT corpus_id::BIGINT AS cell, cv AS centroid
       |    FROM c ORDER BY corpus_id LIMIT $nCells),
       |$chain
       |asg AS (SELECT corpus_id, cv, cell, csim FROM (
       |  SELECT corpus_id, cv, cell, csim,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cv, cell, ${duckCos("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN cent$lloydIters)) WHERE rn = 1)""".stripMargin
  }

  private val EMBSRC = "SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings"

  /** Similarity.semDedup: the semDedupAsgCtes chain, the within-cell
    * ε-pair self-join RESTRICTED to cells at or under the `maxCell`
    * occupancy cap (the hot-cell guard — over-cap cells produce no pairs,
    * so their members all survive), the min-label closure, and the keep
    * rank (csim ASC, id ASC per component; rn > 1 dropped). The streaming
    * twin converges to the same survivor set.
    */
  def embSemDedupSql(nCells: Int, lloydIters: Int, eps: Double,
                     maxCell: Int = Int.MaxValue,
                     srcSql: String = EMBSRC,
                     finalRel: String = "embeddings",
                     finalIdCol: String = "vec_id"): String =
    s"""WITH RECURSIVE ${semDedupAsgCtes(nCells, lloydIters, srcSql)},
       |ok AS (SELECT cell FROM asg GROUP BY cell HAVING count(*) <= $maxCell),
       |ep AS (SELECT a.corpus_id AS id_a, b.corpus_id AS id_b
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.corpus_id < b.corpus_id
       |  JOIN ok ON ok.cell = a.cell
       |  WHERE ${duckCos("a.cv", "b.cv")} >= $eps),
       |${components("ep", "")},
       |rk AS (SELECT cc.cluster_id, cc.id,
       |    row_number() OVER (PARTITION BY cc.cluster_id ORDER BY asg.csim ASC, cc.id) AS rn
       |  FROM cc JOIN asg ON cc.id = asg.corpus_id)
       |SELECT $finalIdCol FROM $finalRel
       |WHERE $finalIdCol NOT IN (SELECT id FROM rk WHERE rn > 1)""".stripMargin

  /** semDedupWithStats' dropped cells: one (cell, size) row per cell over
    * the `maxCell` occupancy cap.
    */
  def embSemDedupDroppedCellsSql(nCells: Int, lloydIters: Int, maxCell: Int): String =
    s"""WITH ${semDedupAsgCtes(nCells, lloydIters, EMBSRC)},
       |csz AS (SELECT cell, count(*) AS n FROM asg GROUP BY cell)
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(n AS BIGINT) AS size
       |FROM csz WHERE n > $maxCell""".stripMargin
}
