package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines: exact,
  * MinHash+LSH near-dup, SimHash near-dup, and n-gram Jaccard with
  * min-hash blocking. All candidate generation is bucket-local (LSH band
  * join / chunk join) — NEVER all-pairs — so the shuffle is
  * O(candidate pairs), not O(n²), and survives a 100 TB corpus. Hashing
  * and similarity are pure Catalyst expressions (higher-order functions,
  * xxhash64) — whole-stage codegen, no UDFs.
  */
/** Near-dup pairs plus the pipeline's completeness telemetry: every
  * candidate-generation stage that CAPS a bucket reports what it dropped
  * ("no silent caps") — `droppedBuckets` has one row per over-cap bucket
  * with its size; empty when the cap never bit. At 100 TB a dropped
  * bucket usually means degenerate boilerplate content: aggregate with
  * `agg(count(*), max("size"))` and alert before trusting recall.
  */
final case class PairsWithStats(pairs: DataFrame, droppedBuckets: DataFrame,
                                cached: Seq[DataFrame] = Nil) {
  /** Release the pipeline-internal persisted frames once `pairs` /
    * `droppedBuckets` have been consumed (blocking=false; re-consumption
    * recomputes, stays correct) — the scoped alternative to a session-wide
    * clearCache in long-lived sessions.
    */
  def unpersist(): Unit = cached.foreach(_.unpersist(false))
}

object TextDedup {

  /** Hash family abstraction: every near-dup pipeline runs over either
    * the production family (xxhash64 — 8-byte longs, codegen'd) or the
    * md5 family (hex strings — slower, but computable by DuckDB, so the
    * whole LSH/Jaccard pipeline becomes cross-engine hash-checkable).
    * LSH banding and set-Jaccard are hash-oblivious, so both families
    * exercise identical pipeline semantics.
    */
  private[graft] sealed trait HashFamily {
    def token(t: Column): Column               // base hash of one token
    def combine(x: Column, y: Column): Column  // order-sensitive pair combine
    def rehash(h: Column, i: Int): Column      // i-th seeded rehash
    def band(sigSlice: Column, b: Int): Column // hash of a signature band (array col)
  }
  private[graft] case object XxHash extends HashFamily {
    def token(t: Column): Column = xxhash64(t)
    def combine(x: Column, y: Column): Column = xxhash64(x, y)
    def rehash(h: Column, i: Int): Column = xxhash64(h, lit(i))
    def band(s: Column, b: Int): Column = xxhash64(s, lit(b))
  }
  private[graft] case object Md5Hash extends HashFamily {
    def token(t: Column): Column = md5(t)
    def combine(x: Column, y: Column): Column = md5(concat(x, y))
    def rehash(h: Column, i: Int): Column = md5(concat(h, lit("#" + i)))
    def band(s: Column, b: Int): Column = md5(concat(concat_ws("|", s), lit("#" + b)))
  }

  /** Lowercased word tokens, punctuation stripped. */
  def tokenize(text: Column): Column =
    array_remove(split(regexp_replace(lower(text), "[^\\p{L}\\p{Nd}]+", " "), " "), "")

  /** Word n-gram shingles joined with spaces; empty array when the doc has
    * fewer than n tokens. (slice beats per-position element_at here:
    * ANSI-mode index checks on element_at cost more than the short array
    * copies for small n.)
    *
    * PERFORMANCE: pass `toks` as a PROJECTED COLUMN (attribute), not an
    * inline expression like `tokenize(col("text"))` — the lambda below
    * references `toks` per array element, and Spark evaluates a non-
    * attribute argument on every reference (one full tokenize regexp pass
    * PER GRAM; measured ~15× slowdown at sf0.1 in boilerplatePhrases).
    */
  def shingles(toks: Column, n: Int): Column = {
    val t = toks
    // n = 1: every "shingle" is the token itself (concat_ws of a 1-slice
    // is the element) — return the array as-is instead of rebuilding it
    // element-by-element through sequence/slice/concat_ws (the unigram
    // half of dsirGrams paid one array copy + per-token string copy for
    // nothing)
    if (n == 1) return t
    // the when-guard is load-bearing: Spark's sequence(1, 0) is the
    // DESCENDING [1, 0] (not empty, unlike DuckDB's generate_series), so
    // a doc with fewer than n tokens would reach slice with start=0 and
    // throw — short docs must yield an empty shingle array instead
    val cnt = size(t) - (n - 1)
    when(cnt <= 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), cnt),
        i => concat_ws(" ", slice(t, i, lit(n)))))
  }

  /** MinHash signature: k independent 64-bit min-hashes of the shingle
    * set. Each shingle is string-hashed ONCE (xxhash64); the k hash
    * functions are affine rehashes of that base value (odd multiplier →
    * 64-bit bijection), so the per-row cost is |sh| string hashes +
    * k·|sh| long multiply-adds instead of k·|sh| string hashes.
    */
  def minhashSignature(sh: Column, k: Int): Column =
    minhashFromBaseHashes(shingleHashes(sh, 1), k) // n=1 = per-element xxhash64, native

  /** Signature from pre-hashed shingles. The xxhash64 family runs as ONE
    * native codegen'd expression (graft.functions.XxMinhashSignature):
    * the HOF form (`k` × `array_min(transform(...))`) interprets its
    * lambda per element AND recomputes the per-element base hash k times
    * — the native loop does neither, with bit-identical output (pinned by
    * LlmOpsSpec). The md5 family keeps the generic column form so the
    * DuckDB twin stays expressible.
    */
  def minhashFromBaseHashes(baseHashes: Column, k: Int): Column =
    minhashFromBaseHashes(baseHashes, k, XxHash)

  private[graft] def minhashFromBaseHashes(baseHashes: Column, k: Int,
                                         fam: HashFamily): Column = fam match {
    case XxHash =>
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.XxMinhashSignature(
          org.apache.spark.sql.GraftColumnBridge.expression(baseHashes), k))
    case _ =>
      array((0 until k).map(i =>
        array_min(transform(baseHashes, h => fam.rehash(h, i)))): _*)
  }

  /** 64-bit shingle hashes computed WITHOUT building shingle strings:
    * hash each token once, then fold n shifted hash arrays with
    * zip_with(xxhash64) — native array ops, no per-position string
    * concatenation (string building measured ~2× the whole pipeline's
    * hashing cost). LSH and set-Jaccard are hash-oblivious, so the
    * pair pipelines use these instead of `shingles`.
    */
  def shingleHashes(toks: Column, n: Int): Column = shingleHashes(toks, n, XxHash)

  private[graft] def shingleHashes(toks: Column, n: Int, fam: HashFamily): Column = fam match {
    // xxhash64: one native codegen'd loop (hash tokens once, fold n
    // consecutive) — same values as the HOF fold below, no interpreted
    // lambdas (graft.functions.XxShingleHashes; equality pinned in tests)
    case XxHash =>
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.XxShingleHashes(
          org.apache.spark.sql.GraftColumnBridge.expression(toks), n))
    case _ =>
      val th = transform(toks, t => fam.token(t))
      val m = greatest(size(th) - (n - 1), lit(0))
      (1 until n).foldLeft(slice(th, lit(1), m)) { (acc, j) =>
        zip_with(acc, slice(th, lit(j + 1), m), (x, y) => fam.combine(x, y))
      }
  }

  /** Per-doc near-dup INDEX columns for the STREAMING operator
    * (graft.streaming.NearDupStream): `df` plus `sh` (distinct
    * token-shingle hashes of `textCol`, cast to strings so both hash
    * families share one state layout) and `codes` (one "band:bandHash"
    * string per LSH band — the keys of the streaming band-code index),
    * the same tokenize → shingle-hash → minhash → band-hash pipeline as
    * `minhashPairsStats`. Runs fully distributed as Catalyst expressions
    * BEFORE the stateful stage, so the state operator does index lookups
    * only. Docs with no shingles get empty arrays (the batch pipelines
    * drop them pre-banding; the streaming operator must still emit a
    * verdict for them).
    */
  private[graft] def withIndexCols(df: DataFrame, textCol: String, shingleN: Int,
                                   bands: Int, rowsPerBand: Int,
                                   md5Family: Boolean): DataFrame = {
    val fam: HashFamily = if (md5Family) Md5Hash else XxHash
    withBandCodes(df, shingleHashes(tokenize(col(textCol)), shingleN, fam),
      bands, rowsPerBand, fam)
      .withColumn("sh", col("__sh").cast("array<string>"))
      .drop("__sh")
  }

  /** Streaming index codes for the EDIT-DISTANCE near-dup operator
    * (graft.streaming.NearDupStream.editNearDupStream): `df` plus a
    * `codes` column, the [[withIndexCols]] band-code pipeline over
    * CHARACTER shingles of `textCol` ([[charTokens]], the
    * [[editDistancePairs]] candidate relation). Codes only — the
    * streaming payload is the raw text itself (the exact-lev verify needs
    * the string, not a hash set). Docs shorter than `shingleN` chars get
    * an empty code array (never candidates, matching the batch
    * empty-shingle drop).
    */
  private[graft] def withEditCodes(df: DataFrame, textCol: String, shingleN: Int,
                                   bands: Int, rowsPerBand: Int,
                                   md5Family: Boolean): DataFrame = {
    val fam: HashFamily = if (md5Family) Md5Hash else XxHash
    withBandCodes(df, charShingleHashes(col(textCol), shingleN, fam), bands, rowsPerBand, fam)
      .drop("__sh")
  }

  /** `df` plus `__sh` (the distinct `shingles`) and `codes` (empty when
    * there are none). The shingle hashes, the signature and the codes are
    * successive projections, as in the batch pipelines: the md5 family's
    * hash folds are higher-order functions without codegen, and as one
    * nested column every band's `slice` would re-evaluate the whole
    * signature (and the signature the shingle hashes once per minhash
    * row) per document.
    */
  private def withBandCodes(df: DataFrame, shingles: Column, bands: Int, rowsPerBand: Int,
                            fam: HashFamily): DataFrame =
    df.withColumn("__sh", array_distinct(shingles))
      .withColumn("__sig", minhashFromBaseHashes(col("__sh"), bands * rowsPerBand, fam))
      .withColumn("codes", when(size(col("__sh")) === 0, array().cast("array<string>"))
        .otherwise(array((0 until bands).map(b =>
          concat(lit(s"$b:"), fam.band(slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand), b)
            .cast("string"))): _*)))
      .drop("__sig")

  /** Exact duplicates: keep the lowest-id row per identical value of
    * `exactCols` (a hash-groupBy — one shuffle, partial-aggregable).
    */
  def exactDedup(df: DataFrame, exactCols: Seq[String], idCol: String): DataFrame = {
    val allCols = struct(df.columns.map(col): _*)
    df.groupBy(exactCols.map(col): _*)
      .agg(min_by(allCols, col(idCol)).as("__row"))
      .select(df.columns.map(c => col(s"__row.`$c`").as(c)): _*)
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * shingle → minhash(k = bands·rowsPerBand) → band hash → explode →
    * self-join per (band, hash) bucket → exact Jaccard verify on shingle
    * sets → pairs with jaccard ≥ threshold. Buckets larger than
    * `maxBucket` are dropped (degenerate content, e.g. empty docs — an
    * all-pairs explosion at scale); count dropped buckets before relying
    * on completeness.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                   threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    minhashPairs(df, textCol, idCol, shingleN, bands, rowsPerBand, threshold,
      maxBucket, XxHash)

  /** md5-family twin of `minhashPairs` — identical pipeline, DuckDB-
    * checkable hashes (see HashFamily).
    */
  def minhashPairsMd5(df: DataFrame, textCol: String, idCol: String,
                      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                      threshold: Double = 0.2, maxBucket: Int = 1000): DataFrame =
    minhashPairs(df, textCol, idCol, shingleN, bands, rowsPerBand, threshold,
      maxBucket, Md5Hash)

  /** `minhashPairs` with dropped-bucket telemetry (see PairsWithStats). */
  def minhashPairsWithStats(df: DataFrame, textCol: String, idCol: String,
                            shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                            threshold: Double = 0.5, maxBucket: Int = 1000): PairsWithStats =
    minhashPairsStats(df, textCol, idCol, shingleN, bands, rowsPerBand, threshold,
      maxBucket, XxHash)

  private[llm] def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                                shingleN: Int, bands: Int, rowsPerBand: Int,
                                threshold: Double, maxBucket: Int,
                                fam: HashFamily): DataFrame =
    minhashPairsStats(df, textCol, idCol, shingleN, bands, rowsPerBand, threshold,
      maxBucket, fam).pairs

  private[llm] def minhashPairsStats(df: DataFrame, textCol: String, idCol: String,
                                     shingleN: Int, bands: Int, rowsPerBand: Int,
                                     threshold: Double, maxBucket: Int,
                                     fam: HashFamily): PairsWithStats = {
    val k = bands * rowsPerBand
    // persist: the prepared projection feeds the band explode AND the
    // verify join — without it the whole shingle+hash subtree recomputes
    // once per self-join branch (measured 2-4× the total runtime)
    val withSig = df
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("toks", tokenize(col("text")))
      .withColumn("sh", array_distinct(shingleHashes(col("toks"), shingleN, fam)))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashFromBaseHashes(col("sh"), k, fam))
      .select("id", "sh", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bands carry IDS ONLY — the shingle arrays would otherwise be
    // duplicated `bands`× through the explode shuffle
    val banded = withSig.select(
      col("id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          fam.band(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), b).as("bh"))): _*))
        .as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
    val bucketStats = banded.groupBy("band", "bh").count()
    val okBuckets = bucketStats
      .filter(col("count") <= maxBucket && col("count") > 1)
      .select("band", "bh")
    val dropped = bucketStats.filter(col("count") > maxBucket)
      .select(col("band"), col("bh").cast("string").as("bucket"), col("count").as("size"))
    val inBucket = banded.join(okBuckets, Seq("band", "bh"))
    // distinct candidate pairs FIRST (a pair hitting m bands would verify
    // m× otherwise), then join the shingle sets back and verify ONCE
    val cand = inBucket.select(col("band"), col("bh"), col("id").as("id_a"))
      .join(inBucket.select(col("band"), col("bh"), col("id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sets = withSig.select(col("id"), col("sh"))
    val pairs = cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccardDistinct(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    PairsWithStats(pairs, dropped, cached = Seq(withSig))
  }

  /** One single-character token per position of the RAW text (no
    * lowercasing, no punctuation stripping — edit distance is a
    * character-level contract, unlike the tokenized word pipelines).
    * Engine-mirrorable by construction: DuckDB's
    * `list_transform(generate_series(1, length(text)), i -> text[i])`
    * produces the identical array. Empty text → empty array (the
    * sequence(1, 0)-is-descending guard, see [[shingles]]).
    *
    * Pass the result as a PROJECTED COLUMN before shingling — the same
    * HOF re-evaluation pitfall as [[shingles]]'s note.
    */
  private[graft] def charTokens(text: Column): Column =
    when(length(text) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(text)),
        i => text.substr(i, lit(1))))

  /** Char n-gram shingle hashes per family: the xxhash64 production path
    * runs as ONE native codegen'd pass over the string's bytes
    * (graft.functions.XxCharShingleHashes — bit-identical to hashing
    * [[charTokens]] through [[shingleHashes]], equality pinned in
    * NativeExprSpec, but without materializing len(text) single-char
    * strings through an interpreted lambda: measured ~6× on the pairs
    * pipeline); the md5 family keeps the generic column form so the
    * DuckDB twin stays expressible.
    */
  private[graft] def charShingleHashes(text: Column, n: Int,
                                       fam: HashFamily): Column = fam match {
    case XxHash =>
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.XxCharShingleHashes(
          org.apache.spark.sql.GraftColumnBridge.expression(text), n))
    case _ => shingleHashes(charTokens(text), n, fam)
  }

  /** EDIT-DISTANCE (Levenshtein) near-duplicate pairs — the
    * CHARACTER-level dedup family (Gopher-style edit-similarity dedup;
    * RETSim's target relation), complementing the token-set families:
    * MinHash/Jaccard is blind to intra-word edits (one typo changes a
    * whole word shingle), while edit distance prices every insert/
    * delete/substitute exactly. Pairs (id_a < id_b) from the banded
    * candidate relation with EXACT `levenshtein(a, b) = dist ≤ maxDist`,
    * the dist column an integer — bit-exact across engines, no float
    * tolerance anywhere in this operator.
    *
    * Candidate generation reuses the banded-MinHash machinery VERBATIM
    * but over CHARACTER n-gram shingles ([[charTokens]] →
    * [[shingleHashes]]): char-shingle Jaccard degrades smoothly with
    * edit distance (one edit perturbs ≤ n shingles), so banding recall
    * concentrates exactly where lev ≤ maxDist lives — and two IDENTICAL
    * texts always share every band, so dist-0 pairs are never missed.
    * The relation contract is the [[minhashPairs]] one: pairs from THIS
    * blocking (bands × rowsPerBand, bucket-capped with dropped-bucket
    * telemetry), lev-verified — not exhaustive all-pairs; recall is the
    * band curve's. Docs shorter than `shingleN` chars have no shingles
    * and never pair (the blocking's floor), matching the word pipelines'
    * empty-shingle drop.
    *
    * Scale shape, 100 TB: identical to minhashPairs — ids-only band
    * explode, bucket cap bounds the self-join, candidates verified ONCE
    * after a distinct. The verify itself is `levenshtein(a, b, maxDist)`
    * — Spark's THRESHOLDED form, the Ukkonen band: O(maxDist·len) per
    * pair instead of O(len²), returning -1 past the threshold — behind
    * a |len_a − len_b| ≤ maxDist pre-gate (a necessary condition that
    * costs two ints). Text payloads travel only to candidate pairs,
    * never through the band shuffle.
    */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
                        maxDist: Int, shingleN: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 4, maxBucket: Int = 1000): DataFrame =
    editDistancePairsStats(df, textCol, idCol, maxDist, shingleN, bands,
      rowsPerBand, maxBucket, XxHash).pairs

  /** md5-family twin of [[editDistancePairs]] — DuckDB-checkable band
    * hashes (see HashFamily); the lev verify is already exact on both
    * engines.
    */
  def editDistancePairsMd5(df: DataFrame, textCol: String, idCol: String,
                           maxDist: Int, shingleN: Int = 3, bands: Int = 4,
                           rowsPerBand: Int = 2, maxBucket: Int = 1000): DataFrame =
    editDistancePairsStats(df, textCol, idCol, maxDist, shingleN, bands,
      rowsPerBand, maxBucket, Md5Hash).pairs

  /** [[editDistancePairs]] with dropped-bucket telemetry. */
  def editDistancePairsWithStats(df: DataFrame, textCol: String, idCol: String,
                                 maxDist: Int, shingleN: Int = 3, bands: Int = 8,
                                 rowsPerBand: Int = 4, maxBucket: Int = 1000): PairsWithStats =
    editDistancePairsStats(df, textCol, idCol, maxDist, shingleN, bands,
      rowsPerBand, maxBucket, XxHash)

  private[llm] def editDistancePairsStats(df: DataFrame, textCol: String,
                                          idCol: String, maxDist: Int,
                                          shingleN: Int, bands: Int,
                                          rowsPerBand: Int, maxBucket: Int,
                                          fam: HashFamily): PairsWithStats = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val k = bands * rowsPerBand
    val withSig = df
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sh", array_distinct(charShingleHashes(col("text"), shingleN, fam)))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashFromBaseHashes(col("sh"), k, fam))
      .select("id", "text", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = withSig.select(
      col("id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          fam.band(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), b).as("bh"))): _*))
        .as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
    val bucketStats = banded.groupBy("band", "bh").count()
    val okBuckets = bucketStats
      .filter(col("count") <= maxBucket && col("count") > 1)
      .select("band", "bh")
    val dropped = bucketStats.filter(col("count") > maxBucket)
      .select(col("band"), col("bh").cast("string").as("bucket"), col("count").as("size"))
    val inBucket = banded.join(okBuckets, Seq("band", "bh"))
    val cand = inBucket.select(col("band"), col("bh"), col("id").as("id_a"))
      .join(inBucket.select(col("band"), col("bh"), col("id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val texts = withSig.select(col("id"), col("text"))
    val pairs = cand
      .join(texts.select(col("id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(texts.select(col("id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .filter(abs(length(col("text_a")) - length(col("text_b"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
    PairsWithStats(pairs, dropped, cached = Seq(withSig))
  }

  /** CROSS-CORPUS banded MinHash near-dup pairs — FUZZY decontamination's
    * candidate generator (the Llama/GPT-style eval-contamination removal
    * for cases exact n-gram matching misses: light paraphrase,
    * punctuation/casing drift, partial overlap). Same shingle → signature
    * → band machinery as `minhashPairs`, but candidates are generated
    * ONLY across the two relations — a left doc × a right doc sharing a
    * band bucket — never within one side, so the join cost is the
    * bipartite bucket product, not the self-join square. Bucket cap: a
    * (band, bucket) is admitted iff both sides appear and the COMBINED
    * occupancy is ≤ maxBucket (dropped buckets reported, same telemetry
    * contract as `minhashPairsWithStats`). Verification is one exact
    * Jaccard per distinct candidate pair. At 100 TB: both sides shuffle
    * once on (band, bucket); ids-only band relations; the verify join
    * fetches shingle sets for candidate ids only.
    */
  def crossMinhashPairs(left: DataFrame, right: DataFrame, textCol: String,
                        idCol: String, shingleN: Int = 3, bands: Int = 4,
                        rowsPerBand: Int = 2, threshold: Double = 0.2,
                        maxBucket: Int = 1000): DataFrame =
    crossMinhashPairsStats(left, right, textCol, idCol, shingleN, bands,
      rowsPerBand, threshold, maxBucket, XxHash).pairs

  /** DuckDB-checkable md5 twin of [[crossMinhashPairs]]. */
  def crossMinhashPairsMd5(left: DataFrame, right: DataFrame, textCol: String,
                           idCol: String, shingleN: Int = 3, bands: Int = 4,
                           rowsPerBand: Int = 2, threshold: Double = 0.2,
                           maxBucket: Int = 1000): DataFrame =
    crossMinhashPairsStats(left, right, textCol, idCol, shingleN, bands,
      rowsPerBand, threshold, maxBucket, Md5Hash).pairs

  private[llm] def crossMinhashPairsStats(left: DataFrame, right: DataFrame,
                                          textCol: String, idCol: String,
                                          shingleN: Int, bands: Int,
                                          rowsPerBand: Int, threshold: Double,
                                          maxBucket: Int,
                                          fam: HashFamily): PairsWithStats = {
    val k = bands * rowsPerBand
    def prep(df: DataFrame) = df
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("toks", tokenize(col("text")))
      .withColumn("sh", array_distinct(shingleHashes(col("toks"), shingleN, fam)))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashFromBaseHashes(col("sh"), k, fam))
      .select("id", "sh", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def band(withSig: DataFrame) = withSig.select(
      col("id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          fam.band(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), b).as("bh"))): _*))
        .as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
    val l = prep(left); val r = prep(right)
    val lb = band(l); val rb = band(r)
    val counts = lb.groupBy("band", "bh").agg(count(lit(1)).as("cl"))
      .join(rb.groupBy("band", "bh").agg(count(lit(1)).as("cr")), Seq("band", "bh"))
    val ok = counts.filter(col("cl") + col("cr") <= maxBucket).select("band", "bh")
    val dropped = counts.filter(col("cl") + col("cr") > maxBucket)
      .select(col("band"), col("bh").cast("string").as("bucket"),
        (col("cl") + col("cr")).as("size"))
    val cand = lb.join(ok, Seq("band", "bh"))
      .select(col("band"), col("bh"), col("id").as("id_a"))
      .join(rb.select(col("band"), col("bh"), col("id").as("id_b")), Seq("band", "bh"))
      .select("id_a", "id_b").distinct()
    val pairs = cand
      .join(l.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(r.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccardDistinct(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    PairsWithStats(pairs, dropped, cached = Seq(l, r))
  }

  /** FUZZY decontamination: drop every `train` doc with a cross-corpus
    * near-dup in `eval` ([[crossMinhashPairs]] candidates, exact-Jaccard
    * verified at `threshold`). The complement of `CorpusOps.decontaminate`
    * (exact eval n-grams): that catches verbatim inclusion, this catches
    * the paraphrased/partial tail. Anti-join on contaminated train ids —
    * the eval side never ships text beyond its shingle sets.
    */
  def fuzzyDecontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                         textCol: String, shingleN: Int = 3, bands: Int = 4,
                         rowsPerBand: Int = 2, threshold: Double = 0.2,
                         maxBucket: Int = 1000): DataFrame =
    fuzzyDecontaminateImpl(train, eval, idCol, textCol, shingleN, bands,
      rowsPerBand, threshold, maxBucket, XxHash)

  /** md5 twin of [[fuzzyDecontaminate]] (oracle-checkable end to end). */
  def fuzzyDecontaminateMd5(train: DataFrame, eval: DataFrame, idCol: String,
                            textCol: String, shingleN: Int = 3, bands: Int = 4,
                            rowsPerBand: Int = 2, threshold: Double = 0.2,
                            maxBucket: Int = 1000): DataFrame =
    fuzzyDecontaminateImpl(train, eval, idCol, textCol, shingleN, bands,
      rowsPerBand, threshold, maxBucket, Md5Hash)

  private def fuzzyDecontaminateImpl(train: DataFrame, eval: DataFrame,
                                     idCol: String, textCol: String,
                                     shingleN: Int, bands: Int,
                                     rowsPerBand: Int, threshold: Double,
                                     maxBucket: Int, fam: HashFamily): DataFrame = {
    val pws = crossMinhashPairsStats(train, eval, textCol, idCol, shingleN,
      bands, rowsPerBand, threshold, maxBucket, fam)
    // MATERIALIZE the contaminated id set (an eager checkpoint — tiny: one
    // id per contaminated train doc) BEFORE releasing the persisted prep
    // relations: unpersisting while the anti-join is still a lazy plan
    // would recompute tokenize/shingle/minhash ~3× per side when the
    // caller finally executes it (the graft_neardup_dedup pattern —
    // materialize, then unpersist). Reliable checkpoint when the caller
    // configured a checkpoint dir, executor-resident localCheckpoint
    // otherwise, same availability contract as nearDupClusters.
    // NOTE for long-lived sessions: Spark never deletes reliable
    // checkpoint dirs on its own — a session invoking this repeatedly
    // (sweeps, services) with a checkpoint dir configured must set
    // spark.cleaner.referenceTracking.cleanCheckpoints=true, or the
    // per-call directories accumulate on disk.
    val contaminatedLazy = pws.pairs.select(col("id_a").as(idCol)).distinct()
    val contaminated =
      if (train.sparkSession.sparkContext.getCheckpointDir.isDefined)
        contaminatedLazy.checkpoint(true)
      else contaminatedLazy.localCheckpoint(true)
    pws.unpersist()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** CROSS-CORPUS edit-distance near-dup pairs — CHARACTER-level
    * decontamination's candidate+verify stage. [[crossMinhashPairs]] is
    * token-Jaccard: an eval prompt leaked with INTRA-WORD edits (typos,
    * tokenization drift, "colour"/"color") changes whole tokens, so its
    * shingle sets diverge fast and the Jaccard verify misses. This is
    * the bipartite form of [[editDistancePairs]]: banded CHAR-shingle
    * MinHash candidates generated only ACROSS the two relations (left ×
    * right sharing a band bucket, never within one side), combined-
    * occupancy bucket cap (admitted iff both sides appear and
    * cl + cr ≤ maxBucket — the crossMinhashPairs telemetry contract),
    * then the exact thresholded-levenshtein verify behind the
    * |len_a − len_b| ≤ maxDist pre-gate.
    *
    * Scale shape, 100 TB: both sides shuffle once on (band, bucket)
    * ids-only; the join cost is the bipartite bucket product, not a
    * self-join square; texts travel only to distinct candidate pairs;
    * the verify is Spark's Ukkonen-banded `levenshtein(a, b, maxDist)`
    * (O(maxDist·len) per pair, integer-exact on any engine).
    */
  def crossEditDistancePairs(left: DataFrame, right: DataFrame,
                             textCol: String, idCol: String, maxDist: Int,
                             shingleN: Int = 3, bands: Int = 8,
                             rowsPerBand: Int = 4,
                             maxBucket: Int = 1000): DataFrame =
    crossEditDistancePairsStats(left, right, textCol, idCol, maxDist,
      shingleN, bands, rowsPerBand, maxBucket, XxHash).pairs

  /** DuckDB-checkable md5 twin of [[crossEditDistancePairs]]. */
  def crossEditDistancePairsMd5(left: DataFrame, right: DataFrame,
                                textCol: String, idCol: String, maxDist: Int,
                                shingleN: Int = 3, bands: Int = 4,
                                rowsPerBand: Int = 2,
                                maxBucket: Int = 1000): DataFrame =
    crossEditDistancePairsStats(left, right, textCol, idCol, maxDist,
      shingleN, bands, rowsPerBand, maxBucket, Md5Hash).pairs

  private[llm] def crossEditDistancePairsStats(left: DataFrame,
                                               right: DataFrame,
                                               textCol: String, idCol: String,
                                               maxDist: Int, shingleN: Int,
                                               bands: Int, rowsPerBand: Int,
                                               maxBucket: Int,
                                               fam: HashFamily): PairsWithStats = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val k = bands * rowsPerBand
    def prep(df: DataFrame) = df
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sh", array_distinct(charShingleHashes(col("text"), shingleN, fam)))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashFromBaseHashes(col("sh"), k, fam))
      .select("id", "text", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def band(withSig: DataFrame) = withSig.select(
      col("id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          fam.band(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), b).as("bh"))): _*))
        .as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
    val l = prep(left); val r = prep(right)
    val lb = band(l); val rb = band(r)
    val counts = lb.groupBy("band", "bh").agg(count(lit(1)).as("cl"))
      .join(rb.groupBy("band", "bh").agg(count(lit(1)).as("cr")), Seq("band", "bh"))
    val ok = counts.filter(col("cl") + col("cr") <= maxBucket).select("band", "bh")
    val dropped = counts.filter(col("cl") + col("cr") > maxBucket)
      .select(col("band"), col("bh").cast("string").as("bucket"),
        (col("cl") + col("cr")).as("size"))
    val cand = lb.join(ok, Seq("band", "bh"))
      .select(col("band"), col("bh"), col("id").as("id_a"))
      .join(rb.select(col("band"), col("bh"), col("id").as("id_b")), Seq("band", "bh"))
      .select("id_a", "id_b").distinct()
    val pairs = cand
      .join(l.select(col("id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(r.select(col("id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .filter(abs(length(col("text_a")) - length(col("text_b"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
    PairsWithStats(pairs, dropped, cached = Seq(l, r))
  }

  /** CHARACTER-level cross-corpus decontamination: drop every `train`
    * doc within `maxDist` edits of some `eval` doc
    * ([[crossEditDistancePairs]] candidates, exact lev verify). Closes
    * the gap BOTH other decontam tiers leave: `CorpusOps.decontaminate`
    * needs a verbatim shared n-gram, [[fuzzyDecontaminate]] needs
    * token-set overlap — a leaked prompt with intra-word edits evades
    * both but not an edit-distance ball. Anti-join on contaminated
    * train ids; same eager-materialize-then-unpersist endgame as
    * [[fuzzyDecontaminate]] (the contaminated id set is tiny).
    */
  def editDecontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                        textCol: String, maxDist: Int, shingleN: Int = 3,
                        bands: Int = 8, rowsPerBand: Int = 4,
                        maxBucket: Int = 1000): DataFrame =
    editDecontaminateImpl(train, eval, idCol, textCol, maxDist, shingleN,
      bands, rowsPerBand, maxBucket, XxHash)

  /** md5 twin of [[editDecontaminate]] (oracle-checkable end to end). */
  def editDecontaminateMd5(train: DataFrame, eval: DataFrame, idCol: String,
                           textCol: String, maxDist: Int, shingleN: Int = 3,
                           bands: Int = 4, rowsPerBand: Int = 2,
                           maxBucket: Int = 1000): DataFrame =
    editDecontaminateImpl(train, eval, idCol, textCol, maxDist, shingleN,
      bands, rowsPerBand, maxBucket, Md5Hash)

  private def editDecontaminateImpl(train: DataFrame, eval: DataFrame,
                                    idCol: String, textCol: String,
                                    maxDist: Int, shingleN: Int, bands: Int,
                                    rowsPerBand: Int, maxBucket: Int,
                                    fam: HashFamily): DataFrame = {
    val pws = crossEditDistancePairsStats(train, eval, textCol, idCol,
      maxDist, shingleN, bands, rowsPerBand, maxBucket, fam)
    // same materialize-before-unpersist rationale as fuzzyDecontaminateImpl
    val contaminatedLazy = pws.pairs.select(col("id_a").as(idCol)).distinct()
    val contaminated =
      if (train.sparkSession.sparkContext.getCheckpointDir.isDefined)
        contaminatedLazy.checkpoint(true)
      else contaminatedLazy.localCheckpoint(true)
    pws.unpersist()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Jaccard similarity of two string arrays (set semantics). */
  def jaccard(a: Column, b: Column): Column =
    jaccardDistinct(array_distinct(a), array_distinct(b))

  /** Jaccard over arrays already deduplicated (skips the re-distinct). */
  private[graft] def jaccardDistinct(ad: Column, bd: Column): Column = {
    val inter = size(array_intersect(ad, bd))
    val union = size(ad) + size(bd) - inter
    when(union === 0, lit(0.0)).otherwise(inter.cast("double") / union)
  }

  /** 64-bit SimHash of the token multiset: per bit, sum +1/-1 across token
    * hashes; the sign gives the bit. Pure expressions (token hashes
    * computed once, folded per bit position).
    */
  def simhash(toks: Column): Column = {
    val hashes = transform(toks, t => xxhash64(t))
    // bit positions are compile-time constants — unroll in Scala so the
    // shifts stay simple codegen'd expressions
    val bitsum = array((0 until 64).map(b =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))): _*)
    (0 until 64).map(b =>
      when(element_at(bitsum, b + 1) > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
  }

  /** DataFrame-level SimHash on the native fused expression
    * (graft.functions.XxSimhash): one generated loop per doc — no token
    * explode, no shuffle (the round-3 explode + 64-sum construction
    * already beat the 64-lambda HOF form 8×; the fused loop removes the
    * remaining explode shuffle entirely). Bit b is set iff set-bit count
    * is a strict majority — identical to both earlier forms (parity
    * pinned in LlmOpsSpec). Output: (id, simhash); docs with no tokens
    * are absent, matching the explode form.
    */
  def simhashDf(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), tokenize(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0)
      .select(col("id"), org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.XxSimhash(
          org.apache.spark.sql.GraftColumnBridge.expression(col("__t")))).as("simhash"))

  /** DuckDB-checkable simhash twin: the per-token 64-bit hash is replaced
    * by the first 15 hex chars of md5 parsed as a 60-bit integer (both
    * engines can compute it exactly); the bit-count construction is
    * identical. Output column `simhash_md5` (60 meaningful bits).
    */
  def simhashDfMd5(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashDf(df, idCol, textCol,
      toks => transform(toks, t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")),
      60, "simhash_md5")

  private[llm] def simhashDf(df: DataFrame, idCol: String, textCol: String,
                             tokenHashes: Column => Column, nBits: Int,
                             outCol: String): DataFrame = {
    val expl = df.select(col(idCol).as("id"),
      explode(tokenHashes(tokenize(col(textCol)))).as("h"))
    val counts = expl.groupBy("id").agg(
      count(lit(1)).as("__n"),
      (0 until nBits).map(b => sum(shiftright(col("h"), b).bitwiseAND(1)).as(s"__c$b")): _*)
    counts.select(col("id"),
      (0 until nBits).map(b =>
        when(col(s"__c$b") * 2 > col("__n"), lit(1L << b)).otherwise(0L))
        .reduce(_ + _).as(outCol))
  }

  /** SimHash near-duplicate pairs with hamming distance ≤ maxHamming.
    * Candidate generation: split the 64-bit fingerprint into 4 16-bit
    * chunks; by pigeonhole, any pair within hamming 3 shares at least one
    * exact chunk → join per (chunk index, chunk value) bucket only.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    simhashPairsWithStats(df, textCol, idCol, maxHamming, maxBucket).pairs

  /** md5-family twin of `simhashPairs` (DuckDB-checkable): 60-bit md5
    * simhash (simhashDfMd5), 4 chunks of 15 bits — the pigeonhole bound
    * (hamming ≤ 3 over 4 chunks) and the whole bucket/verify pipeline are
    * identical to the production form.
    */
  def simhashPairsMd5(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    simhashPairsFrom(simhashDfMd5(df, idCol, textCol).withColumnRenamed("simhash_md5", "simhash"),
      chunkBits = 15, maxHamming, maxBucket).pairs

  /** `simhashPairs` with dropped-bucket telemetry (see PairsWithStats). */
  def simhashPairsWithStats(df: DataFrame, textCol: String, idCol: String,
                            maxHamming: Int = 3, maxBucket: Int = 1000): PairsWithStats =
    simhashPairsFrom(simhashDf(df, idCol, textCol), chunkBits = 16, maxHamming, maxBucket)

  /** Banded HAMMING near-dup pairs over a PRECOMPUTED 64-bit hash column
    * — the blocking+verify stage shared by simhash text near-dup and the
    * perceptual-image tier ([[Multimodal.imageHashes]]' dhash/ahash):
    * the hash splits into four `chunkBits`-bit chunks, candidates share
    * a (chunk index, chunk value) bucket (pigeonhole: any pair within
    * hamming ≤ 3 shares at least one of 4 chunks — exact recall at the
    * default radius), buckets are capped with dropped-bucket telemetry,
    * and the verify is one codegen'd `bit_count(a XOR b) ≤ maxHamming`
    * per distinct candidate. Rows with a null hash never pair. At
    * 100 TB the shuffle is (id, hash) only — 16 B/row.
    */
  def hammingHashPairs(df: DataFrame, idCol: String, hashCol: String,
                       chunkBits: Int = 16, maxHamming: Int = 3,
                       maxBucket: Int = 1000): DataFrame = {
    require(chunkBits >= 1 && chunkBits <= 16,
      s"chunkBits must be in [1, 16], got $chunkBits")
    require(maxHamming >= 0, s"maxHamming must be non-negative, got $maxHamming")
    simhashPairsFrom(
      df.select(col(idCol).as("id"), col(hashCol).as("simhash"))
        .filter(col("simhash").isNotNull),
      chunkBits, maxHamming, maxBucket).pairs
  }

  private def simhashPairsFrom(simDf: DataFrame, chunkBits: Int,
                               maxHamming: Int, maxBucket: Int): PairsWithStats = {
    val withSim = simDf
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // bucket stats + join branches
    val chunked = withSim.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * chunkBits)
            .bitwiseAND((1L << chunkBits) - 1).as("cv"))): _*)).as("cc"))
      .select(col("id"), col("simhash"), col("cc.chunk"), col("cc.cv"))
    val bucketStats = chunked.groupBy("chunk", "cv").count()
    val okBuckets = bucketStats
      .filter(col("count") <= maxBucket && col("count") > 1).select("chunk", "cv")
    val dropped = bucketStats.filter(col("count") > maxBucket)
      .select(col("chunk").as("band"), col("cv").cast("string").as("bucket"),
        col("count").as("size"))
    val inBucket = chunked.join(okBuckets, Seq("chunk", "cv"))
    val a = inBucket.select(col("chunk"), col("cv"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = inBucket.select(col("chunk"), col("cv"), col("id").as("id_b"), col("simhash").as("sh_b"))
    val pairs = a.join(b, Seq("chunk", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
    PairsWithStats(pairs, dropped, cached = Seq(withSim))
  }

  /** SHARED-KEY PAIR CORE — the generic "two items match when their key
    * SETS overlap enough" relation behind the video-sequence and
    * audio-segment tiers (and composable with any (id, key) relation):
    * candidates share at least one key (bucket join on the key,
    * over-`maxBucket` buckets dropped exactly like [[hammingHashPairs]]'
    * chunk buckets), verified by distinct-key overlap — `shared >=
    * minShared` and Jaccard `shared / (n_a + n_b - shared) >=
    * threshold`. Input: any DataFrame with an id column and a key
    * column (nulls never pair); duplicate (id, key) rows collapse —
    * the semantics are over distinct key SETS. Output (id_a, id_b,
    * shared, n_a, n_b) with id_a < id_b.
    *
    * Scale shape: one distinct + one count per id + a bucket-capped
    * self-join shipping (id, key) rows only — payload bytes never
    * enter; the cap bounds every bucket's quadratic exactly as in the
    * hamming core. Telemetry/caching contract: this bare form delegates
    * to [[sharedKeyPairsWithStats]] and returns `.pairs` only — callers
    * that need the dropped-bucket relation or the unpersist handle use
    * the WithStats form.
    */
  def sharedKeyPairs(df: DataFrame, idCol: String, keyCol: String,
                     minShared: Int = 1, threshold: Double = 0.0,
                     maxBucket: Int = 1000): DataFrame =
    sharedKeyPairsWithStats(df, idCol, keyCol, minShared, threshold,
      maxBucket).pairs

  /** [[sharedKeyPairs]] with the "no silent caps" contract of the
    * sibling cores ([[minhashPairsWithStats]] / [[simhashPairsWithStats]]):
    * `droppedBuckets` has one (bucket = the key value, size) row per
    * over-`maxBucket` key bucket excluded from the candidate join —
    * at corpus scale an over-cap key is usually a degenerate constant
    * (a black frame, a silent audio segment, a uniform tile) and the
    * drop is silent recall loss unless this relation is monitored —
    * and `cached` exposes the persisted distinct-key frame for scoped
    * unpersist in long-lived sessions.
    */
  def sharedKeyPairsWithStats(df: DataFrame, idCol: String, keyCol: String,
                              minShared: Int = 1, threshold: Double = 0.0,
                              maxBucket: Int = 1000): PairsWithStats = {
    require(minShared >= 1, s"minShared must be positive, got $minShared")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0, 1], got $threshold")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val keys = df.select(col(idCol).cast("long").as("id"),
        col(keyCol).cast("string").as("key"))
      .filter(col("id").isNotNull && col("key").isNotNull)
      .distinct()
      // 4 consumers (nk + bucket stats + both join branches) — same
      // scoped-persist pattern as the simhash/ngram cores
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nk = keys.groupBy("id").agg(count(lit(1)).as("nk"))
    val bucketStats = keys.groupBy("key").count()
    val okBuckets = bucketStats
      .filter(col("count") <= maxBucket && col("count") > 1).select("key")
    val dropped = bucketStats.filter(col("count") > maxBucket)
      .select(col("key").as("bucket"), col("count").as("size"))
    val inB = keys.join(okBuckets, Seq("key"))
    val a = inB.select(col("key"), col("id").as("id_a"))
    val b = inB.select(col("key"), col("id").as("id_b"))
    val thr = threshold
    val pairs = a.join(b, Seq("key"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .join(nk.select(col("id").as("id_a"), col("nk").as("n_a")), Seq("id_a"))
      .join(nk.select(col("id").as("id_b"), col("nk").as("n_b")), Seq("id_b"))
      .filter(col("shared") >= minShared &&
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")) >= thr)
      .select("id_a", "id_b", "shared", "n_a", "n_b")
    PairsWithStats(pairs, dropped, cached = Seq(keys))
  }

  /** FRAME-SEQUENCE NEAR-DUP PAIRS — sequence-level similarity over a
    * per-frame hash relation ([[graft.llm.Multimodal.videoFrameHashes]]'
    * (id, frame_idx, fhash)): shingle every `shingleK` CONSECUTIVE
    * frame hashes (consecutive by `orderCol`; windows containing a null
    * hash are skipped), then match clips whose distinct shingle sets
    * overlap — [[sharedKeyPairs]] with the shingle as the key. Shingles
    * make the match alignment-free: a clip trimmed at either end or
    * with one re-encoded frame still shares all untouched shingles,
    * while position-aligned frame comparison would miss every trimmed
    * duplicate.
    *
    * `threshold` is distinct-shingle Jaccard; clips with fewer than
    * `shingleK` decodable frames produce no shingles and never pair.
    *
    * CONSECUTIVE means consecutive INTEGER `orderCol` values (o, o+1,
    * …, o+k-1), not merely row-adjacency: a gap in `orderCol` (a frame
    * row missing entirely, as opposed to present with a null hash)
    * invalidates every shingle spanning it, matching the index-join
    * semantics a relational mirror uses. `orderCol` must be
    * duplicate-free within an id — duplicate order values make
    * row-adjacency (and therefore the shingle set) nondeterministic.
    */
  def frameSequencePairs(frames: DataFrame, idCol: String, orderCol: String,
                         hashCol: String, shingleK: Int = 2,
                         threshold: Double = 0.5, minShared: Int = 1,
                         maxBucket: Int = 1000): DataFrame =
    frameSequencePairsWithStats(frames, idCol, orderCol, hashCol, shingleK,
      threshold, minShared, maxBucket).pairs

  /** [[frameSequencePairs]] with the [[sharedKeyPairsWithStats]]
    * telemetry contract (dropped shingle buckets + unpersist handle).
    */
  def frameSequencePairsWithStats(frames: DataFrame, idCol: String,
                                  orderCol: String, hashCol: String,
                                  shingleK: Int = 2, threshold: Double = 0.5,
                                  minShared: Int = 1,
                                  maxBucket: Int = 1000): PairsWithStats = {
    require(shingleK >= 1, s"shingleK must be positive, got $shingleK")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col(orderCol))
    val parts = (0 until shingleK).map { j =>
      if (j == 0) col(hashCol).cast("string")
      else lead(col(hashCol), j).over(w).cast("string")
    }
    // a shingle is valid only when the k rows it spans carry CONSECUTIVE
    // order values — lead(orderCol, j) == orderCol + j for every j —
    // so a missing frame row (an orderCol gap) breaks its shingles the
    // same way a null hash does
    val consecutive = (1 until shingleK)
      .map(j => lead(col(orderCol), j).over(w) === col(orderCol) + j)
      .foldLeft(lit(true))(_ && _)
    // concat() is null iff ANY member is null — exactly the "window must
    // be fully decodable" rule (concat_ws would silently skip nulls and
    // alias distinct windows)
    val shingle = when(consecutive,
      concat(parts.flatMap(p => Seq(p, lit(":"))).dropRight(1): _*))
    val shingled = frames
      .filter(col(orderCol).isNotNull)
      .select(col(idCol), shingle.as("shingle"))
      .filter(col("shingle").isNotNull)
    sharedKeyPairsWithStats(shingled, idCol, "shingle", minShared, threshold,
      maxBucket)
  }

  /** n-gram Jaccard near-dup with single-min-hash blocking: candidates
    * share the minimum shingle hash (cheap 1-band LSH), then exact Jaccard
    * verifies. Higher recall needs minhashPairs; this is the lightweight
    * variant.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3, threshold: Double = 0.3,
                        maxBucket: Int = 200): DataFrame =
    ngramJaccardPairs(df, textCol, idCol, shingleN, threshold, maxBucket, XxHash)

  /** md5-family twin of `ngramJaccardPairs` (DuckDB-checkable). */
  def ngramJaccardPairsMd5(df: DataFrame, textCol: String, idCol: String,
                           shingleN: Int = 3, threshold: Double = 0.1,
                           maxBucket: Int = 200): DataFrame =
    ngramJaccardPairs(df, textCol, idCol, shingleN, threshold, maxBucket, Md5Hash)

  /** `ngramJaccardPairs` with dropped-bucket telemetry (see PairsWithStats). */
  def ngramJaccardPairsWithStats(df: DataFrame, textCol: String, idCol: String,
                                 shingleN: Int = 3, threshold: Double = 0.3,
                                 maxBucket: Int = 200): PairsWithStats =
    ngramJaccardPairsStats(df, textCol, idCol, shingleN, threshold, maxBucket, XxHash)

  private[llm] def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                                     shingleN: Int, threshold: Double,
                                     maxBucket: Int, fam: HashFamily): DataFrame =
    ngramJaccardPairsStats(df, textCol, idCol, shingleN, threshold, maxBucket, fam).pairs

  /** Connected components over a near-dup `pairs` relation
    * (`id_a`, `id_b`, ...) → one row per member id: (id, cluster_id),
    * where cluster_id is the MINIMUM id in the component — turning
    * pairwise near-dup evidence into dedup groups (transitively: if a~b
    * and b~c then a,b,c share one cluster even when a~c was never a
    * candidate pair).
    *
    * Algorithm: a size-gated hybrid. Graphs at or under `driverMaxEdges`
    * symmetrized edges (integral ids) run one driver union-find pass —
    * the standard contracted-graph endgame; the knob bounds driver
    * memory the way the broadcast-join threshold does. Larger graphs run
    * iterative min-label propagation with pointer-jumping path
    * compression. Each round a node adopts the least of (its label, its
    * neighbors' labels), then labels jump one level (label := label's
    * label) — convergence in O(log diameter) rounds, each round two
    * hash-joins + one aggregation, all key-partitioned (the standard
    * MapReduce-CC shape, cf. Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14). Scale: nothing data-proportional
    * visits the driver (per round: one boolean convergence probe); state
    * between rounds is one (id, label) relation, eagerly
    * locally-checkpointed so every round's plan stays constant-size (see
    * the in-loop comment); superseded rounds' blocks are auto-reclaimed,
    * and the returned relation is lineage-free.
    * Near-dup components have tiny diameters in practice (dup cliques +
    * chains), so rounds ≈ 2-4; `maxIters` is a loud-failure bound, not a
    * silent cap.
    *
    * Availability: `localCheckpoint` stores lineage-free blocks on
    * executors only — losing an executor mid-run makes the in-flight
    * labels relation unrecoverable (the job fails and must be rerun from
    * the pairs relation). Fine for a static cluster; for production runs
    * with dynamic allocation / preemption, set a reliable checkpoint dir
    * first (`spark.sparkContext.setCheckpointDir(...)`) — when one is
    * configured this loop automatically switches to reliable
    * `checkpoint`s, trading per-round HDFS writes for executor-loss
    * recoverability.
    */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 25,
                      driverMaxEdges: Long = 4L * 1000 * 1000): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // symmetrize in ONE pass over pairs (a union of two selects would run
    // the whole upstream pairs pipeline once per branch — measured ~2× the
    // candidate generation cost when the caller passes it un-persisted)
    // NO distinct here: every caller's pair core already emits distinct
    // (id_a < id_b) pairs, so the symmetrized relation is duplicate-free
    // in the common case and the distinct was a full shuffle of the pair
    // relation paid for nothing — and the driver union-find endgame is
    // duplicate-OBLIVIOUS anyway (a repeated union is a no-op). The
    // distributed loop below dedups at entry (its per-round joins would
    // otherwise multiply matches); its gate count treats duplicate edge
    // instances conservatively.
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("a"), col("id_b").as("b")),
        struct(col("id_b").as("a"), col("id_a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .persist(lvl)
    // init at label = min(id, min neighbor): one aggregation that both
    // enumerates the nodes and performs the first propagation step —
    // dup-clique components (the common near-dup shape) converge after
    // this init plus a single no-change verification round.
    // Each round's relation is an EAGER localCheckpoint, not a persist: a
    // persist caches data but leaves the logical plan growing — and the
    // round's self-join + two labels references make the plan ~4× per
    // round, i.e. exponential analysis/codegen cost by round 5 (measured:
    // a 5-round 16-edge graph took 20 s on persists, sub-second on
    // checkpoints). Checkpointing truncates lineage so every round's plan
    // is constant-size; superseded rounds' blocks are reclaimed by the
    // ContextCleaner (relations are pair-members-sized, tiny vs corpus).
    // reliable checkpoints when the caller configured a checkpoint dir
    // (production knob — see the availability note in the scaladoc);
    // localCheckpoint otherwise (fastest, executor-resident)
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    // the loop path's deduped edge relation, released with `edges` below
    var cachedLoop: Option[DataFrame] = None
    def snap(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // try/finally: the maxIters throw below must still release the
    // persisted edge relation (it would otherwise leak until driver GC)
    try {
      // SMALL-GRAPH ENDGAME: the symmetrized candidate relation is pair-
      // members-sized — orders of magnitude below the corpus (banded LSH
      // + bucket caps bound it) — and in the common case fits the driver
      // comfortably. Below `driverMaxEdges` (default 4M directed edges) a
      // single union-find pass replaces the iterative loop: identical
      // output (union-by-min makes each root the component minimum), none
      // of the per-round fixed cost — measured the dominant term for the
      // chain-shaped embedding graphs, whose O(log diameter) rounds each
      // pay a constant-size-but-nonzero checkpointed plan. Above the
      // threshold (or for non-integral id types, or when any endpoint is
      // null — the distributed loop groups nulls separately while getLong
      // would silently fold them into node 0) the distributed loop below
      // is the scale path, unchanged. Set driverMaxEdges = 0 to force it.
      // Driver memory: edges collect as SPECIALIZED (Long, Long) tuples
      // (Tuple2$mcJJ$sp — two primitive fields, no boxed Longs), ~40 B
      // per edge on-heap → ~160 MB at the 4M default, freed right after
      // the pass. An Array[Row] collect here would cost 2-3× that.
      val idType = edges.schema("a").dataType
      val integral = idType == org.apache.spark.sql.types.LongType ||
        idType == org.apache.spark.sql.types.IntegerType
      val counts = edges.agg(count(lit(1)).as("n"),
        count(when(col("a").isNull || col("b").isNull, 1)).as("nulls")).head()
      if (integral && driverMaxEdges > 0 && counts.getLong(0) <= driverMaxEdges &&
          counts.getLong(1) == 0L) {
        implicit val llEnc =
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
        val es = edges.select(col("a").cast("long"), col("b").cast("long"))
          .as[(Long, Long)].collect()
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x // path compression
          while (c != r) { val nx = parent(c); parent.update(c, r); c = nx }
          r
        }
        es.foreach { case (a, b) =>
          if (!parent.contains(a)) parent.update(a, a)
          if (!parent.contains(b)) parent.update(b, b)
          val ra = find(a); val rb = find(b)
          // union by min: the larger root attaches under the smaller, so
          // every root IS its component's minimum — same labels as the
          // min-propagation loop by construction
          if (ra < rb) parent.update(rb, ra)
          else if (rb < ra) parent.update(ra, rb)
        }
        val ks = parent.keysIterator.toArray // materialized: find() mutates
        val outRows = ks.map(x => org.apache.spark.sql.Row(x, find(x))).toSeq
        val spark = pairs.sparkSession
        val schema = new org.apache.spark.sql.types.StructType()
          .add("id", org.apache.spark.sql.types.LongType, nullable = false)
          .add("cluster_id", org.apache.spark.sql.types.LongType, nullable = false)
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(outRows,
            math.max(1, math.min(32, outRows.length / 100000 + 1))), schema)
        return if (idType == org.apache.spark.sql.types.LongType) df
        else df.select(col("id").cast(idType).as("id"),
          col("cluster_id").cast(idType).as("cluster_id"))
      }
      // scale path: dedup ONCE at entry (duplicate edge instances from a
      // pathological caller would otherwise multiply every round's join;
      // the min-aggregations are duplicate-oblivious, so this is purely
      // a performance guard — the endgame above skips it entirely)
      val edgesD = edges.distinct().persist(lvl)
      cachedLoop = Some(edgesD)
      var labels = snap(edgesD.groupBy(col("a"))
        .agg(min("b").as("__mb"))
        .select(col("a").as("id"), least(col("a"), col("__mb")).as("label")))
      var converged = labels.isEmpty // no pairs → no clusters, skip the loop
      var rounds = 0
      while (!converged) {
        if (rounds >= maxIters)
          throw new IllegalStateException(
            s"nearDupClusters did not converge in $maxIters rounds — " +
              "component diameter exceeds 2^maxIters, raise maxIters")
        // min over neighbor labels, null when the node's neighbors carry
        // nothing smaller (left join keeps isolated... — every node has ≥1
        // edge by construction, but keep the left join shape so a filtered
        // pairs relation can't drop rows)
        val nbrMin = edgesD
          .join(labels.select(col("id").as("b"), col("label").as("nl")), Seq("b"))
          .groupBy(col("a").as("id")).agg(min("nl").as("nmin"))
        // the pre-step label rides along as __old so convergence is a plain
        // filter on the round's (persisted) output — no extra join per round
        val stepped = labels
          .join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("label").as("__old"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        // pointer jump: label := label(label) — labels are node ids, so the
        // lookup always resolves; coalesce guards the (unreachable) miss
        val jumped = snap(stepped
          .join(stepped.select(col("id").as("__lid"), col("label").as("__ll")),
            col("label") === col("__lid"), "left")
          .select(col("id"), col("__old"), coalesce(col("__ll"), col("label")).as("label")))
        converged = jumped.filter(col("label") =!= col("__old")).isEmpty
        labels = jumped
        rounds += 1
      }
      // labels is already a checkpointed (lineage-free) relation; the final
      // projection is a plain select over it, so consumers never replay the
      // iterative loop and the only scoped cache to release is the edge set
      labels.select(col("id"), col("label").as("cluster_id"))
    } finally {
      edges.unpersist(false)
      cachedLoop.foreach(_.unpersist(false))
    }
  }

  /** End-to-end near-dup removal: keep every row of `df` except
    * non-canonical near-dup cluster members (the canonical survivor is
    * the cluster's minimum id — same policy as exactDedup's min_by).
    * One anti-join against the (tiny: pair-members only) loser set.
    */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = nearDupClusters(pairs)
      .filter(col("cluster_id") =!= col("id")).select(col("id").as("__loser"))
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  private[llm] def ngramJaccardPairsStats(df: DataFrame, textCol: String, idCol: String,
                                          shingleN: Int, threshold: Double,
                                          maxBucket: Int, fam: HashFamily): PairsWithStats = {
    val withSh = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sh", array_distinct(shingleHashes(tokenize(col("text")), shingleN, fam)))
      .filter(size(col("sh")) > 0)
      .withColumn("block", array_min(col("sh")))
      .select("id", "sh", "block")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // 3 consumers below
    // min-hash blocks concentrate on the globally smallest shingle hashes,
    // so the bucket cap matters: oversized blocks (common boilerplate
    // shingles) are dropped, keeping the join candidate-bounded
    val bucketStats = withSh.groupBy("block").count()
    val okBuckets = bucketStats
      .filter(col("count") <= maxBucket && col("count") > 1).select("block")
    val dropped = bucketStats.filter(col("count") > maxBucket)
      .select(lit(0).as("band"), col("block").cast("string").as("bucket"),
        col("count").as("size"))
    val inB = withSh.join(okBuckets, Seq("block"))
    val a = inB.select(col("block"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = inB.select(col("block"), col("id").as("id_b"), col("sh").as("sh_b"))
    val pairs = a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccardDistinct(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    PairsWithStats(pairs, dropped, cached = Seq(withSh))
  }

  /** Duplicated-SPAN detection — the within-document flip side of
    * document-level dedup (the "ExactSubstr" operation of Lee et al.,
    * *Deduplicating Training Data Makes Language Models Better*, 2021):
    * find the maximal token ranges of each document whose content also
    * occurs elsewhere in the corpus, rather than deciding whole documents
    * are duplicates. The published algorithm builds a corpus-wide suffix
    * array; that is inherently sequential and memory-resident, so this
    * engine uses the shuffle-friendly equivalent for a fixed minimum
    * length `k`:
    *
    *  1. every position contributes its k-token window (one gram row per
    *     token — `posexplode` over [[shingles]]);
    *  2. a window is *duplicated* when the identical k-token sequence
    *     occurs at least `minCount` times corpus-wide (same doc or not);
    *  3. per document, overlapping duplicated windows merge into maximal
    *     spans (gaps-and-islands over a running max of span ends).
    *
    * Coverage guarantee: any duplicated substring of length ≥ k is fully
    * covered by duplicated k-windows at every offset inside it, so each
    * such substring lies inside one reported span — the same spans the
    * suffix-array method reports for threshold k, computed with two
    * key-partitioned shuffles instead of a global sort.
    *
    * 100 TB design: the gram relation shuffles once on the gram key for
    * the occurrence count (map-side partial aggregation collapses
    * boilerplate repeats pre-shuffle) and once for the hits join; with
    * `hashedKeys=true` the key is `xxhash64(gram)` — an 8-byte shuffle
    * key instead of a ~6-word string, the production variant (collision
    * odds at 64 bits are negligible against corpus gram counts; the
    * string-key form exists for cross-engine oracle parity). A
    * mega-duplicated gram (site boilerplate) is ONE aggregate row and
    * each of its occurrences joins that single row — no pair explosion
    * anywhere, unlike candidate-pair dedup. The island merge windows over
    * (doc, position): per-doc data, orders of magnitude smaller than the
    * gram stream.
    *
    * Output: one row per maximal span — (id, span_start, span_end
    * inclusive token positions, span_tokens) — 0-based over [[tokenize]]
    * positions.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, minCount: Int = 2,
                     hashedKeys: Boolean = false): DataFrame = {
    val toks = df.select(col(idCol).as("id"), tokenize(col(textCol)).as("toks"))
    // toks projected before the gram lambda (per-element re-evaluation
    // hazard documented on shingles). The hashed path windows over
    // shingleHashes (fused XxShingleHashes — no per-window string
    // concatenation, LongType keys in the shuffle); equality is the only
    // property the pipeline uses, so any injective-enough keying gives
    // identical spans (pinned vs the string form by spec). Window
    // positions align: both forms emit max(size - k + 1, 0) windows.
    val grams =
      if (hashedKeys)
        toks.select(col("id"),
          posexplode(shingleHashes(col("toks"), k)).as(Seq("pos", "gkey")))
      else
        toks.select(col("id"),
          posexplode(shingles(col("toks"), k)).as(Seq("pos", "gkey")))
    // gram-frequency filter as ONE count-over-window on the gram key —
    // a single tokenize+shingle pass and a single gkey exchange. The
    // previous groupBy(gkey) → join shape ran the whole gram Generate
    // TWICE (once per consumer — Catalyst does not dedup the shared
    // subtree) and shuffled it twice at scale (the broadcast of the
    // dup-key relation only holds while count(gram ≥ minCount) fits a
    // broadcast, which a 100 TB Zipf head does not). A degenerate
    // boilerplate gram makes one big window group; WindowExec's
    // spillable row buffer handles it the same way the sort-merge join
    // buffered that gram's probe group.
    val wG = Window.partitionBy("gkey")
    val hits = grams
      .withColumn("__cnt", count(lit(1)).over(wG))
      .filter(col("__cnt") >= minCount)
      .select(col("id"), col("pos").cast("long").as("s"),
        (col("pos") + (k - 1)).cast("long").as("e"))
    val byPos = Window.partitionBy("id").orderBy("s")
    val prevMax = Window.partitionBy("id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    hits
      .withColumn("brk",
        when(col("s") > coalesce(max("e").over(prevMax), lit(-1L)), 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(byPos))
      .groupBy(col("id"), col("island"))
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Span REMOVAL — rewrite each document's token stream with every
    * duplicated span (per [[duplicateSpans]]) cut out, the actual dedup
    * transformation Lee et al. apply before training. Operates on the
    * normalized token stream (the same [[tokenize]] view all corpus ops
    * share), so `clean_text` is normalized text.
    *
    * The spans relation is grouped to one small array per affected doc
    * and joined back on the id key; the cut itself is a higher-order
    * `filter` with position index against that array — pure codegen
    * projection, the 100 TB corpus body crosses the span join partitioned
    * by id only (and most docs carry a NULL span array through a left
    * join, costing nothing).
    *
    * Output: (id, n_tokens, n_dup_tokens, clean_text).
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 5, minCount: Int = 2,
                           hashedKeys: Boolean = false): DataFrame =
    removeSpans(df, idCol, textCol,
      duplicateSpans(df, idCol, textCol, k, minCount, hashedKeys))

  /** Span removal against an ALREADY-COMPUTED spans relation (shape of
    * [[duplicateSpans]]: id, span_start, span_end inclusive) — lets a
    * pipeline that materialized/cached the detection output (or filtered
    * it, e.g. only spans ≥ N tokens) pay for it once instead of
    * recomputing the whole gram pipeline inside the removal.
    *
    * Caller-supplied spans need NOT be disjoint or in-range: they are
    * merged (overlapping/adjacent) and clamped to the token range inside
    * the [[graft.functions.CutSpans]] kernel, so `n_dup_tokens` is
    * always the count of token positions actually removed (an
    * overlapping input no longer double-counts), and the per-doc cost is
    * O(tokens + spans log spans) — a two-pointer compiled pass, not the
    * HOF per-token `exists` that degraded to O(tokens × spans) on a
    * pathological fully-fragmented doc.
    */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
                  spansDf: DataFrame): DataFrame = {
    // two parallel collect_lists in ONE aggregation pass see rows in the
    // same order, so positions align; CutSpans sorts anyway
    val spans = spansDf
      .groupBy(col(idCol).as("id"))
      .agg(collect_list(col("span_start").cast("long")).as("ss"),
        collect_list(col("span_end").cast("long")).as("es"))
    val cut = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.CutSpans(
        org.apache.spark.sql.GraftColumnBridge.expression(col("toks")),
        org.apache.spark.sql.GraftColumnBridge.expression(
          coalesce(col("ss"), array().cast("array<bigint>"))),
        org.apache.spark.sql.GraftColumnBridge.expression(
          coalesce(col("es"), array().cast("array<bigint>")))))
    df.select(col(idCol).as("id"), tokenize(col(textCol)).as("toks"))
      .join(spans, Seq("id"), "left")
      .withColumn("cut", cut)
      .select(col("id").as(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        col("cut.n_dup_tokens").as("n_dup_tokens"),
        col("cut.clean_text").as("clean_text"))
  }
}
