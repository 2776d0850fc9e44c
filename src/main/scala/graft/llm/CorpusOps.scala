package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for a large-scale training-data pipeline —
  * the filter/packing/decontamination layer that sits between the dedup
  * tier (`TextDedup`) and training: within-document repetition metrics
  * (the Gopher/MassiveText-style quality rules), a corpus-level
  * boilerplate-phrase catalog, eval-set decontamination, deterministic
  * hash sampling, PII redaction, and concat-and-chunk sequence packing.
  *
  * Design for 100 TB:
  *  - Every per-doc metric is either a pure Catalyst projection (no
  *    shuffle) or an explode → partial-aggregating `groupBy` keyed by
  *    (doc, gram) — map-side combine keeps the shuffle proportional to
  *    the DISTINCT gram set, not the token stream.
  *  - `decontaminate` broadcasts the eval-set gram index: eval sets are
  *    tiny (thousands of docs) next to the corpus, so the contamination
  *    join is a broadcast hash join — the train side never shuffles.
  *  - `packSequences` windows PER SHARD (`shardCol`), the way packing is
  *    actually run (each input shard becomes its own sequence stream);
  *    the global-order variant would serialize, the sharded one scales
  *    with shard count.
  *  - `sampleByHash` is a stateless filter on an md5 prefix — no
  *    coordination, reproducible across engines and re-runs, and
  *    composable with any downstream op (the standard "salt-free
  *    deterministic sample" trick).
  */
object CorpusOps {

  /** Max multiplicity of any element in an array column — the native
    * one-pass expression (graft.functions.MaxRunLength: compiled sort +
    * run-length; an `aggregate` HOF fold here runs its lambda interpreted
    * per element). Empty array → 0.
    */
  private def maxMultiplicity(arr: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.MaxRunLength(
        org.apache.spark.sql.GraftColumnBridge.expression(arr)))

  /** Within-document repetition metrics (the cheap degenerate-text
    * filters applied before dedup): duplicate-word fraction, most-common
    * word fraction, and most-common word-bigram fraction. High values
    * flag keyword-stuffed / generated / boilerplate pages.
    *
    * ZERO shuffles: "most common word per doc" is a per-row property, so
    * it's computed as sort_array + a run-length fold ([[maxMultiplicity]])
    * inside the projection — O(L log L) per doc in-line versus shuffling
    * one (doc, token) row per token corpus-wide, which is what the
    * original two explode+groupBy passes did (measured 1.31 s at sf0.1;
    * at 100 TB the explode form's shuffle is the corpus itself, the fold
    * form ships nothing).
    */
  def repetitionColumns(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextDedup.tokenize(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        size(col("toks")).as("n_words"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        maxMultiplicity(col("toks")).as("top_word_cnt"))
      .select(col(idCol), col("n_words"), col("n_distinct"), col("top_word_cnt"),
        greatest(col("n_words") - 1, lit(0)).cast("long").as("n_bigrams"),
        maxMultiplicity(TextDedup.shingles(col("toks"), 2)).as("top_bigram_cnt"))
      .select(col(idCol), col("n_words"),
        when(col("n_words") === 0, 0.0d)
          .otherwise((col("n_words") - col("n_distinct")).cast("double") / col("n_words"))
          .as("dup_word_frac"),
        when(col("n_words") === 0, 0.0d)
          .otherwise(col("top_word_cnt").cast("double") / col("n_words"))
          .as("top_word_frac"),
        when(col("n_bigrams") === 0, 0.0d)
          .otherwise(col("top_bigram_cnt").cast("double") / col("n_bigrams"))
          .as("top_bigram_frac"))

  /** Corpus-level boilerplate-phrase catalog: word n-grams appearing in
    * at least `minDf` DISTINCT documents, with their document frequency
    * and total occurrence count. Real pipelines compute exactly this
    * relation to build boilerplate/stop-phrase filter lists (and its
    * head is what line-dedup removes). One explode → one two-phase
    * aggregate; the HAVING-style filter prunes the long tail before
    * anything is collected.
    */
  def boilerplatePhrases(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, minDf: Int = 5): DataFrame =
    df.select(col(idCol).as("id"), TextDedup.tokenize(col(textCol)).as("toks"))
      // toks is PROJECTED before the gram lambda on purpose: an inline
      // tokenize expression referenced from shingles' transform lambda is
      // re-evaluated per array ELEMENT (a regexp pass per gram, ~50× per
      // doc — measured 5+ s vs 0.4 s at sf0.1); an attribute ref is free
      .select(col("id"), explode(TextDedup.shingles(col("toks"), n)).as("gram"))
      .groupBy("gram")
      .agg(count_distinct(col("id")).as("doc_freq"), count(lit(1)).as("total_cnt"))
      .filter(col("doc_freq") >= minDf)

  /** Eval-set decontamination: flag training documents sharing at least
    * one word `n`-gram with any eval-set document (the GPT-3/PaLM-style
    * n-gram overlap rule). The eval set here is selected by id
    * (`id % evalMod == 0`) to stay self-contained on the test tables; a
    * production call passes a real benchmark table in its place.
    *
    * With `broadcastEval = true` (the default — eval sets are tiny
    * relative to the corpus) the eval gram index is `broadcast()` and
    * contamination is a broadcast hash join; the 100 TB corpus never
    * shuffles. When the eval set is too large to broadcast (a full
    * benchmark suite against a small shard, or a held-out split that is
    * a constant fraction of the corpus), pass `broadcastEval = false`:
    * the join becomes a gram-key-partitioned shuffle join whose train
    * side is ONLY (id, gram) pairs after column pruning — the payload
    * columns (text and everything else) never enter the exchange
    * (asserted by `CorpusOpsSpec` "decontaminate past the broadcast
    * regime"; priced at 10× in BASELINE.md "Decontamination past the
    * broadcast regime at 10×"). Identical output either way.
    */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
                    evalMod: Long = 50, n: Int = 5,
                    broadcastEval: Boolean = true): DataFrame = {
    val grams = df
      .select(col(idCol).as("id"), TextDedup.tokenize(col(textCol)).as("toks"))
      // same per-element re-evaluation hazard as boilerplatePhrases:
      // tokens must be a projected column before entering the gram lambda
      .select(col("id"),
        explode(array_distinct(TextDedup.shingles(col("toks"), n))).as("gram"))
    val evalGrams0 = grams.filter(col("id") % evalMod === 0)
      .select(col("gram"), col("id").as("eval_id")).distinct()
    val evalGrams = if (broadcastEval) broadcast(evalGrams0) else evalGrams0
    val hits = grams.filter(col("id") % evalMod =!= 0)
      .join(evalGrams, "gram")
      .groupBy("id")
      .agg(count_distinct(col("gram")).as("n_hit_grams"),
        count_distinct(col("eval_id")).as("n_eval_docs"))
    df.filter(col(idCol) % evalMod =!= 0)
      .select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"),
        (coalesce(col("n_hit_grams"), lit(0L)) > 0).as("contaminated"))
  }

  /** Concat-and-chunk sequence packing — assign each document its token
    * offset and training-sequence id as if the shard's documents were
    * concatenated in `idCol` order and chopped into `budget`-token
    * sequences (how autoregressive training data is actually packed).
    * Windowed PER SHARD (`shardCol`): each shard is an independent
    * sequence stream, so the cumulative sum parallelizes across shards
    * instead of forcing a global order.
    *
    * Token counts use the BPE-ish segmentation of
    * `TextAnalysis.tokenCounts` (`\w+|[^\w\s]` matches).
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    shardCol: String, budget: Int = 512,
                    tokenizer: Option[Column => Column] = None): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nTok = tokenizer.map(f => f(col(textCol)))
      .getOrElse(regexp_count(col(textCol), lit("\\w+|[^\\w\\s]")))
    df.select(col(idCol), col(shardCol), nTok.as("n_tok"))
      .withColumn("tok_offset", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin_id", floor(col("tok_offset") / budget))
  }

  /** TOKEN-BUDGET corpus MIXING — the data-mixture sampling stage of a
    * training pipeline (LLaMA/Pile-style: each source contributes up to
    * a per-source token budget, not a row count): admit each group's
    * documents in `idCol` order while the tokens consumed BEFORE the
    * document are under the group's budget. Greedy fill — the document
    * that crosses the boundary is admitted (its remainder overflows;
    * budgets are targets, not hard ceilings, matching how mixture
    * weights are applied in practice), every later one is rejected.
    * Token counts are the BPE-ish `\w+|[^\w\s]` segmentation shared
    * with `packSequences` / `TextAnalysis.tokenCounts`.
    *
    * Output per admitted doc: (idCol, groupCol, `n_tok`, `tok_before`)
    * — the audit trail of WHY it was admitted (budget minus tok_before
    * = remaining quota at admission). Deterministic on any engine,
    * partitioning, or re-run: the cut depends only on the (group,
    * idCol) total order. `budgetByGroup` overrides `defaultBudget` per
    * group.
    *
    * PLAN / 100 TB: one group-keyed exchange for the running-sum
    * window (shards parallelize across groups, like packSequences),
    * a codegen'd regexp count, and a pure filter — no joins, no
    * collects; the budget lookup folds to a literal CASE.
    */
  def mixByTokenBudget(df: DataFrame, idCol: String, textCol: String,
                       groupCol: String, defaultBudget: Long,
                       budgetByGroup: Map[String, Long] = Map.empty,
                       tokenizer: Option[Column => Column] = None): DataFrame = {
    require(defaultBudget > 0, s"defaultBudget must be positive, got $defaultBudget")
    budgetByGroup.foreach { case (g, b) =>
      require(b > 0, s"budget for group $g must be positive, got $b")
    }
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val budget = budgetByGroup.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultBudget): Column) { case (acc, (g, b)) =>
        when(col(groupCol) === g, lit(b)).otherwise(acc)
      }
    // null text counts 0 tokens (and is admissible) rather than
    // propagating a null through the running sum and silently dropping
    // every later row of its group
    val nTok = tokenizer.map(f => f(coalesce(col(textCol), lit(""))))
      .getOrElse(regexp_count(coalesce(col(textCol), lit("")),
        lit("\\w+|[^\\w\\s]")))
    df.select(col(idCol), col(groupCol), nTok.as("n_tok"))
      .withColumn("tok_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .filter(col("tok_before") < budget)
  }

  /** HOT-SOURCE-SAFE token-budget mixing — [[mixByTokenBudget]]'s exact
    * semantics (same greedy fill, same audit columns, sym-diff-0 — the
    * contract is that scaladoc) realized as a SEGMENTED PREFIX SUM so no
    * single window task ever sorts a hot group's full corpus share:
    *
    *   1. one projection pass computes `n_tok` (codegen'd regexp count)
    *      and an id-RANGE key `rng = id - pmod(id, rangeWidth)` (the
    *      floor-division range lower bound — monotone in id, exact on
    *      the full Long domain, no double rounding), so ranges
    *      partition each group's admission order;
    *   2. the corpus exchanges ONCE on (group, rng) — the hot group
    *      splits across ceil(span/rangeWidth) tasks instead of one —
    *      and a local window computes the within-range cumsum;
    *   3. per-range token subtotals aggregate exchange-free on top of
    *      that same partitioning (rows = groups × occupied ranges, a
    *      TINY relation), a per-group window over ranges turns them
    *      into running range offsets, and ranges whose offset already
    *      meets the budget are dropped;
    *   4. the offsets broadcast-join back and
    *      `tok_before = range_offset + within_range_cumsum`.
    *
    * PLAN / 100 TB: the text column is scanned ONCE — both consumers of
    * step 2 (the local window and the subtotal aggregate) read the same
    * (group, rng) exchange, which Catalyst dedups via ReusedExchange
    * (pinned in CorpusOpsSpec) — and never shuffles (n_tok is computed
    * below the exchange, like the window form). The only per-doc
    * exchange payload is (id, group, n_tok, rng); the only per-group
    * serial work is the range-offset window over the tiny subtotal
    * relation (one row per occupied range, not per doc). Catalyst has
    * no InferWindowGroupLimit analog for running SUMs (that rule covers
    * rank/row_number caps — see [[capPerGroup]]), so this is the shape
    * the optimizer cannot derive from the bare window itself.
    *
    * `rangeWidth` trades task granularity against subtotal-relation
    * size: the hot group's window tasks see at most the docs of one
    * id-range. The default (1 « 20) keeps the subtotal relation ≤
    * idSpan/2^20 rows per group — broadcast-safe up to multi-trillion
    * id spans. Requires an INTEGRAL `idCol` (the range key is id div
    * rangeWidth); [[mixByTokenBudget]] remains the small-scale /
    * arbitrary-orderable-id arm.
    */
  def mixByTokenBudgetSegmented(df: DataFrame, idCol: String, textCol: String,
                                groupCol: String, defaultBudget: Long,
                                budgetByGroup: Map[String, Long] = Map.empty,
                                rangeWidth: Long = 1L << 20,
                                tokenizer: Option[Column => Column] = None): DataFrame = {
    require(defaultBudget > 0, s"defaultBudget must be positive, got $defaultBudget")
    require(rangeWidth > 0, s"rangeWidth must be positive, got $rangeWidth")
    budgetByGroup.foreach { case (g, b) =>
      require(b > 0, s"budget for group $g must be positive, got $b")
    }
    val budget = budgetByGroup.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultBudget): Column) { case (acc, (g, b)) =>
        when(col(groupCol) === g, lit(b)).otherwise(acc)
      }
    // step 1: n_tok + monotone range key, computed below the exchange
    // (null text counts 0 tokens — the mixByTokenBudget hardening)
    val nTok = tokenizer.map(f => f(coalesce(col(textCol), lit(""))))
      .getOrElse(regexp_count(coalesce(col(textCol), lit("")),
        lit("\\w+|[^\\w\\s]")))
    val base = df.select(col(idCol), col(groupCol), nTok.as("n_tok"),
      (col(idCol).cast("long") - pmod(col(idCol).cast("long"), lit(rangeWidth)))
        .as("__rng_lo"))
    // step 2: ONE (group, range) exchange; local cumsum excluding self
    val wLoc = Window.partitionBy(col(groupCol), col("__rng_lo"))
      .orderBy(col(idCol)).rowsBetween(Window.unboundedPreceding, -1)
    val local = base.withColumn("__loc_before",
      coalesce(sum(col("n_tok")).over(wLoc), lit(0L)))
    // step 3: subtotals DERIVED FROM THE WINDOW OUTPUT — the range total
    // equals max(__loc_before + n_tok) (n_tok ≥ 0 makes the inclusive
    // prefix sum monotone, so its max is the last row's total). A plain
    // sum(n_tok) would let Catalyst prune the window out of this branch
    // and re-scan the corpus with its own partial aggregate; anchoring
    // on __loc_before forces the branch through step 2's exchange, which
    // ReuseExchange then dedups — the corpus is scanned ONCE (pinned in
    // LlmOpsSpec). The groupBy keys equal the exchange keys, so no new
    // per-doc shuffle is planted either.
    val sub = local.groupBy(col(groupCol), col("__rng_lo"))
      .agg(max(col("__loc_before") + col("n_tok")).as("__rng_tok"))
    val wRng = Window.partitionBy(col(groupCol)).orderBy(col("__rng_lo"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sub
      .withColumn("__rng_before", coalesce(sum(col("__rng_tok")).over(wRng), lit(0L)))
      .filter(col("__rng_before") < budget)
      .select(col(groupCol), col("__rng_lo"), col("__rng_before"))
    // step 4: broadcast the offsets back; the inner join IS the prune.
    // NULL-SAFE keys, for two reasons: (a) the window form admits
    // null-group rows (they form their own window partition) — a plain
    // equi-join would silently drop them, breaking sym-diff-0; (b) a
    // plain equi-join infers isnotnull filters into ONE side's scan,
    // making the two exchange subtrees unequal and defeating
    // ReuseExchange (the one-scan property).
    val offs = offsets.select(col(groupCol).as("__off_grp"),
      col("__rng_lo").as("__off_rng"), col("__rng_before"))
    local.join(broadcast(offs),
        col(groupCol) <=> col("__off_grp") && col("__rng_lo") <=> col("__off_rng"))
      .withColumn("tok_before", col("__rng_before") + col("__loc_before"))
      .filter(col("tok_before") < budget)
      .select(col(idCol), col(groupCol), col("n_tok"), col("tok_before"))
  }

  /** Per-group document cap — the RefinedWeb-style per-domain quota
    * (cap how much any one domain/source contributes to the corpus, so
    * boilerplate-heavy hosts can't dominate the training mix): keep at
    * most `cap` rows per `groupCol`, deterministic priority = ascending
    * `orderCol` (callers rank by quality score, recency, or id — any
    * total order makes the kept set engine-independent).
    *
    * PLAN / 100 TB scale: a declarative `row_number() OVER (PARTITION
    * BY group ORDER BY order) <= cap` is all Catalyst needs — the
    * `InferWindowGroupLimit` optimizer rule plants a PARTIAL
    * WindowGroupLimit BELOW the group-keyed exchange (visible in
    * PLANS.md `doc_source_cap`: Partial group-limit → Exchange → Final
    * group-limit → Window), so each input partition forwards at most
    * `cap` rows per group and a hot domain ships partitions × cap rows
    * to its window task, never its full corpus share. Column pruning
    * reaches the scan (the probe's plan reads exactly doc_id+source).
    * Rounds 12-13 hand-built this same two-level shape — first as a
    * mapPartitions pre-cap (blocked column pruning; paid a row-encoder
    * pass; +52% on the sf0.1 gate), then as a native stateful
    * predicate — and the 10× hot-group probe (one group = 50% of rows;
    * BASELINE.md "capPerGroup hot-group probe") measured BOTH
    * redundant: the bare window already shuffles the identical
    * partitions × cap × groups row count (1,101 rows vs 25,000+ for
    * the hot group) because the optimizer provides the pre-filter
    * natively, in whole-stage codegen, sharing the window's own sort.
    * Per the project's first design rule — don't hand-schedule what
    * the optimizer already does — the hand-built levels are deleted;
    * `LlmOpsSpec` "capPerGroup plan: partial WindowGroupLimit runs below
    * the exchange" is the regression guard for the native rule.
    */
  def capPerGroup(df: DataFrame, groupCol: String, orderCol: String,
                  cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    df.withColumn("__rk", row_number().over(
        Window.partitionBy(groupCol).orderBy(col(orderCol))))
      .filter(col("__rk") <= cap)
      .drop("__rk")
  }

  /** CCNet-style LM quality scoring (Wenzek et al. 2020, arXiv:1911.00359):
    * score every document by an add-α-smoothed word-BIGRAM language model
    * trained on a reference corpus — CCNet ranks Common Crawl by
    * Wikipedia-LM perplexity and keeps the head/middle buckets; this is
    * that filter with the KenLM stand-in replaced by a model both engines
    * can derive exactly. p(cur | prev) = (c(prev,cur) + α) /
    * (c(prev) + α·(V+1)) with V = train vocabulary size (the +1 is the
    * OOV bucket, so unseen continuations keep mass); per-doc perplexity =
    * exp(mean −ln p) over the doc's bigram positions.
    *
    * Output per doc: `n_tokens`, `n_bigrams`, `oov_bigrams` (positions
    * whose bigram is unseen in train), `hit_prev` / `hit_bigram` (the
    * summed train counts the model looked up — the model's sufficient
    * statistics), and `ppl` (NULL for docs with < 2 tokens). The five
    * integer columns are exact joins/sums and hash-verifiable in DuckDB
    * (the `doc_lm_ppl` oracle row); `ppl` itself is excluded from the
    * hash row — ln/exp are not correctly-rounded across engines (unlike
    * the +,×,÷,√ the cosine mirrors rely on) — and is instead pinned by
    * a hand-computed fixture in `CorpusOpsSpec`, the same split the ANN
    * rows use for their `sim` doubles.
    *
    * Scale shape: token streams explode once per side; train counts are
    * partial-aggregated (map-side combine ⇒ shuffle ∝ distinct
    * unigram/bigram TYPES, not the token stream); the two probe joins
    * key on Zipf-skewed tokens, so the doc side pre-aggregates to
    * (doc, bigram type) first — the head key's multiplicity is then
    * bounded by docs-containing-it, not token occurrences — and AQE
    * skew-join covers the rest. V is one count() scalar (the same
    * constant-size driver anchor policy as the ANN codebooks).
    */
  /** The trained bigram LM as deployable relations: unigram counts
    * (`tok`, `c1`), bigram counts (`sh` = "prev cur", `c12`), the
    * vocabulary size scalar, and α — what both [[lmPerplexity]] and the
    * streaming [[graft.streaming.LmScoreStream]] score against (train
    * offline, deploy the counts — the same contract as the ANN
    * centroid/codebook literals, but relation-sized: the count tables
    * join, they don't broadcast-as-literals).
    */
  final case class LmBigramModel(uni: DataFrame, bi: DataFrame,
                                 vocabSize: Long, alpha: Double,
                                 biSize: Long = -1L)

  /** Train the add-α bigram model of [[lmPerplexity]] on `train`.
    * The count relations are MATERIALIZED (executor-resident
    * localCheckpoint — vocab/bigram-vocab-bounded, distributed): the
    * model is "train offline, deploy", and a lazy static side would be
    * re-computed per probe — per micro-batch in
    * [[graft.streaming.LmScoreStream]]'s stream-static joins.
    */
  def lmTrain(train: DataFrame, trainTextCol: String,
              alpha: Double = 0.5): LmBigramModel = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val tToks = train.select(TextDedup.tokenize(col(trainTextCol)).as("toks"))
    // ONE corpus scan and ONE map-side-combined shuffle for BOTH count
    // relations: unigrams and bigrams are kind-tagged, exploded together
    // (directly over the projected token attribute — the HOF
    // re-evaluation pitfall, see dsirWeights), aggregated once, and the
    // single materialized result split by kind. The previous shape
    // tokenized and scanned the train corpus twice (one pass per
    // relation) and materialized two checkpoints. A unigram can never
    // equal a bigram (tokens are whitespace-free, bigrams carry a
    // space), but the kind tag keeps the split structural, not lexical.
    val counted = tToks.select(explode(concat(
        transform(col("toks"),
          t => struct(lit(1).as("k"), t.as("g"))),
        transform(TextDedup.shingles(col("toks"), 2),
          sh => struct(lit(2).as("k"), sh.as("g"))))).as("e"))
      .groupBy(col("e.k").as("k"), col("e.g").as("g"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val uni = counted.filter(col("k") === 1)
      .select(col("g").as("tok"), col("c").as("c1"))
    val bi = counted.filter(col("k") === 2)
      .select(col("g").as("sh"), col("c").as("c12"))
    // both sizes come off the materialized relation in one job; biSize
    // lets scorers pick the broadcast side deliberately (guide-§3 join
    // strategy) instead of sort-merging a vocab-bounded probe table
    val sizes = counted.groupBy("k").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    LmBigramModel(uni, bi, sizes.getOrElse(1, 0L), alpha,
      biSize = sizes.getOrElse(2, 0L))
  }

  def lmPerplexity(docs: DataFrame, textCol: String, idCol: String,
                   train: DataFrame, trainTextCol: String,
                   alpha: Double = 0.5): DataFrame = {
    val model = lmTrain(train, trainTextCol, alpha)
    val vocabN = model.vocabSize
    // deliberate join strategy (guide §3.1): the count relations are
    // exact-size-known from training — under 1M rows apiece they are
    // tens of MB and the probe joins become broadcast hash joins (the
    // corpus side never shuffles on sh/prev); past that the sort-merge
    // path stands (a 100 TB corpus' bigram-type table outgrows any
    // broadcast). Loader-restored models (biSize = -1) stay on the
    // conservative join path.
    val bcastOk = model.biSize >= 0 && model.vocabSize < 1000000L &&
      model.biSize < 1000000L
    val uni = if (bcastOk) broadcast(model.uni) else model.uni
    val bi = if (bcastOk) broadcast(model.bi) else model.bi
    val toksD = docs.select(col(idCol).as("doc_id"),
      TextDedup.tokenize(col(textCol)).as("toks"))
    val d = toksD.select(col("doc_id"), size(col("toks")).as("n_tokens"))
    // per-(doc, bigram TYPE) with multiplicity — collapses the Zipf head
    // before the probe joins (see scaladoc). The bigram array explodes
    // DIRECTLY over the projected token attribute: projecting the HOF
    // array and exploding the attribute costs ~8× (the round-8 HOF
    // pitfall's second form — see dsirWeights)
    val db = toksD
      .select(col("doc_id"),
        explode(TextDedup.shingles(col("toks"), 2)).as("sh"))
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("m"))
      .withColumn("prev", split(col("sh"), " ").getItem(0))
    val denomAdd = alpha * (vocabN + 1).toDouble
    val scored = db
      .join(bi, Seq("sh"), "left")
      .join(uni, db("prev") === uni("tok"), "left")
      .select(col("doc_id"), col("m"),
        coalesce(col("c12"), lit(0L)).as("c12"),
        coalesce(col("c1"), lit(0L)).as("c1"))
      .withColumn("logp",
        log((col("c12").cast("double") + lit(alpha)) /
          (col("c1").cast("double") + lit(denomAdd))))
    val agg = scored.groupBy("doc_id").agg(
      sum(col("m")).as("n_bigrams"),
      sum(when(col("c12") === 0L, col("m")).otherwise(lit(0L))).as("oov_bigrams"),
      sum(col("c1") * col("m")).as("hit_prev"),
      sum(col("c12") * col("m")).as("hit_bigram"),
      exp(-sum(col("logp") * col("m")) / sum(col("m"))).as("ppl"))
    d.select("doc_id", "n_tokens")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("oov_bigrams"), lit(0L)).as("oov_bigrams"),
        coalesce(col("hit_prev"), lit(0L)).as("hit_prev"),
        coalesce(col("hit_bigram"), lit(0L)).as("hit_bigram"),
        col("ppl"))
  }

  /** Deterministic stratified sampling: keep a row iff the first 4 hex
    * chars of md5(id ":" text) fall below the stratum's threshold prefix
    * (e.g. "1999" ≈ 10%, "3333" ≈ 20%). Engine- and run-independent —
    * the same rows are kept on any engine, any partitioning, any re-run
    * — which is what makes hash sampling the standard for reproducible
    * corpus ablations. Pure filter: no shuffle, no state.
    */
  def sampleByHash(df: DataFrame, idCol: String, textCol: String,
                   stratCol: String, prefixByStrat: Map[String, String],
                   defaultPrefix: String): DataFrame = {
    val key = substring(
      md5(concat(col(idCol).cast("string"), lit(":"), col(textCol))), 1, 4)
    val thr = prefixByStrat.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPrefix): Column) { case (acc, (k, v)) =>
        when(col(stratCol) === k, lit(v)).otherwise(acc)
      }
    df.filter(key < thr)
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+\\d{1,3}-\\d{3}-\\d{4}"

  /** Append a deterministic synthetic email + phone to each document —
    * the test tables contain no PII, so verification enriches them with
    * known-shape contacts first (the enrichment is part of the verified
    * query on BOTH engines, making the redaction regexes' cross-engine
    * parity the thing under test).
    */
  def withSyntheticPii(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("pii_text", concat(col(textCol),
      lit(" contact user"), col(idCol).cast("string"),
      lit("@mail.example.com or call +1-555-"),
      lpad((col(idCol) % 10000).cast("string"), 4, "0"), lit(" today")))

  /** Deterministic multi-line reshaping for line-level ops: the driver
    * corpora are single-line, so (same pattern as [[withSyntheticPii]] /
    * `Multimodal.withSyntheticMedia`) each doc's tokens are folded into
    * `lineWords`-token lines and framed by boilerplate — a per-doc-id
    * header from a 4-entry rotation plus a footer shared by every doc —
    * giving line dedup real cross-document duplicate-line traffic.
    * Pure projection; mirrored in SQL by the oracle.
    */
  def withSyntheticLines(df: DataFrame, idCol: String, textCol: String,
                         lineWords: Int = 10, out: String = "lines_text"): DataFrame = {
    val headers = array(
      lit("subscribe to our newsletter today"),
      lit("click here to read more"),
      lit("copyright acme corporation"),
      lit("share this article on social media"))
    df.withColumn("__l_toks", TextDedup.tokenize(col(textCol)))
      .withColumn(out, concat_ws("\n",
        element_at(headers, (col(idCol) % 4 + 1).cast("int")),
        concat_ws("\n", transform(
          sequence(lit(1), greatest(
            ceil(size(col("__l_toks")).cast("double") / lineWords).cast("int"), lit(1))),
          i => concat_ws(" ", slice(col("__l_toks"), (i - 1) * lineWords + 1, lit(lineWords))))),
        lit("all rights reserved")))
      .drop("__l_toks")
  }

  /** The dropped-line RELATION under CCNet line dedup: one row per (doc,
    * position) whose line content appears in at least `minDf` distinct
    * documents — the change-log form of [[lineDedup]] (which rebuilds the
    * text), and the batch parity target for the streaming twin
    * (`streaming.LineDedupStream`). Same plan shape minus the rebuild.
    */
  def duplicateLines(df: DataFrame, idCol: String, textCol: String,
                     minDf: Int = 3, hashedKeys: Boolean = false): DataFrame = {
    val keyOf: Column => Column = if (hashedKeys) (l: Column) => xxhash64(l) else identity
    val lines = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .select(col("id"), col("pos"), keyOf(col("line")).as("lkey"))
    val dup = lines.groupBy("lkey")
      .agg(count_distinct(col("id")).as("df_cnt"))
      .filter(col("df_cnt") >= minDf).select("lkey")
    lines.join(dup, Seq("lkey"))
      .select(col("id").as(idCol), col("pos").cast("long").as("pos"))
  }

  /** CCNet-style LINE-level dedup — the standard boilerplate-removal pass
    * between span dedup and doc dedup in a training pipeline: drop every
    * line whose exact content appears in at least `minDf` DISTINCT
    * documents (headers, footers, cookie banners, nav text), keep
    * everything else in order. Output: (id, n_lines, n_dropped,
    * clean_text).
    *
    * Same 100 TB shape as `TextDedup.duplicateSpans`: one line row per
    * newline (posexplode), a doc-frequency aggregate whose map-side
    * combine collapses the boilerplate mass pre-shuffle, a
    * key-partitioned join back (never all-pairs — a line shared by a
    * million docs is ONE aggregate row), and a per-doc positions array
    * driving a higher-order filter rebuild. `hashedKeys=true` runs the
    * frequency/join key as `xxhash64(line)` — fixed 8-byte shuffle keys,
    * the production form (CCNet itself dedups on line hashes).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDf: Int = 3, hashedKeys: Boolean = false): DataFrame = {
    val keyOf: Column => Column = if (hashedKeys) (l: Column) => xxhash64(l) else identity
    val lines = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .select(col("id"), col("pos"), keyOf(col("line")).as("lkey"))
    // line document-frequency as windows over ONE line explode: the
    // previous groupBy(lkey) → join shape ran the split+posexplode
    // Generate twice (once per consumer). count-distinct-ids inside a
    // window = flag each (lkey, id)'s first row (lag over the id-sorted
    // key partition), then sum the flags over the whole partition —
    // exact, and both windows share the single lkey exchange. The
    // shared boilerplate footer line makes one big window group;
    // WindowExec's spillable buffer absorbs it (the dup-span gram
    // window's at-scale story).
    val wOrd = Window.partitionBy("lkey").orderBy("id", "pos")
    val wAll = Window.partitionBy("lkey")
    val drops = lines
      .withColumn("__first",
        when(lag(col("id"), 1).over(wOrd).isNull ||
          lag(col("id"), 1).over(wOrd) =!= col("id"), 1L).otherwise(0L))
      .withColumn("__df", sum(col("__first")).over(wAll))
      .filter(col("__df") >= minDf)
      .groupBy("id").agg(sort_array(collect_list(col("pos"))).as("__drop_pos"))
    df.select(col(idCol).as("id"), split(col(textCol), "\n").as("__lines"))
      .join(drops, Seq("id"), "left")
      .withColumn("__drop_pos", coalesce(col("__drop_pos"), array().cast("array<int>")))
      .select(col("id").as(idCol),
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__drop_pos")).cast("long").as("n_dropped"),
        concat_ws("\n", filter(col("__lines"),
          (_, i) => !array_contains(col("__drop_pos"), i))).as("clean_text"))
  }

  /** PII redaction: replace emails and international-format phone
    * numbers with typed placeholder tokens, and count the redactions
    * (the audit column a compliance pass needs). Pure projection —
    * codegen'd `regexp_replace`/`regexp_count`, no shuffle.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>").as("redacted"),
      regexp_count(col(textCol), lit(EmailRe)).as("n_emails"),
      regexp_count(col(textCol), lit(PhoneRe)).as("n_phones"))

  // ------------------------------------------------------------------
  // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  // arXiv:2302.03169): select raw-pool documents whose hashed-n-gram
  // feature distribution looks like a small target corpus. The feature
  // space is n-gram occurrences hashed into a FIXED number of buckets,
  // so both "distributions" are bucket-count relations bounded by
  // nBuckets regardless of corpus size — at 100 TB the model is still a
  // few thousand rows and broadcasts.
  //
  // Verification follows the `doc_lm_ppl` policy: the hashed oracle
  // surface is the INTEGER sufficient statistics (per-doc gram counts,
  // per-bucket count dot products, OOV occurrence counts — they pin the
  // tokenize/gram/bucket chain, both count relations, both probe joins,
  // and the per-doc folds), while the ln-based importance weight and
  // the Gumbel top-k selection are pinned by exact hand-computed
  // fixtures (doubles are not correctly-rounded across engines).

  /** The trained DSIR importance model as deployable relations: one
    * (bucket, c_tgt, c_raw) row per occupied feature bucket (≤ nBuckets
    * = 16^hexChars rows — broadcast-sized by construction), the two
    * corpus totals, and the add-α smoothing constant. Train offline,
    * deploy the counts — the [[graft.streaming.DsirScoreStream]]
    * streaming twin scores arrivals against exactly this relation.
    */
  final case class DsirModel(buckets: DataFrame, totTgt: Long, totRaw: Long,
                             alpha: Double, gramNs: Seq[Int], hexChars: Int,
                             md5Family: Boolean) {
    def nBuckets: Long = 1L << (4 * hexChars)
  }

  /** All word n-grams of the requested sizes (the paper's feature set is
    * unigrams+bigrams = `Seq(1, 2)`). `toks` must be a projected column
    * (see [[TextDedup.shingles]]'s performance note).
    */
  private[graft] def dsirGrams(toks: Column, gramNs: Seq[Int]): Column =
    concat(gramNs.map(n => TextDedup.shingles(toks, n)): _*)

  /** Feature bucket of one gram: the first `hexChars` hex chars of md5
    * (the DuckDB-mirrorable family, 16^hexChars buckets) or
    * xxhash64 mod 16^hexChars (the production family), both as strings
    * so the model schema is family-independent.
    */
  private[graft] def dsirBucket(gram: Column, hexChars: Int,
                                md5Family: Boolean): Column =
    if (md5Family) substring(md5(gram), 1, hexChars)
    else pmod(xxhash64(gram), lit(1L << (4 * hexChars))).cast("string")

  /** Train the DSIR bucket model: hashed-gram occurrence counts over the
    * target corpus and the raw pool. Two scans, each a map-side-combined
    * `groupBy(bucket)` whose result is bounded by 16^hexChars rows; the
    * totals are two scalars off the tiny bucket relation.
    */
  def dsirTrain(target: DataFrame, targetTextCol: String,
                raw: DataFrame, rawTextCol: String,
                gramNs: Seq[Int] = Seq(1, 2), hexChars: Int = 2,
                alpha: Double = 1.0, md5Family: Boolean = false): DsirModel = {
    require(gramNs.nonEmpty && gramNs.forall(_ >= 1),
      s"gramNs must be non-empty positive gram sizes, got $gramNs")
    require(gramNs.distinct == gramNs, s"gramNs must be distinct, got $gramNs")
    require(hexChars >= 1 && hexChars <= 7,
      s"hexChars must be in [1, 7] (16^7 buckets ≈ 268M already far past " +
        s"broadcast size), got $hexChars")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    // ONE union-tagged pass over both corpora: each side's tokenized
    // rows carry a class flag, the gram explode and the bucket
    // aggregation run once, and both per-class counts come out of the
    // same map-side-combined shuffle — the previous shape ran one scan
    // + shuffle per class and full-outer-joined the two bucket
    // relations (same counts: a gram contributes to exactly one class,
    // and a bucket occupied by either class has a row in the union
    // aggregate exactly as it had one in the full-outer join).
    // MATERIALIZE the model (≤ 16^hexChars rows): training is "train
    // offline, deploy" — without this every dsirWeights/dsirSelect call
    // would re-run the corpus gram scan through the lazy lineage
    // (executor-resident localCheckpoint, the nearDupClusters contract;
    // measured 10.8 → ~4 s on the sf0.1 doc_dsir_select bench)
    val tagged = target
      .select(TextDedup.tokenize(col(targetTextCol)).as("toks"),
        lit(true).as("__tgt"))
      .unionByName(raw
        .select(TextDedup.tokenize(col(rawTextCol)).as("toks"),
          lit(false).as("__tgt")))
    val buckets = tagged
      .select(col("__tgt"), explode(dsirGrams(col("toks"), gramNs)).as("gram"))
      .groupBy(dsirBucket(col("gram"), hexChars, md5Family).as("bucket"))
      .agg(sum(when(col("__tgt"), 1L).otherwise(0L)).as("c_tgt"),
        sum(when(!col("__tgt"), 1L).otherwise(0L)).as("c_raw"))
      .localCheckpoint(true)
    val tots = buckets.agg(coalesce(sum("c_tgt"), lit(0L)),
      coalesce(sum("c_raw"), lit(0L))).head()
    DsirModel(buckets, tots.getLong(0), tots.getLong(1), alpha, gramNs,
      hexChars, md5Family)
  }

  /** Per-document importance statistics against a trained [[DsirModel]]:
    * the integer sufficient statistics (`n_grams`, `oov_tgt`, `oov_raw`,
    * `hit_tgt` = Σ m·c_tgt[b], `hit_raw` = Σ m·c_raw[b] — the
    * `doc_dsir_md5` oracle surface) plus the add-α importance weight
    * `logw` = Σ_b m_b·(ln p̂_tgt[b] − ln p̂_raw[b]).
    *
    * Plan: gram explode → per-(doc, bucket) pre-aggregation (the Zipf
    * head collapses to ≤ nBuckets rows per doc before any join) →
    * `broadcast()` hash join against the bucket relation → one doc-keyed
    * fold. One shuffle keyed by doc; the model never shuffles.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  model: DsirModel): DataFrame = {
    // per-gram constant: ln((T_raw + αB) / (T_tgt + αB)) — the smoothing
    // denominators moved out of the per-bucket term
    val logConst = math.log(
      (model.totRaw + model.alpha * model.nBuckets) /
        (model.totTgt + model.alpha * model.nBuckets))
    val toksD = docs.select(col(idCol).as("doc_id"),
      TextDedup.tokenize(col(textCol)).as("toks"))
    // explode the gram expression DIRECTLY over the projected token
    // attribute — projecting the HOF array in its own select and
    // exploding the attribute re-plans the array build into the
    // Generate's per-row child projection in a shape that costs ~8×
    // (12.3 vs 1.7 s at sf0.1, the round-8 HOF pitfall's second form;
    // boilerplatePhrases' scaladoc documents the first)
    val db = toksD
      .select(col("doc_id"),
        explode(dsirGrams(col("toks"), model.gramNs)).as("gram"))
      .groupBy(col("doc_id"),
        dsirBucket(col("gram"), model.hexChars, model.md5Family).as("bucket"))
      .agg(count(lit(1)).as("m"))
    val j = db.join(broadcast(model.buckets), Seq("bucket"), "left")
      .select(col("doc_id"), col("m"),
        coalesce(col("c_tgt"), lit(0L)).as("c_tgt"),
        coalesce(col("c_raw"), lit(0L)).as("c_raw"))
    val agg = j.groupBy("doc_id").agg(
      sum(col("m")).as("n_grams"),
      sum(when(col("c_tgt") === 0L, col("m")).otherwise(lit(0L))).as("oov_tgt"),
      sum(when(col("c_raw") === 0L, col("m")).otherwise(lit(0L))).as("oov_raw"),
      sum(col("c_tgt") * col("m")).as("hit_tgt"),
      sum(col("c_raw") * col("m")).as("hit_raw"),
      sum(col("m") * (log(col("c_tgt").cast("double") + lit(model.alpha)) -
        log(col("c_raw").cast("double") + lit(model.alpha)))).as("logratio"))
    toksD.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("oov_tgt"), lit(0L)).as("oov_tgt"),
        coalesce(col("oov_raw"), lit(0L)).as("oov_raw"),
        coalesce(col("hit_tgt"), lit(0L)).as("hit_tgt"),
        coalesce(col("hit_raw"), lit(0L)).as("hit_raw"),
        (coalesce(col("logratio"), lit(0.0)) +
          coalesce(col("n_grams"), lit(0L)).cast("double") * lit(logConst))
          .as("logw"))
  }

  /** TRAINED quality classifier model — the fastText-style hashed
    * n-gram LINEAR scorer that standard curation pipelines run between
    * the heuristic quality rules ([[TextAnalysis]]) and training
    * (LLaMA/Phi-style "does this look like the reference corpus"
    * filtering; Joulin et al. 2016, arXiv:1607.01759 is the feature
    * construction): bucket counts per CLASS over a labeled split plus
    * class document counts. Naive Bayes over hashed bag-of-gram
    * features IS a linear classifier in this feature space, and its
    * weights come in CLOSED FORM from these count sufficient statistics
    * — so training is the same two map-side-combined `groupBy(bucket)`
    * scans as [[dsirTrain]], the model is ≤ 16^hexChars rows, and the
    * verification split is exact-integer (the LM/DSIR oracle pattern:
    * integer stats hashed cross-engine, the double score spec-pinned as
    * a closed form of those integers).
    */
  final case class QualityClfModel(buckets: DataFrame, totPos: Long,
                                   totNeg: Long, nPosDocs: Long,
                                   nNegDocs: Long, alpha: Double,
                                   gramNs: Seq[Int], hexChars: Int,
                                   md5Family: Boolean) {
    def nBuckets: Long = 1L << (4 * hexChars)
  }

  /** Train on a labeled split: `pos` = the reference/high-quality class,
    * `neg` = the rejection class. Same bounded-model contract as
    * [[dsirTrain]] (the bucket relation materializes once, ≤
    * 16^hexChars rows; both corpus scans are map-side-combined). The
    * class-prior doc counts are two additional `count()` jobs — each a
    * metadata/one-column scan after pruning (the text column is not
    * read), and training is the offline stage; at 100 TB the cost that
    * matters is the two gram scans, not these.
    */
  def qualityClfTrain(pos: DataFrame, neg: DataFrame, textCol: String,
                      gramNs: Seq[Int] = Seq(1, 2), hexChars: Int = 2,
                      alpha: Double = 1.0,
                      md5Family: Boolean = false): QualityClfModel = {
    require(gramNs.nonEmpty && gramNs.forall(_ >= 1),
      s"gramNs must be non-empty positive gram sizes, got $gramNs")
    require(gramNs.distinct == gramNs, s"gramNs must be distinct, got $gramNs")
    require(hexChars >= 1 && hexChars <= 7,
      s"hexChars must be in [1, 7], got $hexChars")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    // one union-tagged pass over both classes — the dsirTrain shape
    // (identical counts, one shuffle instead of two scans + full-outer)
    val tagged = pos
      .select(TextDedup.tokenize(col(textCol)).as("toks"),
        lit(true).as("__pos"))
      .unionByName(neg
        .select(TextDedup.tokenize(col(textCol)).as("toks"),
          lit(false).as("__pos")))
    val buckets = tagged
      .select(col("__pos"), explode(dsirGrams(col("toks"), gramNs)).as("gram"))
      .groupBy(dsirBucket(col("gram"), hexChars, md5Family).as("bucket"))
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("c_neg"))
      .localCheckpoint(true) // train-offline: the dsirTrain materialization contract
    val tots = buckets.agg(coalesce(sum("c_pos"), lit(0L)),
      coalesce(sum("c_neg"), lit(0L))).head()
    QualityClfModel(buckets, tots.getLong(0), tots.getLong(1),
      pos.count(), neg.count(), alpha, gramNs, hexChars, md5Family)
  }

  /** Score documents against a trained [[QualityClfModel]]: the integer
    * sufficient statistics (`n_grams`, `oov_pos`, `oov_neg`,
    * `hit_pos` = Σ m·c_pos[b], `hit_neg` — the oracle surface) plus the
    * NB log-odds `score` = ln(nPosDocs/nNegDocs) +
    * Σ_b m_b·(ln(c_pos[b]+α) − ln(c_neg[b]+α)) + n_grams·ln((T_neg+αB)/
    * (T_pos+αB)) and the decision `pred` = score > 0. Same plan shape
    * as [[dsirWeights]]: gram explode → per-(doc, bucket) pre-agg →
    * broadcast probe join → one doc-keyed fold; the corpus shuffles
    * once on doc, the model never shuffles.
    */
  def qualityClfScore(docs: DataFrame, idCol: String, textCol: String,
                      model: QualityClfModel): DataFrame = {
    require(model.nPosDocs > 0 && model.nNegDocs > 0,
      "model must be trained on non-empty classes")
    val logConst = math.log(
      (model.totNeg + model.alpha * model.nBuckets) /
        (model.totPos + model.alpha * model.nBuckets))
    val logPrior = math.log(model.nPosDocs.toDouble / model.nNegDocs)
    val toksD = docs.select(col(idCol).as("doc_id"),
      TextDedup.tokenize(col(textCol)).as("toks"))
    val db = toksD
      .select(col("doc_id"),
        explode(dsirGrams(col("toks"), model.gramNs)).as("gram"))
      .groupBy(col("doc_id"),
        dsirBucket(col("gram"), model.hexChars, model.md5Family).as("bucket"))
      .agg(count(lit(1)).as("m"))
    val j = db.join(broadcast(model.buckets), Seq("bucket"), "left")
      .select(col("doc_id"), col("m"),
        coalesce(col("c_pos"), lit(0L)).as("c_pos"),
        coalesce(col("c_neg"), lit(0L)).as("c_neg"))
    val agg = j.groupBy("doc_id").agg(
      sum(col("m")).as("n_grams"),
      sum(when(col("c_pos") === 0L, col("m")).otherwise(lit(0L))).as("oov_pos"),
      sum(when(col("c_neg") === 0L, col("m")).otherwise(lit(0L))).as("oov_neg"),
      sum(col("c_pos") * col("m")).as("hit_pos"),
      sum(col("c_neg") * col("m")).as("hit_neg"),
      sum(col("m") * (log(col("c_pos").cast("double") + lit(model.alpha)) -
        log(col("c_neg").cast("double") + lit(model.alpha)))).as("logratio"))
    toksD.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("oov_pos"), lit(0L)).as("oov_pos"),
        coalesce(col("oov_neg"), lit(0L)).as("oov_neg"),
        coalesce(col("hit_pos"), lit(0L)).as("hit_pos"),
        coalesce(col("hit_neg"), lit(0L)).as("hit_neg"),
        (lit(logPrior) + coalesce(col("logratio"), lit(0.0)) +
          coalesce(col("n_grams"), lit(0L)).cast("double") * lit(logConst))
          .as("score"))
      .withColumn("pred", col("score") > 0)
  }

  /** Gumbel top-k importance RESAMPLING (the paper's §2.3 selection
    * step): sample k documents without replacement, each with
    * probability proportional to its importance weight, via the Gumbel
    * trick — top-k of `logw + Gumbel(0,1)`. The noise is DETERMINISTIC
    * (seeded from md5(seed ":" id) — 52 hash bits map exactly onto a
    * double in (0,1)), so the same k documents are selected on any
    * partitioning, any engine, any re-run — the [[sampleByHash]]
    * reproducibility contract extended to weighted sampling.
    * `orderBy(...).limit(k)` plans as TakeOrderedAndProject: per-
    * partition top-k then a k-row driver merge, never a global sort.
    *
    * Output schema (INTENTIONAL, stable): the full [[dsirWeights]] row —
    * doc_id + the integer sufficient statistics + `logw` — plus
    * `gumbel_key`, the perturbed key the top-k ordered on. Selection
    * pipelines audit WHY a document was drawn (weight vs noise), so the
    * key is part of the contract, not an implementation leak; the
    * `doc_dsir_select` bench row writes it.
    */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
                 model: DsirModel, k: Int, seed: String = "dsir"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    // 13 hex chars = 52 bits — every value is an exact double; +1/+2
    // shifts keep u strictly inside (0,1) so both logs are finite
    val u = (conv(substring(md5(concat(lit(seed), lit(":"),
        col("doc_id").cast("string"))), 1, 13), 16, 10).cast("double") +
      lit(1.0)) / lit(math.pow(16.0, 13) + 2.0)
    dsirWeights(docs, idCol, textCol, model)
      .withColumn("gumbel_key", col("logw") - log(-log(u)))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(k)
  }
}
