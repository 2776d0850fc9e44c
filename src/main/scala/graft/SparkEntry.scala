package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.UniqueOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2.1 is registered here against the
  * driver-provided `events` table (FIXTURES.md §2: key = user_id, arrival
  * seq = event_id, event time = ts), with a DuckDB oracle where the
  * semantics are SQL-expressible. Window parameters are scale-factor
  * independent (the events tables span ~30 days at every sf).
  */
object SparkEntry {
  private val DAY = 86400000L
  private val WEEK = 7 * DAY
  private val H6 = 6 * 3600000L
  private val H12 = 12 * 3600000L

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    UniqueOps.everCurrent(Tables.events(spark, "/root/testdata/sf0.001"),
      Seq("user_id"), "event_id")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 1. unique:ever
    "ever_current" -> ((s, d) =>
      UniqueOps.everCurrent(ev(s, d), Seq("user_id"), "event_id")),
    "ever_expired" -> ((s, d) =>
      UniqueOps.ever(ev(s, d), Seq("user_id"), "event_id").expired),
    "ever_multikey" -> ((s, d) =>
      UniqueOps.everCurrent(ev(s, d), Seq("user_id", "event_type"), "event_id")),
    "ever_all" -> ((s, d) =>
      UniqueOps.ever(ev(s, d), Seq("user_id"), "event_id").all),
    // 2. unique:first
    "first_current" -> ((s, d) =>
      UniqueOps.first(ev(s, d), Seq("user_id"), "event_id").current),
    // 3. unique:time (7-day sliding horizon)
    "time_current" -> ((s, d) =>
      UniqueOps.time(ev(s, d), Seq("user_id"), "event_id", "ts", WEEK).current),
    "time_expired" -> ((s, d) =>
      UniqueOps.time(ev(s, d), Seq("user_id"), "event_id", "ts", WEEK).expired),
    // 4. unique:timeBatch (1-day tumbling, epoch-aligned)
    "timebatch_current" -> ((s, d) =>
      UniqueOps.timeBatch(ev(s, d), Seq("user_id"), "event_id", "ts", DAY).current),
    "timebatch_expired" -> ((s, d) =>
      UniqueOps.timeBatch(ev(s, d), Seq("user_id"), "event_id", "ts", DAY).expired),
    // 8. unique:firstTimeBatch — expired mirrors the base-class flush
    //    (UniqueLengthBatchWindowProcessor.java:166-197; the first* subclass
    //    only flips the insert direction)
    "firsttimebatch_current" -> ((s, d) =>
      UniqueOps.firstTimeBatch(ev(s, d), Seq("user_id"), "event_id", "ts", DAY).current),
    "firsttimebatch_expired" -> ((s, d) =>
      UniqueOps.firstTimeBatch(ev(s, d), Seq("user_id"), "event_id", "ts", DAY).expired),
    // 9. unique:externalTimeBatch (6-hour tumbling, anchored at min(ts) —
    //    the reference default, UniqueExternalTimeBatchWindowProcessor.java:346-347)
    "externaltimebatch_current" -> ((s, d) =>
      UniqueOps.externalTimeBatch(ev(s, d), Seq("user_id"), "event_id", "ts", H6).current),
    "externaltimebatch_replacets" -> ((s, d) =>
      UniqueOps.externalTimeBatch(ev(s, d), Seq("user_id"), "event_id", "ts", H6,
        replaceTsWithBatchEnd = true).current),
    "externaltimebatch_expired" -> ((s, d) =>
      UniqueOps.externalTimeBatch(ev(s, d), Seq("user_id"), "event_id", "ts", H6).expired),
    // 5. unique:length (last 100 distinct keys by recency)
    "length_current" -> ((s, d) =>
      UniqueOps.length(ev(s, d), Seq("user_id"), "event_id", 100).current),
    "length_expired" -> ((s, d) =>
      UniqueOps.length(ev(s, d), Seq("user_id"), "event_id", 100).expired),
    // 6. unique:lengthBatch (flush at 40 distinct keys)
    "lengthbatch_current" -> ((s, d) =>
      UniqueOps.lengthBatch(ev(s, d), Seq("user_id"), "event_id", 40).current),
    "lengthbatch_expired" -> ((s, d) =>
      UniqueOps.lengthBatch(ev(s, d), Seq("user_id"), "event_id", 40).expired),
    // 7. unique:firstLengthBatch
    "firstlengthbatch_current" -> ((s, d) =>
      UniqueOps.firstLengthBatch(ev(s, d), Seq("user_id"), "event_id", 40).current),
    "firstlengthbatch_expired" -> ((s, d) =>
      UniqueOps.firstLengthBatch(ev(s, d), Seq("user_id"), "event_id", 40).expired),
    // 10. unique:timeLengthBatch (1-day OR 50 distinct keys); expired =
    //    previous batches re-emitted on flush
    //    (UniqueTimeLengthBatchWindowProcessor.java:304-336)
    "timelengthbatch_current" -> ((s, d) =>
      UniqueOps.timeLengthBatch(ev(s, d), Seq("user_id"), "event_id", "ts", DAY, 50).current),
    "timelengthbatch_expired" -> ((s, d) =>
      UniqueOps.timeLengthBatch(ev(s, d), Seq("user_id"), "event_id", "ts", DAY, 50).expired),
    // 11. unique:deduplicate (1-day interval)
    "deduplicate" -> ((s, d) =>
      UniqueOps.deduplicate(ev(s, d), Seq("user_id"), "event_id", "ts", DAY).current),
    // hot-key-safe twin: same semantics, chunked stitch instead of a
    // per-key fold — verified against the same oracle
    "deduplicate_salted" -> ((s, d) =>
      UniqueOps.deduplicateSalted(ev(s, d), Seq("user_id"), "event_id", "ts", DAY).current),
    // Join of a unique window with a dimension table
    // (UniqueEverWindowTestCase.java:221-263 analog on orders ⨝ customer)
    "join_windows" -> ((s, d) =>
      UniqueOps.everCurrent(Tables.orders(s, d), Seq("o_custkey"), "o_orderkey")
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "o_orderdate")),
    // Aggregation over window contents
    // (UniqueLengthBatchWindowTestCase.java:244-258 analog; FP-safe aggs)
    "agg_over_window" -> ((s, d) =>
      UniqueOps.everCurrent(ev(s, d), Seq("user_id"), "event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), min("value").as("min_value"),
          max("value").as("max_value"), sum("event_id").as("sum_seq"))),
    // Composite: unique window + snowflake joins + aggregation (the full
    // query surface a reference user composes; FP-safe aggs)
    "window_star_agg" -> ((s, d) =>
      UniqueOps.everCurrent(Tables.orders(s, d), Seq("o_custkey"), "o_orderkey")
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.table(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.table(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("cnt"), min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"))),
    // ---- LLM-data-pipeline tier (graft.llm) ----
    "doc_exact_dedup" -> ((s, d) =>
      llm.TextDedup.exactDedup(Tables.documents(s, d), Seq("text"), "doc_id")),
    "doc_text_stats" -> ((s, d) =>
      llm.TextAnalysis.tokenCounts(Tables.documents(s, d), "text")
        .select("doc_id", "ws_tokens", "bpeish_tokens")),
    "doc_quality" -> ((s, d) =>
      llm.TextAnalysis.qualityColumns(Tables.documents(s, d), "text")
        .select("doc_id", "n_tokens", "alpha_ratio", "punct_ratio",
          "stopword_ratio", "mean_token_len", "quality_score")),
    "doc_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          llm.TextAnalysis.langId(col("text")).as("pred_lang"))),
    // CCNet-style bigram-LM scoring, self-trained on the corpus (the
    // typicality regime). The hash row carries the model's INTEGER
    // sufficient statistics — lookup counts and OOV positions — which
    // pin both count tables, both probe joins, and the per-doc folds;
    // the ppl double itself is ln/exp (not correctly-rounded across
    // engines) and is spec-pinned instead, like the ANN sim column.
    "doc_lm_ppl" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.CorpusOps.lmPerplexity(docs, "text", "doc_id", docs, "text")
        .select("doc_id", "n_tokens", "n_bigrams", "oov_bigrams",
          "hit_prev", "hit_bigram")
    }),
    // DSIR importance statistics (Xie et al. 2023): target = the doc_id%10
    // eval split, raw pool = the rest (the doc_fuzzy_pairs split
    // convention), unigram+bigram features md5-hashed into 256 buckets.
    // Same verification policy as doc_lm_ppl: the INTEGER sufficient
    // statistics are the hashed surface — they pin the tokenize/gram/
    // bucket chain, both corpus count relations, both probe joins, and
    // the per-doc folds; the ln-based logw and the Gumbel top-k selection
    // (dsirSelect) are fixture-pinned in CorpusOpsSpec instead.
    "doc_dsir_md5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.CorpusOps.dsirTrain(
        docs.filter(col("doc_id") % 10 === 0), "text",
        docs.filter(col("doc_id") % 10 =!= 0), "text",
        gramNs = Seq(1, 2), hexChars = 2, md5Family = true)
      llm.CorpusOps.dsirWeights(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", model)
        .select("doc_id", "n_grams", "oov_tgt", "oov_raw",
          "hit_tgt", "hit_raw")
    }),
    // TRAINED quality classifier (fastText-style hashed-gram NB): train
    // on the lang='en'-vs-rest labeled split, score the full corpus.
    // Same verification policy as doc_dsir_md5: the integer sufficient
    // statistics are the hashed surface; the closed-form double score +
    // pred are pinned by the plain-Scala re-derivation in LlmOpsSpec.
    "doc_quality_clf_md5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.CorpusOps.qualityClfTrain(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text",
        gramNs = Seq(1, 2), hexChars = 2, md5Family = true)
      llm.CorpusOps.qualityClfScore(docs, "doc_id", "text", model)
        .select("doc_id", "n_grams", "oov_pos", "oov_neg",
          "hit_pos", "hit_neg")
    }),
    // ... and its stream-static deployment twin (score the crawl as it
    // streams past the static model), sharing the batch mirror
    "doc_quality_clf_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val model = llm.CorpusOps.qualityClfTrain(
          docs.filter(col("lang") === "en"),
          docs.filter(col("lang") =!= "en"), "text",
          gramNs = Seq(1, 2), hexChars = 2, md5Family = true)
        streaming.Replay.replay(s, docs, "doc_id", 100, "update")(sdf =>
            streaming.QualityClfStream.qualityClfScoreStream(sdf, "text",
              "doc_id", model))
          .select("doc_id", "n_grams", "oov_pos", "oov_neg",
            "hit_pos", "hit_neg")
      }
    }),
    "doc_fingerprint_md5" -> ((s, d) =>
      llm.TextAnalysis.fingerprintMd5(Tables.documents(s, d), "text")
        .select("doc_id", "fp_min_gram_md5", "fp_full_md5")),
    // BM25 sparse retrieval: queries = the doc_id%10 eval split probing
    // the rest of the corpus (the retrieval-decontamination shape).
    // Same verification policy as doc_lm_ppl/doc_dsir: the INTEGER join
    // statistics per (query, candidate) are the hashed surface — they
    // pin tokenize, the postings/df/length relations, the maxDfFrac
    // stopword pruning, and both probe joins; the ln-based idf, score
    // fold, and ranking (bm25TopK) are pinned by an independent
    // plain-Scala re-derivation in TextSearchSpec instead.
    "doc_bm25_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idx = llm.TextSearch.bm25Index(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      llm.TextSearch.bm25Stats(
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("query_id"), col("text")),
        "query_id", "text", idx)
        .select("query_id", "doc_id", "n_match", "tf_sum", "tfdf_sum", "dl")
    }),
    // md5-family twins of the xxhash64 near-dup pipelines: identical LSH /
    // banding / Jaccard semantics, DuckDB-computable hashes — these carry
    // the hash-level verification; the xxhash64 production variants (in
    // `benchQueries`) are the throughput path.
    "doc_minhash_pairs_md5" -> ((s, d) =>
      llm.TextDedup.minhashPairsMd5(Tables.documents(s, d), "text", "doc_id")),
    // CROSS-CORPUS near-dup pairs (fuzzy decontamination's candidate
    // relation): synthetic train/eval split by doc_id % 10, candidates
    // only ACROSS the split — the banded bipartite join, never the
    // self-join square
    "doc_fuzzy_pairs_md5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.crossMinhashPairsMd5(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id")
    }),
    // ... the same cross-corpus pairs at a CAP-BINDING geometry (coarse
    // 1-gram shingles, 2 bands × 1 row, maxBucket=40 — at sf0.01 the
    // hottest shared bucket holds ~355 train + ~41 eval members, so the
    // cap genuinely drops buckets): the batch operator admits a bucket
    // iff its COMBINED train+eval occupancy ≤ 40, while the streaming
    // twin (doc_fuzzy_pairs_capped_stream_replay) can only cap the
    // static EVAL side — the two policies diverge here by design, and
    // each hash-matches its OWN DuckDB mirror
    "doc_fuzzy_pairs_capped_md5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.crossMinhashPairsMd5(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id",
        shingleN = 1, bands = 2, rowsPerBand = 1, threshold = 0.1,
        maxBucket = 40)
    }),
    // ... and the end-to-end FUZZY decontamination deliverable: train
    // docs surviving after dropping everything with an exact-Jaccard-
    // verified near-dup in eval (the paraphrased/partial-overlap tail
    // that exact n-gram decontam — doc_decontam — cannot catch)
    "doc_fuzzy_decontam_md5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.fuzzyDecontaminateMd5(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        .select("doc_id")
    }),
    // CHARACTER-level cross-corpus decontamination: drop train docs
    // within 5 edits of an eval doc (closes the intra-word-edit gap
    // both exact-n-gram and token-Jaccard decontam leave; same banded
    // char-5-gram geometry as doc_editdist_pairs_md5, bipartite)
    "doc_editdist_decontam_md5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.editDecontaminateMd5(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        maxDist = 5, shingleN = 5, bands = 4, rowsPerBand = 4)
        .select("doc_id")
    }),
    // per-source document cap (RefinedWeb-style per-domain quota): at
    // most 10 docs per source, priority = ascending doc_id
    "doc_source_cap" -> ((s, d) =>
      llm.CorpusOps.capPerGroup(Tables.documents(s, d), "source", "doc_id", 10)
        .select("doc_id", "source")),
    // TOKEN-BUDGET corpus mixing — the data-mixture sampling stage:
    // per-source token quotas (budgets chosen so all three regimes land
    // at sf0.01: default 500 cuts every ~1300-token source mid-way,
    // src1's 700 cuts later, src7's 100000 never bites)
    "doc_token_mix" -> ((s, d) =>
      llm.CorpusOps.mixByTokenBudget(Tables.documents(s, d), "doc_id", "text",
        "source", defaultBudget = 500L,
        budgetByGroup = Map("src1" -> 700L, "src7" -> 100000L))),
    // ... and its HOT-SOURCE-SAFE segmented-prefix-sum form (same greedy
    // fill, same mirror; rangeWidth 64 forces many occupied ranges per
    // source at sf0.01 so the range-offset chain is genuinely exercised)
    "doc_token_mix_segmented" -> ((s, d) =>
      llm.CorpusOps.mixByTokenBudgetSegmented(Tables.documents(s, d),
        "doc_id", "text", "source", defaultBudget = 500L,
        budgetByGroup = Map("src1" -> 700L, "src7" -> 100000L),
        rangeWidth = 64L)),
    // ... and its INGEST-POINT streaming twin (one long of token state
    // per group; ordered feed == batch admission set, shared mirror)
    "doc_token_mix_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        streaming.Replay.replay(s, Tables.documents(s, d), "doc_id", 100,
          "append")(sdf =>
            streaming.QuotaStream.tokenBudgetStream(sdf, "source", "doc_id",
              "text", defaultBudget = 500L,
              budgetByGroup = Map("src1" -> 700L, "src7" -> 100000L)))
          .select(col("doc_id"), col("source"),
            col("n_tok").cast("int").as("n_tok"), col("tok_before"))
      }
    }),
    "doc_token_mix_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        streaming.Replay.replayWithRestart(s, Tables.documents(s, d), "doc_id",
          100)(sdf =>
            streaming.QuotaStream.tokenBudgetStream(sdf, "source", "doc_id",
              "text", defaultBudget = 500L,
              budgetByGroup = Map("src1" -> 700L, "src7" -> 100000L)))
          .select(col("doc_id"), col("source"),
            col("n_tok").cast("int").as("n_tok"), col("tok_before"))
      }
    }),
    // STREAMING per-group quota admission — capPerGroup applied at the
    // ingest point (admit a source's first `cap` arrivals, O(1)/arrival,
    // one long of state per group). Fed in doc_id order the admissions
    // equal the batch cap exactly, so the row shares its mirror.
    "doc_source_cap_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        streaming.Replay.replay(s, Tables.documents(s, d), "doc_id", 1000,
          "append")(sdf =>
            streaming.QuotaStream.capPerGroupStream(sdf, "source", "doc_id", 10)
              .select("doc_id", "source"))
      }
    }),
    // ... and its kill/restart form (the admission counters restore from
    // RocksDB — a re-fed batch must not re-admit past the quota)
    "doc_source_cap_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        streaming.Replay.replayWithRestart(s, Tables.documents(s, d), "doc_id",
          200)(sdf =>
            streaming.QuotaStream.capPerGroupStream(sdf, "source", "doc_id", 10)
              .select("doc_id", "source"))
      }
    }),
    // KEY-SKEW profiling — exact heavy hitters via two-phase Misra-Gries
    // (per-partition MG(k) candidate summaries, then an exact recount of
    // candidates only): the pre-salting question ("which keys dominate?")
    // answered with two scans and a candidate-sized exchange instead of a
    // full key-distribution shuffle. k=6 puts the sf0.01 lang boundary in
    // play: threshold 500/7 ≈ 71.4 admits en(218)/zh(75)/es(73) and
    // excludes de(70)/fr(64)
    "doc_heavy_hitters" -> ((s, d) =>
      llm.SkewOps.heavyHitters(Tables.documents(s, d), "lang", k = 6)),
    // ... and the WEIGHTED form (which sources own the most characters —
    // the tokens/bytes question): k=19 sets the threshold at W/20, one
    // average source-share, so only the above-average-weight sources pass
    "doc_heavy_hitters_weighted" -> ((s, d) =>
      llm.SkewOps.heavyHitters(Tables.documents(s, d), "source", k = 19,
        weightCol = Some("n_chars"))),
    // ... the BATCH threshold-crossing twin (backtest an alert threshold
    // on a finished corpus: one window pass, same mirror as the stream)
    "doc_hot_keys" -> ((s, d) =>
      llm.SkewOps.hotKeyCrossings(Tables.documents(s, d), "lang", "doc_id",
        threshold = 70L)),
    // STREAMING hot-key alerting — the ingest-point twin: one append-only
    // row per key the first time its running count reaches the threshold
    // (one long of state per key). Fed in doc_id order the alert set and
    // each crossing arrival equal the batch running-sum mirror. T=70 puts
    // the sf0.01 boundary in play: de's 70th (last) arrival fires exactly
    // at the threshold; fr (64 total) never fires
    "doc_hot_keys_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        streaming.Replay.replay(s, Tables.documents(s, d), "doc_id", 100,
          "append")(sdf =>
            streaming.HotKeyStream.hotKeyAlerts(sdf, "lang", "doc_id", 70L))
      }
    }),
    // ... and its kill/restart form (the running counters restore from
    // RocksDB — a re-fed batch must re-emit its alerts identically and a
    // restored counter must not re-fire)
    "doc_hot_keys_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        streaming.Replay.replayWithRestart(s, Tables.documents(s, d), "doc_id",
          100)(sdf =>
            streaming.HotKeyStream.hotKeyAlerts(sdf, "lang", "doc_id", 70L))
      }
    }),
    "doc_simhash_md5" -> ((s, d) =>
      llm.TextDedup.simhashDfMd5(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),
    "doc_ngram_pairs_md5" -> ((s, d) =>
      llm.TextDedup.ngramJaccardPairsMd5(Tables.documents(s, d), "text", "doc_id")),
    "doc_simhash_pairs_md5" -> ((s, d) =>
      llm.TextDedup.simhashPairsMd5(Tables.documents(s, d), "text", "doc_id")),
    // pairs → transitive clusters (distributed min-label CC): the step
    // that turns pairwise near-dup evidence into dedup groups. md5 family
    // so the WHOLE chain — shingle → minhash → LSH → Jaccard → connected
    // components — is DuckDB-checkable (recursive-CTE closure oracle).
    "doc_neardup_clusters_md5" -> ((s, d) =>
      llm.TextDedup.nearDupClusters(
        llm.TextDedup.minhashPairsMd5(Tables.documents(s, d), "text", "doc_id"))
        .withColumnRenamed("id", "doc_id")),
    // ... and clusters → the surviving corpus (canonical = min doc_id per
    // cluster): the end-to-end "remove near-duplicates" deliverable
    "doc_neardup_dedup_md5" -> ((s, d) =>
      llm.TextDedup.dedupByPairs(Tables.documents(s, d), "doc_id",
        llm.TextDedup.minhashPairsMd5(Tables.documents(s, d), "text", "doc_id"))),
    // EDIT-DISTANCE (Levenshtein) near-dup — the CHARACTER-level dedup
    // family (Gopher-style edit-similarity; token-set MinHash is blind
    // to intra-word edits). Banded char-5-gram MinHash candidates
    // (bands=4×4 — 322 candidates at sf0.01, of which 24 verify), exact
    // integer lev ≤ 5 verify on both engines (Spark's thresholded
    // Ukkonen band, DuckDB's full levenshtein — same integer).
    "doc_editdist_pairs_md5" -> ((s, d) =>
      llm.TextDedup.editDistancePairsMd5(Tables.documents(s, d), "text",
        "doc_id", maxDist = 5, shingleN = 5, bands = 4, rowsPerBand = 4)),
    // ... → min-id connected-component dedup over that relation (the
    // dedupByPairs policy, recursive-CTE-mirrored)
    "doc_editdist_dedup_md5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.dedupByPairs(docs, "doc_id",
        llm.TextDedup.editDistancePairsMd5(docs, "text", "doc_id",
          maxDist = 5, shingleN = 5, bands = 4, rowsPerBand = 4)
          .select("id_a", "id_b"))
    }),
    // STREAMING incremental edit-distance dedup: same banded index +
    // union-find change log as nearDupStreamMd5 with the exact-lev
    // verify; final survivors hash-match the batch CC oracle.
    "doc_editdist_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val log = streaming.Replay.replay(s, docs, "doc_id", 1000, "update")(sdf =>
          streaming.NearDupStream.editNearDupStreamMd5(sdf, "doc_id", "text",
            maxDist = 5, shingleN = 5, bands = 4, rowsPerBand = 4))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      }
    }),
    // BAND-SHARDED two-stage form — the scale path past the monolith's
    // single-task index: stage A (editShardedEdges, keyed by band code)
    // emits exactly-once lev-verified edges in parallel; stage B is the
    // shared ids-only unionFindStage. Doc markers feed alongside each
    // batch's edges (marker-before-edges per doc: the edges of doc i
    // involve only earlier arrivals, fed after i's marker). Survivors
    // share the batch CC oracle, like the monolith row.
    "doc_editdist_sharded_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val edges = streaming.Replay.replay(s, docs, "doc_id", 100, "append")(sdf =>
          streaming.NearDupStream.editShardedEdges(sdf, "doc_id", "text",
            maxDist = 5, shingleN = 5, bands = 4, rowsPerBand = 4,
            md5Family = true))
        val feed = docs.select(col("doc_id").as("a"), col("doc_id").as("b"),
            (col("doc_id") * 2).as("ord"))
          .unionByName(edges.select(col("a"), col("b"),
            (greatest(col("a"), col("b")) * 2 + 1).as("ord")))
        val log = streaming.Replay.replay(s, feed, "ord", 5000, "update")(sdf =>
          streaming.NearDupStream.unionFindStage(sdf))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      }
    }),
    // ... and its kill/restart form (offset recovery + RocksDB restore
    // of the band index / text payloads / union-find / seq states)
    "doc_editdist_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val log = streaming.Replay.replayWithRestart(s, docs, "doc_id", 200)(sdf =>
          streaming.NearDupStream.editNearDupStreamMd5(sdf, "doc_id", "text",
            maxDist = 5, shingleN = 5, bands = 4, rowsPerBand = 4))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      }
    }),
    "emb_knn_brute" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // sim column excluded: engines agree on double-precision RANKS, but
      // the sim doubles themselves are representation-sensitive
      llm.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 10)
        .select("query_id", "corpus_id", "rank")
    }),
    "emb_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      llm.Similarity.annTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 10)
        .select("query_id", "corpus_id", "rank")
    }),
    "emb_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      llm.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 10,
          lloydIters = 1)
        .select("query_id", "corpus_id", "rank")
    }),
    // product-quantization ADC retrieval (the memory-scale ANN path):
    // anchor codebook → PqEncode codes → per-query PqLut → PqScore
    // ranking; the mirror derives the identical anchor constants in SQL
    "emb_ann_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      llm.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 10)
        .select("query_id", "corpus_id", "rank")
    }),
    // TRAINED codebook (VERDICT r10 ask #3): one per-subspace Lloyd pass
    // over the 512 lowest-id sample rows refines the anchors; the mirror
    // unrolls the identical quantized-mean pass in SQL, so the trained
    // retrieval log is hash-exact too (recall lift pinned by LlmOpsSpec)
    "emb_ann_pq_trained" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      llm.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 10,
          lloydIters = 1)
        .select("query_id", "corpus_id", "rank")
    }),
    // the composed 100 TB ANN shape: IVF bounds which cells a query
    // touches, PQ bounds the bytes per touched row — one select
    "emb_ann_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      llm.Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 10)
        .select("query_id", "corpus_id", "rank")
    }),
    // RESIDUAL IVF-PQ (Faiss IndexIVFPQ's layout): corpus rows PQ-encode
    // v − centroid(cell) instead of v — same plan shape, tighter code
    // distribution (recall lift pinned by LlmOpsSpec); the mirror
    // re-derives the residual anchors (rows 17–32 by id, assigned and
    // centroid-subtracted) and the per-cell norm-correction tables in SQL
    "emb_ann_ivfpq_residual" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      llm.Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 10,
          residual = true)
        .select("query_id", "corpus_id", "rank")
    }),
    // embedding-cosine near-dup: banded hyperplane LSH + exact cosine
    // verify. The synthetic corpus peaks at cosine ~0.48, so the query
    // runs the short-band (4-plane) low-similarity configuration; cosine
    // itself is excluded from the compared columns (double-representation
    // -sensitive, same policy as the knn/ann sim column).
    "emb_neardup_pairs" -> ((s, d) =>
      llm.Similarity.embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4, groups = 8, planesPerGroup = 4)
        .select("id_a", "id_b")),
    // BATCH pairs → transitive clusters for the EMBEDDING tier (the vector
    // analog of doc_neardup_clusters_md5; until now only the streaming
    // replay carried this closure check). Same recursive-CTE oracle as the
    // stream row — batch and stream must agree on the cluster structure.
    "emb_neardup_clusters" -> ((s, d) =>
      llm.TextDedup.nearDupClusters(
        llm.Similarity.embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4, groups = 8, planesPerGroup = 4)
          .select("id_a", "id_b"))
        .select(col("id").as("vec_id"), col("cluster_id"))),
    // ... and clusters → the surviving vector set (SemDeDup-style semantic
    // dedup deliverable: canonical = min vec_id per cosine-connected
    // component). vec_id only — the embedding floats are representation-
    // sensitive across engines, same policy as the knn/ann sim column.
    "emb_neardup_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      llm.TextDedup.dedupByPairs(emb, "vec_id",
        llm.Similarity.embeddingNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.4, groups = 8, planesPerGroup = 4)
          .select("id_a", "id_b"))
        .select("vec_id")
    }),
    // SemDeDup proper (Abbas et al. 2023): k-means cells (the emb_ann_ivf
    // anchor+Lloyd chain) confine the quadratic, then each within-cell
    // ε-connected component keeps its LEAST-centroid-similar member (the
    // paper's diversity-preserving policy — vs emb_neardup_dedup's
    // LSH-banded min-id policy above; both semantic-dedup shapes are now
    // first-class). The mirror re-derives centroids, assignment csims,
    // the ε-pair relation, the recursive-CTE closure, and the keep rank
    // entirely in SQL.
    "emb_semdedup" -> ((s, d) =>
      llm.Similarity.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, eps = 0.3, nCells = 16, lloydIters = 1)),
    // ... and the HOT-CELL-CAPPED form at a geometry where the cap BITES
    // and the policies genuinely diverge (nCells=4 at sf0.01 assigns
    // cells of [144, 122, 117, 117]; maxCell=130 excludes the 144-cell
    // from the pair scan, so its members all survive: 294 survivors
    // capped vs 196 uncapped). The mirror re-derives the occupancy
    // relation and the ok-cell filter in SQL on top of the uncapped
    // chain — the doc_fuzzy_pairs_capped* pattern applied to SemDeDup.
    "emb_semdedup_capped" -> ((s, d) =>
      llm.Similarity.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, eps = 0.3125, nCells = 4, lloydIters = 1, maxCell = 130)),
    // the cap's "no silent caps" telemetry, hash-verified itself: the
    // dropped-cell relation (cell id + occupancy) at the same geometry
    "emb_semdedup_dropped_cells" -> ((s, d) =>
      llm.Similarity.semDedupStats(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, eps = 0.3125, nCells = 4, lloydIters = 1,
        maxCell = 130).droppedCells
        .select(col("cell").cast("long").as("cell"),
          col("size").cast("long").as("size"))),
    // STREAMING SemDeDup — the batch operator's continuous-ingestion
    // twin (cell-SHARDED transformWithState; deployed-centroid contract
    // via semDedupCentroids, the same lloydAssign chain the batch oracle
    // re-derives). Replay the embeddings in vec_id order; the change
    // log's final verdicts must reduce to EXACTLY the batch survivor
    // set, so this row shares the emb_semdedup DuckDB mirror.
    "emb_semdedup_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val emb = Tables.embeddings(s, d)
        val cents = llm.Similarity.semDedupCentroids(emb, "vec_id",
          "embedding", dim = 64, nCells = 16, lloydIters = 1)
        val log = streaming.Replay.replay(s, emb, "vec_id", 1000, "update")(sdf =>
          streaming.SemDedupStream.semDedupStream(sdf, "vec_id", "embedding",
            dim = 64, eps = 0.3, centroids = cents))
        log.groupBy(col("vec_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
          .select("vec_id")
      }
    }),
    // ... the HOT-CELL-CAPPED stream at the cap-binding batch geometry
    // (nCells=4, maxCell=130): the batch rule "final occupancy > maxCell
    // → the cell is excluded, members all survive" depends only on the
    // final count, so the stream saturates at the crossing arrival —
    // telemetry row, retroactive re-promotion of dropped members, cell
    // state FREED — and still hash-matches the capped batch mirror.
    "emb_semdedup_capped_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val emb = Tables.embeddings(s, d)
        val cents = llm.Similarity.semDedupCentroids(emb, "vec_id",
          "embedding", dim = 64, nCells = 4, lloydIters = 1)
        val log = streaming.Replay.replay(s, emb, "vec_id", 1000, "update")(sdf =>
          streaming.SemDedupStream.semDedupStream(sdf, "vec_id", "embedding",
            dim = 64, eps = 0.3125, centroids = cents, maxCell = 130))
        log.filter(col("change").isin("keep", "drop"))
          .groupBy(col("vec_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
          .select("vec_id")
      }
    }),
    // CHECKPOINT-RESTART for the streaming SemDeDup: killed at the
    // halfway chunk boundary, restarted from checkpoint — offset
    // recovery plus RocksDB restore of all five states (members,
    // union-find forest, keeper summaries, occupancy, seq) — and the
    // accumulated log must still reduce to the batch survivor set.
    "emb_semdedup_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val emb = Tables.embeddings(s, d)
        val cents = llm.Similarity.semDedupCentroids(emb, "vec_id",
          "embedding", dim = 64, nCells = 16, lloydIters = 1)
        val log = streaming.Replay.replayWithRestart(s, emb, "vec_id", 200)(sdf =>
          streaming.SemDedupStream.semDedupStream(sdf, "vec_id", "embedding",
            dim = 64, eps = 0.3, centroids = cents))
        log.groupBy(col("vec_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
          .select("vec_id")
      }
    }),
    "mm_features" -> ((s, d) =>
      llm.Multimodal.extractFeaturesChecked(
        llm.Multimodal.withSyntheticMedia(Tables.documents(s, d), "doc_id", "text",
          mirrorableDims = true),
        "doc_id")),
    // real encode→decode→bilinear-resize→PNG→decode round-trip over
    // id-derived solid-color BMPs: the oracle predicts dims + the single
    // surviving color without touching pixels (constant-image resampling
    // is exact)
    "mm_resize" -> ((s, d) =>
      llm.Multimodal.resizeChecked(Tables.documents(s, d), "doc_id", 16, 16)),
    // frame-sampling fan-out plan over id-derived synthetic video meta
    // (n_frames = doc_id % 40 + 1, every 7th frame)
    "mm_frames" -> ((s, d) =>
      llm.Multimodal.sampleFrames(
        llm.Multimodal.withSyntheticVideoMeta(
          Tables.documents(s, d).select(col("doc_id")), "doc_id"),
        "doc_id", everyK = 7)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"))),
    // IMAGE NEAR-DUP tier: REAL decode → bilinear → dHash over the
    // id-derived 9×8 gray-pattern fixture (generated at the dHash grid
    // size, so the decode path is pixel-exact and the oracle re-derives
    // the hash with pure integer arithmetic — see
    // withSyntheticPatternImages' scaladoc for the pattern contract)
    "mm_phash" -> ((s, d) =>
      llm.Multimodal.imageHashes(
        llm.Multimodal.withSyntheticPatternImages(Tables.documents(s, d), "doc_id"),
        "doc_id")
        .select(col("id").as("doc_id"), col("dhash"))),
    // ... and the aHash twin: the fixture generated AT the 8×8 aHash
    // grid (identity resize), so the mean-threshold hash is re-derived
    // by the same integer arithmetic — both perceptual hashes carry an
    // oracle row (the dHash of THIS fixture goes through a real 8×8→9×8
    // bilinear upsample, so only ahash is selected here; mm_phash pins
    // dhash on its own grid)
    "mm_ahash" -> ((s, d) =>
      llm.Multimodal.imageHashes(
        llm.Multimodal.withSyntheticPatternImages(Tables.documents(s, d),
          "doc_id", gridW = 8, gridH = 8),
        "doc_id")
        .select(col("id").as("doc_id"), col("ahash"))),
    // ... → banded-hamming candidate pairs over the dhash (4×16-bit
    // chunks, pigeonhole-exact at radius 3, capped buckets) with the
    // codegen'd bit_count verify
    "mm_image_neardup_pairs" -> ((s, d) =>
      llm.TextDedup.hammingHashPairs(
        llm.Multimodal.imageHashes(
          llm.Multimodal.withSyntheticPatternImages(Tables.documents(s, d), "doc_id"),
          "doc_id"),
        "id", "dhash", chunkBits = 16, maxHamming = 3, maxBucket = 1000)),
    // ... → min-id connected-component image dedup over that relation
    "mm_image_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.dedupByPairs(docs, "doc_id",
        llm.TextDedup.hammingHashPairs(
          llm.Multimodal.imageHashes(
            llm.Multimodal.withSyntheticPatternImages(docs, "doc_id"), "doc_id"),
          "id", "dhash", chunkBits = 16, maxHamming = 3, maxBucket = 1000)
          .select("id_a", "id_b"))
        .select("doc_id")
    }),
    // BPE TOKENIZATION (train-offline/deploy-literals — llm.Bpe): train
    // 16 merges on the bounded 4-doc sample, encode each doc's first
    // 120 chars with the native expression, emit the INTEGER token-id
    // sequence (the oracle re-derives training AND encoding in SQL)
    "doc_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.Bpe.train(docs, "doc_id", "text", numMerges = 16,
        sampleDocs = 4, sampleChars = 240)
      docs.select(col("doc_id"),
          posexplode(llm.Bpe.encode(substring(col("text"), 1, 120), model)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").cast("long").as("token_id"))
    }),
    // ... and the DISTRIBUTED trainer (per-doc pair counting summed
    // across a 64-doc sample RELATION — 16× the collected trainer's
    // input, with nothing but the per-round 1-row argmax and the
    // base alphabet ever reaching the driver); the oracle re-derives
    // the whole per-doc training state machine + encoding in SQL
    "doc_bpe_encode_dist" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.Bpe.trainDistributed(docs, "doc_id", "text",
        numMerges = 16, sampleDocs = 64, sampleChars = 240)
      docs.select(col("doc_id"),
          posexplode(llm.Bpe.encode(substring(col("text"), 1, 120), model)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").cast("long").as("token_id"))
    }),
    // ... the BYTE-LEVEL trainer (the trainer whose output always
    // EXPORTS: byte-alphabet tokens never contain a literal space, so
    // toMergesLines round-trips into any tokenizer stack): the
    // distributed trainer's exact state machine — per-doc pair counting
    // summed across a 64-doc sample, global argmax, document
    // boundary — over the bytes→unicode alphabet with the full
    // 256-token base vocabulary. The mirror is docBpeDistCtes in byte
    // mode (space→Ġ mapping, alphabet base ids).
    "doc_bpe_train_bytes" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.Bpe.trainByteLevel(docs, "doc_id", "text",
        numMerges = 12, sampleDocs = 64, sampleChars = 240)
      docs.select(col("doc_id"),
          posexplode(llm.Bpe.encode(substring(col("text"), 1, 120), model)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").cast("long").as("token_id"))
    }),
    // ... and the BYTE-LEVEL load path (GPT-2 model compatibility): a
    // fixed merges.txt-format table over the bytes→unicode alphabet,
    // loaded through parseMergesLines → fromMergesByteLevel, encoding
    // UTF-8 BYTES (space travels as 'Ġ' exactly like a deployed GPT-2
    // merge file). Global-merge mode here because DuckDB's RE2 regex
    // cannot express the pre-tokenizer's lookahead — the pre-tokenized
    // path is pinned against an independent reference implementation
    // in BpeByteLevelSpec instead. The mirror re-derives the 256-token
    // alphabet, the id contract, and the min-rank encode in SQL.
    "doc_bpe_encode_bytes" -> ((s, d) => {
      val model = llm.Bpe.fromMergesByteLevel(
        llm.Bpe.parseMergesLines(bpeBytesMergesLines), None,
        pretokenize = false)
      Tables.documents(s, d).select(col("doc_id"),
          posexplode(llm.Bpe.encode(substring(col("text"), 1, 120), model)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").cast("long").as("token_id"))
    }),
    // ... and the quota tier denominated in REAL tokens: mixByTokenBudget
    // with the deployed BPE tokenizer (budgets in BPE tokens, not regex
    // matches) — truncated text keeps the SQL mirror's recursion bounded
    "doc_token_mix_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.Bpe.train(docs, "doc_id", "text", numMerges = 16,
        sampleDocs = 4, sampleChars = 240)
      llm.CorpusOps.mixByTokenBudget(
        docs.withColumn("text_t", substring(col("text"), 1, 120)),
        "doc_id", "text_t", "source", defaultBudget = 300L,
        budgetByGroup = Map("src1" -> 500L),
        tokenizer = Some(c => llm.Bpe.tokenCount(c, model)))
    }),
    // AUDIO near-dup tier: REAL javax.sound decode → 64 window sums →
    // gradient-sign waveform hash over the id-derived 16-bit PCM WAV
    // fixture (lossless round-trip — the oracle re-derives the window
    // sums by integer arithmetic; see withSyntheticWavs' contract)
    "mm_audio_hash" -> ((s, d) =>
      llm.Multimodal.audioHashes(
        llm.Multimodal.withSyntheticWavs(Tables.documents(s, d), "doc_id"),
        "doc_id")
        .select(col("id").as("doc_id"), col("whash"))),
    // ... → banded-hamming pairs over the waveform hash (the SAME
    // hammingHashPairs core as text simhash and image dHash — the hash
    // column is the whole interface)
    "mm_audio_neardup_pairs" -> ((s, d) =>
      llm.TextDedup.hammingHashPairs(
        llm.Multimodal.audioHashes(
          llm.Multimodal.withSyntheticWavs(Tables.documents(s, d), "doc_id"),
          "doc_id"),
        "id", "whash", chunkBits = 16, maxHamming = 2, maxBucket = 1000)),
    // ... → min-id CC audio dedup
    "mm_audio_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.dedupByPairs(docs, "doc_id",
        llm.TextDedup.hammingHashPairs(
          llm.Multimodal.audioHashes(
            llm.Multimodal.withSyntheticWavs(docs, "doc_id"), "doc_id"),
          "id", "whash", chunkBits = 16, maxHamming = 2, maxBucket = 1000)
          .select("id_a", "id_b"))
        .select("doc_id")
    }),
    // STREAMING image dedup: the sharded two-stage bridge over the
    // dhash chunks (stage A per-chunk hamming edges — 8-byte payloads —
    // + the shared ids-only union-find stage B); survivors hash-match
    // the batch CC mirror
    "mm_image_dedup_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val edges = streaming.Replay.replay(s, docs.select("doc_id"),
          "doc_id", 100, "append")(sdf =>
            streaming.NearDupStream.hashShardedEdges(
              llm.Multimodal.imageHashes(
                llm.Multimodal.withSyntheticPatternImages(sdf, "doc_id"),
                "doc_id"),
              "id", "dhash", maxHamming = 3))
        val feed = docs.select(col("doc_id").as("a"), col("doc_id").as("b"),
            (col("doc_id") * 2).as("ord"))
          .unionByName(edges.select(col("a"), col("b"),
            (greatest(col("a"), col("b")) * 2 + 1).as("ord")))
        val log = streaming.Replay.replay(s, feed, "ord", 5000, "update")(sdf =>
          streaming.NearDupStream.unionFindStage(sdf))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id")
      }
    }),
    // IMAGE-SemDeDup — the semantic rung beside the perceptual hashes:
    // real decode → 64-dim luma-grid features (imageLumaFeatures) →
    // the SAME semDedup chain as the embedding tier (anchor+Lloyd
    // cells confine the quadratic, ε-cosine pairs, keep-farthest
    // policy). eps=0.94 splits the fixture's regimes (within-family
    // cosine ≥ 0.957, cross-family ≤ 0.921); the mirror re-derives the
    // luma vectors and the whole centroid/closure/keep-rank chain
    "mm_image_semdedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // localCheckpoint: semDedup consumes its corpus in up to 4 jobs
      // (see the caller contract in semDedupStats) — without this the
      // decode → luma pipeline re-ran once per consumer (measured 3×)
      val feats = llm.Multimodal.imageLumaFeatures(
          llm.Multimodal.withSyntheticPatternImages(docs, "doc_id",
            gridW = 8, gridH = 8),
          "doc_id").filter(col("features").isNotNull)
        .localCheckpoint(false)
      llm.Similarity.semDedup(feats,
        "id", "features", dim = 64, eps = 0.94, nCells = 8, lloydIters = 1)
        .select(col("id").as("doc_id"))
    }),
    // CROP-TOLERANT IMAGE TILES — the audio-segment contract applied
    // spatially (whole-image hashes are brightness-robust but
    // alignment-rigid; a crop/scroll misses at any radius): decode
    // WITHOUT resize, 8×8 tiles on a fixed absolute grid at hop 4,
    // integer-mean aHash per tile, matching on tile-hash VALUES. The
    // 32×32 crop fixture plants the regimes (uniform +4 brightness =
    // control, +8px scroll = the crop the tile tier catches at
    // hop-multiple offsets); pure integer mirror — the oracle
    // re-derives every tile's mean and bits from the formula
    "mm_image_tile_hash" -> ((s, d) =>
      llm.Multimodal.imageTileHashes(
        llm.Multimodal.withSyntheticCropImages(Tables.documents(s, d), "doc_id"),
        "doc_id")
        .select(col("id").as("doc_id"),
          col("tile_x").cast("long").as("tile_x"),
          col("tile_y").cast("long").as("tile_y"), col("thash"))),
    // ... → shared-key pairs on tile-hash values, ≥ 10 shared tiles
    // (the crop variant shares 22 of its 26 distinct tiles; unrelated
    // families share 0)
    "mm_image_crop_pairs" -> ((s, d) =>
      llm.TextDedup.sharedKeyPairs(
        llm.Multimodal.imageTileHashes(
          llm.Multimodal.withSyntheticCropImages(Tables.documents(s, d), "doc_id"),
          "doc_id"),
        "id", "thash", minShared = 10)),
    // ... → tile-level CC DEDUP, completing the crop-tolerant rung
    // (hash → pairs → dedup like every other near-dup family)
    "mm_image_crop_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.dedupByPairs(docs, "doc_id",
        llm.TextDedup.sharedKeyPairs(
          llm.Multimodal.imageTileHashes(
            llm.Multimodal.withSyntheticCropImages(docs, "doc_id"), "doc_id"),
          "id", "thash", minShared = 10)
          .select("id_a", "id_b"))
        .select("doc_id")
    }),
    // ... and its STREAMING twin over the stateless tile-key-set
    // projection (imageTileKeys → the generic keySetShardedEdges +
    // shared union-find; same batch CC mirror)
    "mm_image_crop_dedup_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val edges = streaming.Replay.replay(s, docs.select("doc_id"),
          "doc_id", 100, "append")(sdf =>
            streaming.NearDupStream.keySetShardedEdges(
              llm.Multimodal.imageTileKeys(
                llm.Multimodal.withSyntheticCropImages(sdf, "doc_id"), "doc_id"),
              threshold = 0.0, minShared = 10))
        val feed = docs.select(col("doc_id").as("a"), col("doc_id").as("b"),
            (col("doc_id") * 2).as("ord"))
          .unionByName(edges.select(col("a"), col("b"),
            (greatest(col("a"), col("b")) * 2 + 1).as("ord")))
        val log = streaming.Replay.replay(s, feed, "ord", 5000, "update")(sdf =>
          streaming.NearDupStream.unionFindStage(sdf))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id")
      }
    }),
    // VIDEO NEAR-DUP tier — the last rung of the modality ladder: REAL
    // per-frame ImageIO decode → dHash over the packed-frame container
    // fixture (withSyntheticVideoClips: 9×8 gray-pattern BMP frames,
    // pixel-exact under decode like the image tier), then SEQUENCE-level
    // matching via shingled frame-hash n-grams — alignment-free, so the
    // planted TRIMMED clips (v=2: the original minus its first frame)
    // still pair, which position-aligned frame comparison cannot do
    "mm_video_hash" -> ((s, d) =>
      llm.Multimodal.videoFrameHashes(
        llm.Multimodal.withSyntheticVideoClips(Tables.documents(s, d), "doc_id"),
        "doc_id")
        .select(col("id").as("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"), col("fhash"))),
    // ... → distinct 2-frame shingles, bucket-capped shared-key join,
    // distinct-shingle Jaccard ≥ 0.5 verify
    "mm_video_neardup_pairs" -> ((s, d) =>
      llm.TextDedup.frameSequencePairs(
        llm.Multimodal.videoFrameHashes(
          llm.Multimodal.withSyntheticVideoClips(Tables.documents(s, d), "doc_id"),
          "doc_id"),
        "id", "frame_idx", "fhash", shingleK = 2, threshold = 0.5)),
    // ... → min-id CC video dedup
    "mm_video_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.dedupByPairs(docs, "doc_id",
        llm.TextDedup.frameSequencePairs(
          llm.Multimodal.videoFrameHashes(
            llm.Multimodal.withSyntheticVideoClips(docs, "doc_id"), "doc_id"),
          "id", "frame_idx", "fhash", shingleK = 2, threshold = 0.5)
          .select("id_a", "id_b"))
        .select("doc_id")
    }),
    // SHIFT-TOLERANT AUDIO: per-segment waveform fingerprints
    // (fixed-width overlapping segments, hop = seg/2) over the
    // offset-WAV fixture — v=2 plants a 256-sample-delayed duplicate
    // that the whole-file hash provably misses (AudioOffsetSpec pins
    // hamming 20 ≫ radius) and the segment tier catches (6/7 segments
    // re-align at the hop-multiple offset)
    "mm_audio_seg_hash" -> ((s, d) =>
      llm.Multimodal.audioSegmentHashes(
        llm.Multimodal.withSyntheticOffsetWavs(Tables.documents(s, d), "doc_id"),
        "doc_id")
        .select(col("id").as("doc_id"),
          col("seg_idx").cast("long").as("seg_idx"), col("shash"))),
    // ... → shared-key pairs on segment-hash VALUES (not positions —
    // that is what buys the shift tolerance), ≥ 3 shared segments
    "mm_audio_offset_pairs" -> ((s, d) =>
      llm.TextDedup.sharedKeyPairs(
        llm.Multimodal.audioSegmentHashes(
          llm.Multimodal.withSyntheticOffsetWavs(Tables.documents(s, d), "doc_id"),
          "doc_id"),
        "id", "shash", minShared = 3)),
    // ... the shared-key core's no-silent-caps contract, pinned at a
    // geometry where the cap genuinely BITES: the 15-bit segment-hash
    // key space concentrates each base class into value buckets of
    // 15-48 docs at sf0.01, so maxBucket=16 drops 23 buckets and
    // shrinks the pair set 4908 → 3075. Two rows pin both sides —
    // the surviving pairs under the binding cap...
    "mm_audio_offset_pairs_capped" -> ((s, d) =>
      llm.TextDedup.sharedKeyPairs(
        llm.Multimodal.audioSegmentHashes(
          llm.Multimodal.withSyntheticOffsetWavs(Tables.documents(s, d), "doc_id"),
          "doc_id"),
        "id", "shash", minShared = 3, maxBucket = 16)),
    // ...and the dropped-bucket telemetry relation itself, hash-verified
    // (the emb_semdedup_dropped_cells pattern applied to the shared-key
    // core: one (bucket = key value, size) row per over-cap bucket)
    "mm_audio_seg_dropped_buckets" -> ((s, d) =>
      llm.TextDedup.sharedKeyPairsWithStats(
        llm.Multimodal.audioSegmentHashes(
          llm.Multimodal.withSyntheticOffsetWavs(Tables.documents(s, d), "doc_id"),
          "doc_id"),
        "id", "shash", minShared = 3, maxBucket = 16).droppedBuckets
        .select(col("bucket"), col("size"))),
    // segment-level CC DEDUP — completes the audio-segment rung
    // (hash → pairs → dedup, like every other near-dup family): min-id
    // connected components over the shift-tolerant pair relation
    "mm_audio_seg_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.dedupByPairs(docs, "doc_id",
        llm.TextDedup.sharedKeyPairs(
          llm.Multimodal.audioSegmentHashes(
            llm.Multimodal.withSyntheticOffsetWavs(docs, "doc_id"), "doc_id"),
          "id", "shash", minShared = 3)
          .select("id_a", "id_b"))
        .select("doc_id")
    }),
    // ... and its STREAMING twin: stage A decodes each arriving file
    // ONCE (audioSegmentKeys, stateless projection), stores its
    // segment-hash value set per key shard, and emits overlap-verified
    // edges (keySetShardedEdges — the generic key-set stage the video
    // tier already runs); the shared ids-only union-find stage B
    // reduces to the batch CC survivors (same mirror)
    "mm_audio_seg_dedup_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val edges = streaming.Replay.replay(s, docs.select("doc_id"),
          "doc_id", 100, "append")(sdf =>
            streaming.NearDupStream.keySetShardedEdges(
              llm.Multimodal.audioSegmentKeys(
                llm.Multimodal.withSyntheticOffsetWavs(sdf, "doc_id"), "doc_id"),
              threshold = 0.0, minShared = 3))
        val feed = docs.select(col("doc_id").as("a"), col("doc_id").as("b"),
            (col("doc_id") * 2).as("ord"))
          .unionByName(edges.select(col("a"), col("b"),
            (greatest(col("a"), col("b")) * 2 + 1).as("ord")))
        val log = streaming.Replay.replay(s, feed, "ord", 5000, "update")(sdf =>
          streaming.NearDupStream.unionFindStage(sdf))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id")
      }
    }),
    // STREAMING audio dedup — the sharded twin the image tier already
    // has (hashShardedEdges is payload-generic over a 64-bit hash, so
    // the audio wiring is the same two-stage bridge: per-chunk hamming
    // edges + the shared ids-only union-find); survivors hash-match the
    // batch mm_audio_dedup CC mirror
    "mm_audio_dedup_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val edges = streaming.Replay.replay(s, docs.select("doc_id"),
          "doc_id", 100, "append")(sdf =>
            streaming.NearDupStream.hashShardedEdges(
              llm.Multimodal.audioHashes(
                llm.Multimodal.withSyntheticWavs(sdf, "doc_id"), "doc_id"),
              "id", "whash", maxHamming = 2))
        val feed = docs.select(col("doc_id").as("a"), col("doc_id").as("b"),
            (col("doc_id") * 2).as("ord"))
          .unionByName(edges.select(col("a"), col("b"),
            (greatest(col("a"), col("b")) * 2 + 1).as("ord")))
        val log = streaming.Replay.replay(s, feed, "ord", 5000, "update")(sdf =>
          streaming.NearDupStream.unionFindStage(sdf))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id")
      }
    }),
    // ... and the kill/restart row: the EDGE stage is killed at the
    // halfway chunk boundary and restarted from its checkpoint (offset
    // recovery + RocksDB restore of the chunk-bucket member maps); the
    // accumulated edges must still reduce to the same batch survivors
    "mm_audio_dedup_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val edges = streaming.Replay.replayWithRestart(s, docs.select("doc_id"),
          "doc_id", 100)(sdf =>
            streaming.NearDupStream.hashShardedEdges(
              llm.Multimodal.audioHashes(
                llm.Multimodal.withSyntheticWavs(sdf, "doc_id"), "doc_id"),
              "id", "whash", maxHamming = 2))
        val feed = docs.select(col("doc_id").as("a"), col("doc_id").as("b"),
            (col("doc_id") * 2).as("ord"))
          .unionByName(edges.select(col("a"), col("b"),
            (greatest(col("a"), col("b")) * 2 + 1).as("ord")))
        val log = streaming.Replay.replay(s, feed, "ord", 5000, "update")(sdf =>
          streaming.NearDupStream.unionFindStage(sdf))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id")
      }
    }),
    // STREAMING video dedup — the sharded two-stage bridge for the
    // sequence tier: stage A decodes each arriving clip ONCE
    // (videoShingles, stateless projection), stores its shingle set
    // per shingle-code shard, and emits Jaccard-verified edges; the
    // shared ids-only union-find stage B reduces to the batch CC
    // survivors (same mirror as mm_video_dedup)
    "mm_video_dedup_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val edges = streaming.Replay.replay(s, docs.select("doc_id"),
          "doc_id", 100, "append")(sdf =>
            streaming.NearDupStream.videoShardedEdges(
              llm.Multimodal.withSyntheticVideoClips(sdf, "doc_id"),
              "doc_id", shingleK = 2, threshold = 0.5))
        val feed = docs.select(col("doc_id").as("a"), col("doc_id").as("b"),
            (col("doc_id") * 2).as("ord"))
          .unionByName(edges.select(col("a"), col("b"),
            (greatest(col("a"), col("b")) * 2 + 1).as("ord")))
        val log = streaming.Replay.replay(s, feed, "ord", 5000, "update")(sdf =>
          streaming.NearDupStream.unionFindStage(sdf))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id")
      }
    }),
    // ... and the video kill/restart row: the shingle-sharded EDGE stage
    // is killed at the halfway chunk boundary and restarted from its
    // checkpoint (offset recovery + RocksDB restore of the shard member
    // maps, including every stored shingle-set payload); the accumulated
    // edges must still reduce to the same batch CC survivors
    "mm_video_dedup_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val edges = streaming.Replay.replayWithRestart(s, docs.select("doc_id"),
          "doc_id", 100)(sdf =>
            streaming.NearDupStream.videoShardedEdges(
              llm.Multimodal.withSyntheticVideoClips(sdf, "doc_id"),
              "doc_id", shingleK = 2, threshold = 0.5))
        val feed = docs.select(col("doc_id").as("a"), col("doc_id").as("b"),
            (col("doc_id") * 2).as("ord"))
          .unionByName(edges.select(col("a"), col("b"),
            (greatest(col("a"), col("b")) * 2 + 1).as("ord")))
        val log = streaming.Replay.replay(s, feed, "ord", 5000, "update")(sdf =>
          streaming.NearDupStream.unionFindStage(sdf))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id")
      }
    }),
    // ... kill/restart rows for the two key-set twins added this round
    // (every streaming twin carries one): the key-set edge stage is
    // killed at the halfway chunk boundary and checkpoint-restored
    // (offset recovery + RocksDB restore of the per-key shard member
    // maps, including every stored key-array payload); the accumulated
    // edges must still reduce to the same batch CC survivors
    "mm_audio_seg_dedup_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val edges = streaming.Replay.replayWithRestart(s, docs.select("doc_id"),
          "doc_id", 100)(sdf =>
            streaming.NearDupStream.keySetShardedEdges(
              llm.Multimodal.audioSegmentKeys(
                llm.Multimodal.withSyntheticOffsetWavs(sdf, "doc_id"), "doc_id"),
              threshold = 0.0, minShared = 3))
        val feed = docs.select(col("doc_id").as("a"), col("doc_id").as("b"),
            (col("doc_id") * 2).as("ord"))
          .unionByName(edges.select(col("a"), col("b"),
            (greatest(col("a"), col("b")) * 2 + 1).as("ord")))
        val log = streaming.Replay.replay(s, feed, "ord", 5000, "update")(sdf =>
          streaming.NearDupStream.unionFindStage(sdf))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id")
      }
    }),
    "mm_image_crop_dedup_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val edges = streaming.Replay.replayWithRestart(s, docs.select("doc_id"),
          "doc_id", 100)(sdf =>
            streaming.NearDupStream.keySetShardedEdges(
              llm.Multimodal.imageTileKeys(
                llm.Multimodal.withSyntheticCropImages(sdf, "doc_id"), "doc_id"),
              threshold = 0.0, minShared = 10))
        val feed = docs.select(col("doc_id").as("a"), col("doc_id").as("b"),
            (col("doc_id") * 2).as("ord"))
          .unionByName(edges.select(col("a"), col("b"),
            (greatest(col("a"), col("b")) * 2 + 1).as("ord")))
        val log = streaming.Replay.replay(s, feed, "ord", 5000, "update")(sdf =>
          streaming.NearDupStream.unionFindStage(sdf))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id")
      }
    }),
    // ---- corpus-curation tier (llm.CorpusOps): the filter / packing /
    // decontamination layer between dedup and training ----
    "doc_repetition" -> ((s, d) =>
      llm.CorpusOps.repetitionColumns(Tables.documents(s, d), "doc_id", "text")),
    "doc_boilerplate_phrases" -> ((s, d) =>
      llm.CorpusOps.boilerplatePhrases(Tables.documents(s, d), "doc_id", "text",
        n = 3, minDf = 5)),
    "doc_decontam" -> ((s, d) =>
      llm.CorpusOps.decontaminate(Tables.documents(s, d), "doc_id", "text",
        evalMod = 50L, n = 5)),
    "doc_pack" -> ((s, d) =>
      llm.CorpusOps.packSequences(Tables.documents(s, d), "doc_id", "text",
        "source", budget = 512)),
    // END-TO-END curation composition — the four pipeline stages CHAINED
    // the way the reference's tests compose window+join+agg
    // (UniqueLengthBatchWindowTestCase.java:327-421): exact dedup →
    // fuzzy decontamination (md5 family, caps unbound) → per-source cap
    // → sequence packing, one row mirrored end to end in DuckDB. Each
    // stage's input is the previous stage's OUTPUT, so the mirror pins
    // the stage boundaries (schemas, survivor sets), not just each
    // operator in isolation.
    "doc_curation_pipeline_md5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val deduped = llm.TextDedup.exactDedup(docs, Seq("text"), "doc_id")
      val train = deduped.filter(col("doc_id") % 10 =!= 0)
      val evalDocs = docs.filter(col("doc_id") % 10 === 0)
      val decontamed = llm.TextDedup.fuzzyDecontaminateMd5(train, evalDocs,
        "doc_id", "text")
      val capped = llm.CorpusOps.capPerGroup(decontamed, "source", "doc_id", 10)
      llm.CorpusOps.packSequences(capped, "doc_id", "text", "source", budget = 512)
    }),
    // CROSS-MODAL curation composition: the image near-dup rung chained
    // IN FRONT of the text pipeline — perceptual image dedup first (the
    // mm_image_dedup chain verbatim; survivors carry their text
    // forward), then exact text dedup → fuzzy eval decontamination →
    // per-source cap → sequence packing. One row mirrored end to end:
    // the doc_curation_pipeline_md5 mirror with the image-CC survivor
    // gate prepended, so the mirror pins the MODALITY BOUNDARY (which
    // doc ids the image stage hands to the text stages), not just each
    // tier in isolation.
    "mm_curation_pipeline_md5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val imgKept = llm.TextDedup.dedupByPairs(docs, "doc_id",
        llm.TextDedup.hammingHashPairs(
          llm.Multimodal.imageHashes(
            llm.Multimodal.withSyntheticPatternImages(docs, "doc_id"), "doc_id"),
          "id", "dhash", chunkBits = 16, maxHamming = 3, maxBucket = 1000)
          .select("id_a", "id_b"))
      val deduped = llm.TextDedup.exactDedup(imgKept, Seq("text"), "doc_id")
      val train = deduped.filter(col("doc_id") % 10 =!= 0)
      val evalDocs = docs.filter(col("doc_id") % 10 === 0)
      val decontamed = llm.TextDedup.fuzzyDecontaminateMd5(train, evalDocs,
        "doc_id", "text")
      val capped = llm.CorpusOps.capPerGroup(decontamed, "source", "doc_id", 10)
      llm.CorpusOps.packSequences(capped, "doc_id", "text", "source", budget = 512)
    }),
    "doc_sample_md5" -> ((s, d) =>
      llm.CorpusOps.sampleByHash(Tables.documents(s, d), "doc_id", "text", "lang",
        Map("en" -> "1999"), defaultPrefix = "3333")),
    "doc_pii_redact" -> ((s, d) =>
      llm.CorpusOps.redactPii(
        llm.CorpusOps.withSyntheticPii(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", "pii_text")),
    // CCNet-style line dedup over the deterministically multi-lined
    // corpus (string keys for DuckDB parity; xxhash64 twin in benchQueries)
    "doc_line_dedup" -> ((s, d) =>
      llm.CorpusOps.lineDedup(
        llm.CorpusOps.withSyntheticLines(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", "lines_text", minDf = 3)),
    // the dropped-line relation + its streaming twin (insert-only change
    // log with retroactive promotion), both on the same oracle
    "doc_dup_lines" -> ((s, d) =>
      llm.CorpusOps.duplicateLines(
        llm.CorpusOps.withSyntheticLines(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", "lines_text", minDf = 3)),
    "doc_dup_lines_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        streaming.Replay.replay(s,
          llm.CorpusOps.withSyntheticLines(Tables.documents(s, d), "doc_id", "text")
            .select("doc_id", "lines_text"),
          "doc_id", 100, "update")(sdf =>
          streaming.LineDedupStream.lineDedupStream(sdf, "doc_id", "lines_text",
            minDf = 3))
          .select(col("doc_id"), col("pos"))
      }
    }),
    // LINE-SHARDED streaming form (one stage, keyed by line content —
    // the scale-out path past the monolith's single-task stage): the
    // accumulated insert-only log must equal the same dropped-line
    // relation, so it shares doc_dup_lines' oracle
    "doc_dup_lines_sharded_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        streaming.Replay.replay(s,
          llm.CorpusOps.withSyntheticLines(Tables.documents(s, d), "doc_id", "text")
            .select("doc_id", "lines_text"),
          "doc_id", 100, "append")(sdf =>
          streaming.LineDedupStream.shardedLineDedupStream(sdf, "doc_id", "lines_text",
            minDf = 3))
          .select(col("doc_id"), col("pos"))
      }
    }),
    // ---- duplicated-span detection/removal (ExactSubstr-style dedup,
    // Lee et al. 2021; llm.TextDedup.duplicateSpans) — string gram keys
    // here for DuckDB parity, xxhash64 production twins in benchQueries
    "doc_dup_spans" -> ((s, d) =>
      llm.TextDedup.duplicateSpans(Tables.documents(s, d), "doc_id", "text",
        k = 5, minCount = 2)),
    "doc_dup_span_removal" -> ((s, d) =>
      llm.TextDedup.removeDuplicateSpans(Tables.documents(s, d), "doc_id", "text",
        k = 5, minCount = 2)),
    // streaming incremental span detection: final (max-upd_seq) spans per
    // doc after replaying the corpus must hash-match the SAME DuckDB
    // oracle as the batch row — retroactive promotions included
    "doc_dup_spans_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val log = streaming.Replay.replay(s, Tables.documents(s, d), "doc_id",
          100, "update")(sdf =>
          streaming.DupSpanStream.dupSpanStream(sdf, "doc_id", "text", k = 5))
        streaming.DupSpanStream.latestSpans(log, "doc_id")
      }
    }),
    // GRAM-SHARDED two-stage streaming form: stage A (per-gram promotion,
    // append-mode hit log) replayed over the corpus, its accumulated log
    // replayed through stage B (per-doc span merge) — the deployment
    // bridge the sharded pair documents, closed end-to-end at oracle
    // level. Final (max per-doc upd_seq) spans share the batch oracle.
    "doc_dup_spans_sharded_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val hits = streaming.Replay.replay(s, Tables.documents(s, d), "doc_id",
          100, "append")(sdf =>
          streaming.DupSpanStream.shardedGramHits(sdf, "doc_id", "text", k = 5))
        val log = streaming.Replay.replay(s, hits, "doc_id",
          5000, "update")(sdf =>
          streaming.DupSpanStream.spanMergeStage(sdf, "doc_id", k = 5))
        streaming.DupSpanStream.latestSpans(log, "doc_id")
      }
    }),
    // ---- streaming-vs-batch replay (graft.streaming) ----
    // Each feeds the events table through the Structured Streaming
    // operator via MemoryStream in arrival order and returns the sink —
    // the streaming tier's hash-level verification against the SAME
    // DuckDB oracles as the batch twins (the reference's test suite is
    // all streaming, UniqueTimeWindowTestCase.java:65-206).
    "ever_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.everStream(sdf, Seq("user_id"), Some("event_id")))),
    // composite-key streaming state (the struct-key analog of ever_multikey)
    "ever_multikey_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.everStream(sdf, Seq("user_id", "event_type"),
          Some("event_id")))),
    // the transformWithState backend, same oracle as ever_stream_replay
    // (requires the RocksDB provider — set for the run, then restored)
    "ever_tws_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
          streaming.UniqueStreams.everStreamTws(sdf, Seq("user_id"), Some("event_id")))
      }
    }),
    // CHECKPOINT-RESTART at oracle level: the same everStream replay,
    // but the query is KILLED at the halfway chunk boundary and restarted
    // from its checkpoint (offsets + keyed state restored). The
    // accumulated change log must hash-match the SAME oracle as the
    // uninterrupted ever_stream_replay.
    "ever_restart_stream_replay" -> ((s, d) =>
      streaming.Replay.replayWithRestart(s, ev(s, d), "event_id", 2000)(sdf =>
        streaming.UniqueStreams.everStream(sdf, Seq("user_id"), Some("event_id")))),
    // the BOUNDED-state ever variant: keys idle longer than ttl (event
    // time) are evicted SILENTLY — a returning key is brand new (insert
    // with no preceding expire). Deterministically replayable because
    // evictions fire in the no-data micro-batch after each chunk, with
    // the watermark frozen at the chunk boundary: a key's previous row
    // expires iff the boundary watermark before its successor's chunk
    // had not passed ts+ttl (the oracle bakes in chunkSize=500, like the
    // timeout replay bakes in its marker grid). The TWS TTL twin
    // (everStreamTws ttl) is wall-clock-driven (TimeMode.ProcessingTime)
    // and thus not replayable — this event-time row is its deterministic
    // analog; the TWS path stays sbt-pinned.
    "ever_ttl_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 500, "update")(sdf =>
        streaming.UniqueStreams.everStreamTtl(sdf, Seq("user_id"), "ts",
          ttlMs = H12, seqCol = Some("event_id")))),
    // the FULL change log, expires included: each flush re-emits the
    // previous batch tagged "expire" — verified against the expired-batch
    // oracle union'd with the insert form (VERDICT r6 ask #4)
    "lengthbatch_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.lengthBatchStream(sdf, Seq("user_id"), "event_id", 40))),
    // fed in ts order (the operator is an order-insensitive windowed agg;
    // ts-ordered feeding keeps the watermark monotone so nothing is late)
    "timebatch_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "ts", 2000, "append")(sdf =>
        streaming.UniqueStreams.timeBatchStream(sdf, Seq("user_id"), "event_id", "ts", DAY))),
    // OUT-OF-ORDER stress (VERDICT r7 stretch #8): same operator, same
    // oracle — but the feed order is a bounded-disorder permutation:
    // each event's feed position is its ts jittered by a deterministic
    // pseudo-random offset < 2h (xxhash64 of event_id), and the
    // watermark delay equals the disorder bound, so events arrive late
    // relative to ts order yet always inside the watermark. The closed
    // windows must hash-match the in-order oracle (end-of-stream slack
    // past the last day boundary is >23h at every sf, far above the 2h
    // delay, so the emitted window set is unchanged).
    "timebatch_ooo_stream_replay" -> ((s, d) => {
      val OOO = 7200000L // 2h disorder bound == watermark delay
      val fed = ev(s, d).withColumn("__ooo_ord",
        unix_millis(col("ts")) + pmod(xxhash64(col("event_id")), lit(OOO)))
      streaming.Replay.replay(s, fed, "__ooo_ord", 2000, "append")(sdf =>
        streaming.UniqueStreams.timeBatchStream(sdf.drop("__ooo_ord"), Seq("user_id"),
          "event_id", "ts", DAY, delayMs = OOO))
    }),
    "firsttimebatch_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "ts", 2000, "append")(sdf =>
        streaming.UniqueStreams.timeBatchStream(sdf, Seq("user_id"), "event_id", "ts", DAY,
          keepFirst = true))),
    "firstlengthbatch_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.lengthBatchStream(sdf, Seq("user_id"), "event_id", 40,
          keepFirst = true))),
    // The events table's ts is monotone in event_id (checked per-sf), so
    // event_id-ordered feeding keeps the watermark monotone for the
    // event-time operators below — nothing is dropped as late.
    "first_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.firstStream(sdf, Seq("user_id"), "event_id"))),
    "length_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.lengthStream(sdf, Seq("user_id"), "event_id", 100))),
    "time_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.timeStream(sdf, Seq("user_id"), "ts", WEEK,
          seqCol = Some("event_id")))),
    "deduplicate_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.deduplicateStreamExact(sdf, Seq("user_id"), "event_id",
          "ts", DAY))),
    // FIXED-STATE approximate dedup (rotating two-bank Bloom): with a
    // generously-sized filter the admitted set is EXACTLY the epoch
    // recurrence (next kept = first event ≥ 2 interval-epochs after the
    // last kept — the [T, 2T) gray zone is deterministic, not fuzz), so
    // the operator gets a real hash oracle. events.ts is strictly
    // monotone in event_id (TestDataCanarySpec pins feed order), the
    // monotone-stream regime the rotation contract is stated for.
    "deduplicate_bloom_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.deduplicateStreamBloom(sdf, Seq("user_id"), "ts", DAY,
          numShards = 8, bitsPerShard = 1 << 20, seqCol = Some("event_id")))),
    // FIXED-STATE approximate first (per-shard Bloom bitsets): no false
    // negatives by construction, and with a generously-sized filter
    // (8 × 1 Mbit for ≤1.5k distinct keys at gate scales — per-admission
    // false-positive odds ~(k·n/m)^k ≈ 1e-15, and the fixed murmur seeds
    // make the run deterministic, so green is stable, not statistical)
    // the admitted set is EXACTLY first-per-key: the approximate
    // operator shares the exact `first` oracle.
    "first_bloom_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.firstStreamBloom(sdf, Seq("user_id"),
          numShards = 8, bitsPerShard = 1 << 20, seqCol = Some("event_id")))),
    // FULL change log (insert + the previous flushed batch re-emitted as
    // expire on each flush — VERDICT r10 ask #5); the oracle unions the
    // flushed-batch insert set with its all-but-last-flushed expire set
    "timelengthbatch_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.timeLengthBatchStream(sdf, Seq("user_id"), "event_id",
          "ts", DAY, 50))),
    // firstTimeBatch's change-log form: the same flatMapGroupsWithState
    // operator with keepFirst and a never-reached length trigger — pure
    // time batches, first-per-key, full insert+expire log (the append-mode
    // firsttimebatch_stream_replay above pins the windowed-agg production
    // shape; this row pins the expired stream)
    "firsttimebatch_changelog_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.timeLengthBatchStream(sdf, Seq("user_id"), "event_id",
          "ts", DAY, Int.MaxValue, keepFirst = true))),
    // the no-time.out form (timeOutMs=0): batches close only when a later
    // event crosses the boundary
    "externaltimebatch_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, ev(s, d), "event_id", 2000, "update")(sdf =>
        streaming.UniqueStreams.externalTimeBatchStream(sdf, Seq("user_id"), "event_id",
          "ts", H6, timeOutMs = 0L)).drop("flush_kind")),
    // STREAMING composition: a join downstream of a streaming unique
    // window (the streaming analog of join_windows; the reference joins
    // two unique:ever windows in streaming, UniqueEverWindowTestCase
    // .java:220-263 — the two-window event-by-event form is pinned by the
    // foreachBatch spec in UniqueStreamsSpec; this row hash-verifies the
    // in-query stream-static form: everStream(orders) ⨝ broadcast(customer)
    // emitting the joined change log).
    "join_windows_stream_replay" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      streaming.Replay.replay(s, Tables.orders(s, d), "o_orderkey", 2000, "update")(sdf =>
        streaming.UniqueStreams.everStream(sdf, Seq("o_custkey"), Some("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "o_orderdate",
            "change"))
    }),
    // ... and the stream's final CLUSTER STRUCTURE (not just survivors):
    // every drop row is a union-find edge (doc → root at emission time);
    // connected components over those edges are the true final
    // components — later demotions connect superseded roots onward — and
    // the min label equals the batch CC label because roots are component
    // minima under the id-ordered feed. Verified against the SAME
    // recursive-CTE closure oracle as doc_neardup_clusters_md5, closing
    // the canonical-at-emission-time asymmetry.
    "doc_neardup_clusters_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val log = streaming.Replay.replay(s, Tables.documents(s, d), "doc_id", 1000,
          "update")(sdf => streaming.NearDupStream.nearDupStreamMd5(sdf, "doc_id", "text"))
        val edges = log.filter(col("change") === "drop")
          .select(col("doc_id").as("id_a"), col("canonical").as("id_b"))
        llm.TextDedup.nearDupClusters(edges).withColumnRenamed("id", "doc_id")
      }
    }),
    // TWO STREAMING WINDOWS JOINED EVENT-BY-EVENT (reference everTest4,
    // UniqueEverWindowTestCase.java:228-263: two unique:ever windows, each
    // new arrival joining the OTHER window's contents at that moment).
    // Both windows live in ONE everStream via disjoint composite keys
    // ("O:"+o_custkey for orders, "C:"+c_nationkey for customers), fed on
    // a deterministic global interleave (customer c at seq 2c, order o at
    // 2o+1); the foreachBatch handler walks the merged change log in seq
    // order maintaining both windows and emitting the event-by-event
    // joins — making the reference's single-input-thread join timing
    // replayable and hash-verifiable (order side: latest live customer
    // per nation matching o_custkey; customer side: the live latest order
    // per custkey). Window keys differ from the join attribute on the
    // customer side, like the reference's symbol==company condition.
    "join_two_windows_stream_replay" -> ((s, d) => {
      val a = Tables.orders(s, d).select(
        lit("O").as("side"), (col("o_orderkey") * 2 + 1).as("__g"),
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lit(null).cast("long").as("c_custkey"), lit(null).cast("string").as("c_name"),
        lit(null).cast("int").as("c_nationkey"))
      val b = Tables.customer(s, d).select(
        lit("C").as("side"), (col("c_custkey") * 2).as("__g"),
        lit(null).cast("long").as("o_orderkey"), lit(null).cast("long").as("o_custkey"),
        lit(null).cast("double").as("o_totalprice"),
        col("c_custkey"), col("c_name"), col("c_nationkey"))
      val liveOrder = scala.collection.mutable.Map.empty[Long, (Long, Long, Double)]
      val liveCustByNation = scala.collection.mutable.Map.empty[Int, Long]
      val liveCust = scala.collection.mutable.Map.empty[Long, (String, Int)]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, String, Int)]
      streaming.Replay.replayForeachBatch(s, a.unionByName(b), "__g", 2000) { sdf =>
        streaming.UniqueStreams.everStream(
          sdf.withColumn("__wk", when(col("side") === "O",
            concat(lit("O:"), col("o_custkey")))
            .otherwise(concat(lit("C:"), col("c_nationkey")))),
          Seq("__wk"), Some("__g"))
      } { rows =>
        rows.filter(_.getAs[String]("change") == "insert").foreach { r =>
          if (r.getAs[String]("side") == "O") {
            val (ok, ck, tp) = (r.getAs[Long]("o_orderkey"),
              r.getAs[Long]("o_custkey"), r.getAs[Double]("o_totalprice"))
            liveOrder(ck) = (ok, ck, tp) // upsert window A (keyed o_custkey)
            liveCust.get(ck).foreach { case (nm, nk) => out += ((ok, ck, tp, nm, nk)) }
          } else {
            val (cc, nm, nk) = (r.getAs[Long]("c_custkey"),
              r.getAs[String]("c_name"), r.getAs[Int]("c_nationkey"))
            // upsert window B (keyed c_nationkey): the nation's previous
            // occupant leaves the window
            liveCustByNation.get(nk).foreach(liveCust.remove)
            liveCustByNation(nk) = cc
            liveCust(cc) = (nm, nk)
            liveOrder.get(cc).foreach { case (ok, ck, tp) => out += ((ok, ck, tp, nm, nk)) }
          }
        }
      }
      import s.implicits._
      out.toSeq.toDF("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_nationkey")
    }),
    // the time.out idle-flush / append-merge path
    // (UniqueExternalTimeBatchWindowProcessor.java:279-298), driven
    // DETERMINISTICALLY: flush-marker rows stand in for the reference's
    // TIMER events at fixed stream positions (after every 2500th event by
    // event_id rank), making the wall-clock path replayable and
    // hash-verifiable. Grid-aligned batches (start.time = 0). Feed order:
    // events at 2*event_id, the marker after event c at 2*c+1.
    // the LLM tier's streaming twin: exact dedup as an infinite stream —
    // firstStream keyed on the content column is exactly exactDedup's
    // min_by(doc_id) when fed in doc_id order (same oracle)
    "doc_exact_dedup_stream_replay" -> ((s, d) =>
      streaming.Replay.replay(s, Tables.documents(s, d), "doc_id", 1000, "update")(sdf =>
        streaming.UniqueStreams.firstStream(sdf, Seq("text"), "doc_id"))),
    // continuous sequence packing: per-shard running token offsets folded
    // in arrival order equal the batch window-function packing when each
    // shard's docs arrive in id order (which the id-ordered replay feeds)
    // STREAMING LM scoring: the corpus replays in doc_id order against a
    // STATIC pre-trained bigram model (stream-static joins + one updating
    // per-doc aggregation — the CCNet deployment shape). Same integer
    // surface as the batch row, so it shares docLmPplOracle.
    "doc_lm_ppl_stream_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.CorpusOps.lmTrain(docs, "text")
      streaming.Replay.replay(s, docs, "doc_id", 100, "update")(sdf =>
        streaming.LmScoreStream.lmScoreStream(sdf, "text", "doc_id", model))
        .select("doc_id", "n_tokens", "n_bigrams", "oov_bigrams",
          "hit_prev", "hit_bigram")
    }),
    // STREAMING DSIR scoring: the raw pool replays in doc_id order
    // against a STATIC pre-trained bucket model (one stream-static join
    // + one updating per-doc aggregation — the data-selection deployment
    // shape). Same integer surface as the batch row, so it shares
    // docDsirOracle. (The replay feeds whole docs per chunk, so each
    // doc's gram rows land in one micro-batch; the updating aggregation
    // itself is straddle-safe by construction, like doc_lm_ppl's.)
    "doc_dsir_stream_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.CorpusOps.dsirTrain(
        docs.filter(col("doc_id") % 10 === 0), "text",
        docs.filter(col("doc_id") % 10 =!= 0), "text",
        gramNs = Seq(1, 2), hexChars = 2, md5Family = true)
      streaming.Replay.replay(s, docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", 100, "update")(sdf =>
        streaming.DsirScoreStream.dsirScoreStream(sdf, "text", "doc_id", model))
        .select("doc_id", "n_grams", "oov_tgt", "oov_raw",
          "hit_tgt", "hit_raw")
    }),
    // STREAMING BM25 retrieval: the eval-split queries replay against a
    // STATIC pre-built index (stateless stream-static joins + one
    // updating (query, doc) aggregation — the search deployment shape).
    // Same integer surface as the batch row, so it shares docBm25Oracle.
    "doc_bm25_stream_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idx0 = llm.TextSearch.bm25Index(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      // postings is deliberately lazy in bm25Index (corpus-sized; a
      // serving deployment persists it once, bucketed by term) — pin it
      // here so the replay's per-micro-batch stream-static joins don't
      // re-run the tokenize/explode/aggregate lineage chunk × corpus
      // times (StreamBench's scoring arm does the same)
      val idx = idx0.copy(postings = idx0.postings.localCheckpoint(true))
      streaming.Replay.replay(s,
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("query_id"), col("text")),
        "query_id", 10, "update")(sdf =>
        streaming.Bm25SearchStream.bm25StatsStream(sdf, "text", "query_id", idx))
        .select("query_id", "doc_id", "n_match", "tf_sum", "tfdf_sum", "dl")
    }),
    // ... and the kill+restart form: the query stream is stopped at the
    // half-way chunk and recovered from its checkpoint; the updating
    // (query, doc) aggregation restores to the pre-batch version, so the
    // final statistics are identical and the row shares docBm25Oracle
    // (the repo's standard restart coverage, like doc_neardup_restart).
    "doc_bm25_restart_stream_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idx0 = llm.TextSearch.bm25Index(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      val idx = idx0.copy(postings = idx0.postings.localCheckpoint(true))
      streaming.Replay.replayWithRestart(s,
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("query_id"), col("text")),
        "query_id", 10)(sdf =>
        streaming.Bm25SearchStream.bm25StatsStream(sdf, "text", "query_id", idx))
        .select("query_id", "doc_id", "n_match", "tf_sum", "tfdf_sum", "dl")
    }),
    // STREAMING BM25 INDEX INGESTION (graft.streaming.Bm25IngestStream):
    // documents ENTER the searchable index as they arrive (token-sharded
    // transformWithState postings + df state, maxDf Zipf-head saturation)
    // and interleaved queries probe exactly the arrivals-so-far — the
    // emb_ann_stream_replay earlier-arrivals contract applied to lexical
    // retrieval. The id-ordered tagged feed (docs = id % 10 != 0,
    // queries = id % 10 == 0, one seq axis) makes "so far" = doc_id <
    // query_id, and the per-batch seq sort makes that CHUNKING-
    // INSENSITIVE; the mirror re-derives the stored-postings prefix
    // (row_number ≤ maxDf per token) and the at-probe df in SQL. The
    // per-(query, doc) fold of the emitted per-token rows is the
    // consumer-side contract (as in doc_bm25_stream_replay's ranking).
    "doc_bm25_index_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val tagged = Tables.documents(s, d).select(col("doc_id"), col("text"),
          (col("doc_id") % 10 === 0).as("is_query"))
        streaming.Replay.replay(s, tagged, "doc_id", 50, "append")(sdf =>
          streaming.Bm25IngestStream.bm25IngestStream(sdf, "doc_id", "text",
            "is_query", maxDf = 250))
          .groupBy("query_id", "doc_id")
          .agg(count(lit(1)).as("n_match"), sum(col("tf")).as("tf_sum"),
            sum(col("tf") * col("df_p")).as("tfdf_sum"),
            min(col("dl")).as("dl"))
      }
    }),
    // ... and the kill/restart form: stopped at the half-way chunk and
    // recovered from the checkpoint — the RocksDB df/postings state must
    // restore exactly for the later queries' probes to match (append-mode
    // emissions are final, so the row shares the ingestion mirror).
    "doc_bm25_index_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val tagged = Tables.documents(s, d).select(col("doc_id"), col("text"),
          (col("doc_id") % 10 === 0).as("is_query"))
        streaming.Replay.replayWithRestart(s, tagged, "doc_id", 50)(sdf =>
          streaming.Bm25IngestStream.bm25IngestStream(sdf, "doc_id", "text",
            "is_query", maxDf = 250))
          .groupBy("query_id", "doc_id")
          .agg(count(lit(1)).as("n_match"), sum(col("tf")).as("tf_sum"),
            sum(col("tf") * col("df_p")).as("tfdf_sum"),
            min(col("dl")).as("dl"))
      }
    }),
    // WATERMARK-BOUNDED scoring streams (the windowed twins of the three
    // rows above): event time = timestamp_seconds(id) — one event time
    // per document, the natural ingestion-time shape — fed in id order,
    // 50 s windows under a 10 s watermark. Each chunk advances event time
    // past several window ends, so STATE EVICTION FIRES throughout the
    // replay while completed docs score identically (the window key is
    // constant within a doc and merely partitions the doc set) — each
    // row shares its unwindowed sibling's batch mirror.
    "doc_lm_ppl_windowed_stream_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.CorpusOps.lmTrain(docs, "text")
      streaming.Replay.replay(s,
        docs.withColumn("event_ts", timestamp_seconds(col("doc_id"))),
        "doc_id", 100, "update")(sdf =>
        streaming.LmScoreStream.lmScoreStreamWindowed(sdf, "text", "doc_id",
          "event_ts", model, "50 seconds", "10 seconds"))
        .select("doc_id", "n_tokens", "n_bigrams", "oov_bigrams",
          "hit_prev", "hit_bigram")
    }),
    "doc_dsir_windowed_stream_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.CorpusOps.dsirTrain(
        docs.filter(col("doc_id") % 10 === 0), "text",
        docs.filter(col("doc_id") % 10 =!= 0), "text",
        gramNs = Seq(1, 2), hexChars = 2, md5Family = true)
      streaming.Replay.replay(s,
        docs.filter(col("doc_id") % 10 =!= 0)
          .withColumn("event_ts", timestamp_seconds(col("doc_id"))),
        "doc_id", 100, "update")(sdf =>
        streaming.DsirScoreStream.dsirScoreStreamWindowed(sdf, "text",
          "doc_id", "event_ts", model, "50 seconds", "10 seconds"))
        .select("doc_id", "n_grams", "oov_tgt", "oov_raw",
          "hit_tgt", "hit_raw")
    }),
    "doc_bm25_windowed_stream_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idx0 = llm.TextSearch.bm25Index(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      val idx = idx0.copy(postings = idx0.postings.localCheckpoint(true))
      streaming.Replay.replay(s,
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("query_id"), col("text"))
          .withColumn("event_ts", timestamp_seconds(col("query_id"))),
        "query_id", 10, "update")(sdf =>
        streaming.Bm25SearchStream.bm25StatsStreamWindowed(sdf, "text",
          "query_id", "event_ts", idx, "50 seconds", "10 seconds"))
        .select("query_id", "doc_id", "n_match", "tf_sum", "tfdf_sum", "dl")
    }),
    // ... and a kill/restart form of a WINDOWED scoring stream: the
    // checkpoint must restore not just the per-(window, doc) aggregation
    // rows but the WATERMARK itself (a restart that lost it would
    // re-admit or drop rows differently) — the one recovery surface the
    // unwindowed restart rows don't exercise. Shares the batch mirror.
    "doc_dsir_windowed_restart_stream_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.CorpusOps.dsirTrain(
        docs.filter(col("doc_id") % 10 === 0), "text",
        docs.filter(col("doc_id") % 10 =!= 0), "text",
        gramNs = Seq(1, 2), hexChars = 2, md5Family = true)
      streaming.Replay.replayWithRestart(s,
        docs.filter(col("doc_id") % 10 =!= 0)
          .withColumn("event_ts", timestamp_seconds(col("doc_id"))),
        "doc_id", 100)(sdf =>
        streaming.DsirScoreStream.dsirScoreStreamWindowed(sdf, "text",
          "doc_id", "event_ts", model, "50 seconds", "10 seconds"))
        .select("doc_id", "n_grams", "oov_tgt", "oov_raw",
          "hit_tgt", "hit_raw")
    }),
    "doc_pack_stream_replay" -> ((s, d) =>
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        streaming.Replay.replay(s, Tables.documents(s, d), "doc_id", 100, "update")(sdf =>
          streaming.PackStream.packStream(sdf, "doc_id", "text", "source", budget = 512))
      }),
    // STREAMING INCREMENTAL NEAR-DUP DEDUP (graft.streaming.NearDupStream):
    // replay the documents table in doc_id order through the incremental
    // band-code-index operator; a doc's latest change-log row is its live
    // verdict, so the final survivor set (latest change == "keep") must
    // hash-match the BATCH minhash → LSH → connected-components survivors
    // — the same recursive-CTE closure oracle as doc_neardup_dedup_md5.
    // The md5 hash family end-to-end keeps the oracle computable; the cap
    // never bites at verification scale (max bucket 10 at sf0.1), so the
    // streamed pair relation IS the batch pair relation.
    // STREAMING CONTINUOUS ANN RETRIEVAL (graft.streaming.AnnStream):
    // replay the embeddings in vec_id order; per arriving vector, the
    // top-10 cosine neighbors among the vectors arrived SO FAR from the
    // same multi-probe hyperplane LSH index annTopK builds (nPlanes=8,
    // hamming-1 probes). Under the id-ordered feed "so far" is exactly
    // corpus_id < query_id, so the full output hash-matches the batch
    // ANN oracle with that restriction — every arrival's retrieval
    // result, not just a fixed query set. sim excluded like emb_ann_lsh
    // (ranks compared; the doubles are representation-sensitive).
    "emb_ann_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        streaming.Replay.replay(s, Tables.embeddings(s, d), "vec_id", 1000,
          "append")(sdf => streaming.AnnStream.annStream(sdf, "vec_id", "embedding"))
      }
    }),
    // ... and its BUCKET-SHARDED two-stage twin (round 14 — the last
    // single-task streaming arm closed): stage A keys by LSH bucket code
    // (probe fan-out to own + hamming-1 shards, insert into own), stage B
    // is the query-keyed top-k merge; per-bucket candidates are disjoint
    // so the merged log equals the monolith's — same DuckDB mirror.
    "emb_ann_sharded_lsh_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val hits = streaming.Replay.replay(s, Tables.embeddings(s, d),
          "vec_id", 1000, "append")(sdf =>
          streaming.AnnStream.shardedLshBucketHits(sdf, "vec_id", "embedding"))
        streaming.Replay.replay(s, hits, "query_id", 1 << 20,
          "append")(sdf => streaming.AnnStream.annMergeStage(sdf, nProbe = 9))
      }
    }),
    // ... and the bridge under KILL/RESTART: stage A is stopped at the
    // half-way chunk and recovered from its checkpoint — the per-bucket
    // member state must restore exactly for later probes' candidate sets
    // to match (append emissions are final, so the accumulated hit log —
    // and therefore the merged output — shares the monolith mirror)
    "emb_ann_sharded_lsh_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val hits = streaming.Replay.replayWithRestart(s, Tables.embeddings(s, d),
          "vec_id", 1000)(sdf =>
          streaming.AnnStream.shardedLshBucketHits(sdf, "vec_id", "embedding"))
        streaming.Replay.replay(s, hits, "query_id", 1 << 20,
          "append")(sdf => streaming.AnnStream.annMergeStage(sdf, nProbe = 9))
      }
    }),
    // PQ-compressed continuous ANN: same feed and probe structure, but
    // the stateful index stores 8-int PQ codes instead of raw vectors
    // (32× smaller state); the mirror computes the identical ADC scores
    // over earlier arrivals, so the full retrieval log hash-matches
    "emb_ann_pq_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val (cb, _) = llm.Similarity.anchorCodebook(Tables.embeddings(s, d),
          "vec_id", "embedding", dim = 64, nSub = 8, codesPerSub = 16)
        streaming.Replay.replay(s, Tables.embeddings(s, d), "vec_id", 1000,
          "append")(sdf => streaming.AnnStream.pqAnnStream(sdf, "vec_id", "embedding",
            codebook = cb, codesPerSub = 16))
      }
    }),
    // ... bucket-sharded PQ twin: byte-packed-code state per LSH shard,
    // probe rows carry the arrival's ADC LUT — same mirror as the
    // pq monolith above (disjoint per-bucket candidates, exact merge)
    "emb_ann_pq_sharded_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val (cb, _) = llm.Similarity.anchorCodebook(Tables.embeddings(s, d),
          "vec_id", "embedding", dim = 64, nSub = 8, codesPerSub = 16)
        val hits = streaming.Replay.replay(s, Tables.embeddings(s, d),
          "vec_id", 1000, "append")(sdf =>
          streaming.AnnStream.shardedLshBucketHits(sdf, "vec_id", "embedding",
            codebook = Some((cb, 16))))
        streaming.Replay.replay(s, hits, "query_id", 1 << 20,
          "append")(sdf => streaming.AnnStream.annMergeStage(sdf, nProbe = 9))
      }
    }),
    // CELL-BUCKETED streaming IVF-PQ (the composed streaming ANN shape):
    // same id-ordered feed, but the state is bucketed by IVF cell — each
    // arrival probes only its nProbe=4 nearest anchor cells' code lists
    // (nProbe/nCells of the corpus) and scores them with the PQ ADC fold.
    // The mirror is the batch ivfPq mirror with every vector as a query
    // and candidates restricted to earlier arrivals, so the full
    // retrieval log hash-matches.
    "emb_ann_ivfpq_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val emb = Tables.embeddings(s, d)
        val cent = llm.Similarity.anchorCentroids(emb, "vec_id", "embedding",
          dim = 64, nCells = 16)
        val (cb, _) = llm.Similarity.anchorCodebook(emb, "vec_id", "embedding",
          dim = 64, nSub = 8, codesPerSub = 16)
        streaming.Replay.replay(s, emb, "vec_id", 1000,
          "append")(sdf => streaming.AnnStream.ivfPqAnnStream(sdf, "vec_id",
            "embedding", centroids = cent, codebook = cb, codesPerSub = 16,
            nProbe = 4))
      }
    }),
    // ... and the CELL-SHARDED two-stage form (the scale-out twin: per-
    // cell probe scoring in stage A keyed by IVF cell, query-keyed
    // top-k merge in stage B, bridged by a replayable hit log exactly
    // like doc_dup_spans_sharded_stream_replay) — same config, same
    // DuckDB mirror as the monolith row
    "emb_ann_ivfpq_sharded_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val emb = Tables.embeddings(s, d)
        val cent = llm.Similarity.anchorCentroids(emb, "vec_id", "embedding",
          dim = 64, nCells = 16)
        val (cb, _) = llm.Similarity.anchorCodebook(emb, "vec_id", "embedding",
          dim = 64, nSub = 8, codesPerSub = 16)
        val hits = streaming.Replay.replay(s, emb, "vec_id", 1000,
          "append")(sdf => streaming.AnnStream.shardedIvfPqCellHits(sdf,
            "vec_id", "embedding", centroids = cent, codebook = cb,
            codesPerSub = 16, nProbe = 4))
        streaming.Replay.replay(s, hits, "query_id", 1 << 20,
          "append")(sdf => streaming.AnnStream.annMergeStage(sdf, nProbe = 4))
      }
    }),
    // ... and its RESIDUAL form: state codes are v − centroid(own cell),
    // scored with the per-cell norm-correction tables — the streaming
    // analog of emb_ann_ivfpq_residual, same deployed-literal contract
    "emb_ann_ivfpq_residual_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val emb = Tables.embeddings(s, d)
        val model = llm.Similarity.residualPqModel(emb, "vec_id", "embedding",
          dim = 64, nCells = 16, nSub = 8, codesPerSub = 16)
        streaming.Replay.replay(s, emb, "vec_id", 1000,
          "append")(sdf => streaming.AnnStream.ivfPqAnnStream(sdf, "vec_id",
            "embedding",
            centroids = model.cells.map { case (cell, c, _, _) => (cell, c) },
            codebook = model.codebook, codesPerSub = 16,
            nProbe = 4, residual = true))
      }
    }),
    // STREAMING fuzzy-contamination detection: train docs replayed
    // through the STREAM-STATIC join against the pre-banded eval index
    // (FuzzyDecontamStream) — the full contamination log must equal the
    // batch cross-pairs relation (caps unbound at this geometry, where
    // the eval-side-only online cap and the batch combined cap admit
    // identical bucket sets)
    "doc_fuzzy_pairs_stream_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // Stats form: the persisted eval index is released once the replay
      // has drained (the sink table is materialized by then)
      var cs: streaming.FuzzyDecontamStream.ContaminationStream = null
      try
        streaming.Replay.replay(s, docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", 100, "append") { sdf =>
          cs = streaming.FuzzyDecontamStream.contaminationLogStatsMd5(sdf,
            docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
          cs.log
        }
      finally if (cs != null) cs.unpersist()
    }),
    // ... and the CAP-BINDING geometry twin of doc_fuzzy_pairs_capped_md5:
    // same coarse banding (1-gram, 2×1, maxBucket=40), but the online
    // operator can only cap the static EVAL side (the stream side's
    // occupancy is unknowable online) — here the eval cap drops ONE
    // bucket (41 eval members > 40) while the batch twin's combined cap
    // drops four, so the two logs differ by design; this row pins the
    // eval-side-only policy against its own DuckDB mirror
    "doc_fuzzy_pairs_capped_stream_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      var cs: streaming.FuzzyDecontamStream.ContaminationStream = null
      try
        streaming.Replay.replay(s, docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", 100, "append") { sdf =>
          cs = streaming.FuzzyDecontamStream.contaminationLogStatsMd5(sdf,
            docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
            shingleN = 1, bands = 2, rowsPerBand = 1, threshold = 0.1,
            maxBucket = 40)
          cs.log
        }
      finally if (cs != null) cs.unpersist()
    }),
    // ... and the same residual stream through the mid-replay KILL +
    // RESTART harness: the cell→id-list and id→codes MapStates must
    // restore from the checkpoint such that the accumulated retrieval
    // log equals the uninterrupted replay's (shared oracle)
    "emb_ann_ivfpq_residual_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val emb = Tables.embeddings(s, d)
        val model = llm.Similarity.residualPqModel(emb, "vec_id", "embedding",
          dim = 64, nCells = 16, nSub = 8, codesPerSub = 16)
        streaming.Replay.replayWithRestart(s, emb, "vec_id", 1000)(sdf =>
          streaming.AnnStream.ivfPqAnnStream(sdf, "vec_id", "embedding",
            centroids = model.cells.map { case (cell, c, _, _) => (cell, c) },
            codebook = model.codebook, codesPerSub = 16,
            nProbe = 4, residual = true))
      }
    }),
    // ... and the embedding stream's final CLUSTER STRUCTURE (the vector
    // analog of doc_neardup_clusters_stream_replay): every drop row is a
    // union-find edge (vec → root at emission time); connected components
    // over those edges — later demotions connect superseded roots onward
    // — must equal the recursive-CTE closure over the emb_neardup_pairs
    // relation, min label per component.
    "emb_neardup_clusters_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val log = streaming.Replay.replay(s, Tables.embeddings(s, d), "vec_id", 1000,
          "update")(sdf => streaming.NearDupStream.embNearDupStream(sdf, "vec_id",
            "embedding", threshold = 0.4, groups = 8, planesPerGroup = 4))
        val edges = log.filter(col("change") === "drop")
          .select(col("vec_id").as("id_a"), col("canonical").as("id_b"))
        llm.TextDedup.nearDupClusters(edges).withColumnRenamed("id", "vec_id")
      }
    }),
    // STREAMING INCREMENTAL EMBEDDING NEAR-DUP DEDUP — the vector twin of
    // doc_neardup_stream_replay: replay the embeddings table in vec_id
    // order through NearDupStream.embNearDupStream (banded hyperplane LSH
    // index + exact-cosine verify + min-rooted union-find, same change
    // log); final survivors (latest change == "keep") must hash-match the
    // recursive-CTE closure over the SAME pair relation the
    // emb_neardup_pairs oracle checks (groups=8, planesPerGroup=4,
    // threshold=0.4 — the low-similarity configuration this corpus
    // needs, see emb_neardup_pairs).
    "emb_neardup_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val emb = Tables.embeddings(s, d)
        val log = streaming.Replay.replay(s, emb, "vec_id", 1000, "update")(sdf =>
          streaming.NearDupStream.embNearDupStream(sdf, "vec_id", "embedding",
            threshold = 0.4, groups = 8, planesPerGroup = 4))
        log.groupBy(col("vec_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
          .select("vec_id")
      }
    }),
    "doc_neardup_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) { // transformWithState backend
        val docs = Tables.documents(s, d)
        val log = streaming.Replay.replay(s, docs, "doc_id", 1000, "update")(sdf =>
          streaming.NearDupStream.nearDupStreamMd5(sdf, "doc_id", "text"))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      }
    }),
    // CHECKPOINT-RESTART for the streaming near-dup operator (the
    // ever_restart_stream_replay pattern applied to the round's
    // centerpiece): the replay is killed at the halfway chunk boundary
    // and restarted from its checkpoint — offset recovery plus RocksDB
    // restore of ALL FOUR states (band index with inlined
    // single-component summaries, payload store, union-find forest, seq
    // counter) — and the accumulated change log must still reduce to the
    // batch survivor set (same closure oracle as the uninterrupted row).
    "doc_neardup_restart_stream_replay" -> ((s, d) => {
      streaming.UniqueStreams.withRocksDBStateStore(s) {
        val docs = Tables.documents(s, d)
        val log = streaming.Replay.replayWithRestart(s, docs, "doc_id", 100)(sdf =>
          streaming.NearDupStream.nearDupStreamMd5(sdf, "doc_id", "text"))
        val kept = log.groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      }
    }),
    "externaltimebatch_timeout_replay" -> ((s, d) => {
      val events = ev(s, d)
      val tagged = events
        .withColumn("__ord", col("event_id") * 2)
        .withColumn("__flush", lit(false))
      val markers = events
        .withColumn("__rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("event_id"))))
        .filter(col("__rnk") % 2500 === 0)
        .select((events.columns.map(c =>
          if (c == "event_id") col(c)
          else lit(null).cast(events.schema(c).dataType).as(c))
          :+ (col("event_id") * 2 + 1).as("__ord") :+ lit(true).as("__flush")): _*)
      streaming.Replay.replay(s, tagged.unionByName(markers), "__ord", 2000, "update")(sdf =>
        streaming.UniqueStreams.externalTimeBatchStream(sdf, Seq("user_id"), "__ord",
          "ts", H6, timeOutMs = 0L, startMs = Some(0L), flushMarkerCol = Some("__flush")))
        .drop("__ord", "__flush")
    }),
  )

  /** Production variants benchmarked but NOT oracle-checked: DuckDB cannot
    * compute xxhash64, so their verification is carried by (a) the
    * hash-checked md5-family twins above — same pipeline, same semantics,
    * different base hash — and (b) the sbt recall/ground-truth suites
    * (LlmOpsSpec). Kept out of `queries` so CORRECTNESS reports contain no
    * unverifiable rows; Bench runs `queries ++ benchQueries` minus the
    * `_md5`/`_replay` verification mirrors.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_minhash_pairs" -> ((s, d) =>
      llm.TextDedup.minhashPairs(Tables.documents(s, d), "text", "doc_id",
        threshold = 0.2)),
    // production edit-distance dedup: native xxhash64 char-shingle
    // banding end-to-end + thresholded-lev verify + CC (the md5 twin
    // carries the oracle check)
    "doc_editdist_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.dedupByPairs(docs, "doc_id",
        llm.TextDedup.editDistancePairs(docs, "text", "doc_id",
          maxDist = 5, shingleN = 5, bands = 8, rowsPerBand = 4)
          .select("id_a", "id_b"))
    }),
    // production CHARACTER-level cross-corpus decontamination: xxhash64
    // char-shingle banding, bipartite candidates, thresholded-lev
    // verify, anti-join (doc_editdist_decontam_md5 carries the oracle)
    "doc_editdist_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.editDecontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        maxDist = 5, shingleN = 5, bands = 8, rowsPerBand = 4)
        .select("doc_id")
    }),
    // production quality classifier: xxhash64 bucketing, finer feature
    // space (4 hex chars), full train → score with the double log-odds
    // (doc_quality_clf_md5 carries the integer-surface oracle)
    "doc_quality_clf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.CorpusOps.qualityClfTrain(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text",
        gramNs = Seq(1, 2), hexChars = 4)
      llm.CorpusOps.qualityClfScore(docs, "doc_id", "text", model)
    }),
    // production BM25: the full index → score → rank path with the
    // ln-idf fold and per-query window (doc_bm25_stats carries the
    // oracle check on the integer join surface; score/rank re-derived
    // in TextSearchSpec)
    "doc_bm25_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idx = llm.TextSearch.bm25Index(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      llm.TextSearch.bm25TopK(
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("query_id"), col("text")),
        "query_id", "text", idx, k = 10)
    }),
    // production DSIR: xxhash64 bucketing end-to-end, and the full
    // train → weigh → Gumbel-top-k selection (the md5 stats twin carries
    // the oracle check; selection determinism is spec-pinned)
    "doc_dsir_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = llm.CorpusOps.dsirTrain(
        docs.filter(col("doc_id") % 10 === 0), "text",
        docs.filter(col("doc_id") % 10 =!= 0), "text")
      llm.CorpusOps.dsirSelect(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", model,
        k = 100)
    }),
    "doc_simhash" -> ((s, d) =>
      llm.TextDedup.simhashDf(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),
    "doc_ngram_pairs" -> ((s, d) =>
      llm.TextDedup.ngramJaccardPairs(Tables.documents(s, d), "text", "doc_id",
        threshold = 0.1)),
    "doc_simhash_pairs" -> ((s, d) =>
      llm.TextDedup.simhashPairs(Tables.documents(s, d), "text", "doc_id")),
    // production CC clustering over the xxhash64 minhash pairs (the md5
    // twin carries the oracle check)
    "doc_neardup_clusters" -> ((s, d) =>
      llm.TextDedup.nearDupClusters(
        llm.TextDedup.minhashPairs(Tables.documents(s, d), "text", "doc_id",
          threshold = 0.2))),
    "doc_fingerprint" -> ((s, d) =>
      llm.TextAnalysis.fingerprint(Tables.documents(s, d), "text")
        .select("doc_id", "fp_min_gram", "fp_full")),
    // production line dedup: xxhash64 line keys (CCNet dedups on hashes)
    "doc_line_dedup_xx" -> ((s, d) =>
      llm.CorpusOps.lineDedup(
        llm.CorpusOps.withSyntheticLines(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", "lines_text", minDf = 3, hashedKeys = true)),
    // production span dedup: 8-byte xxhash64 gram keys in the shuffle
    // instead of gram strings (the `queries` twins carry the oracle)
    "doc_dup_spans_xx" -> ((s, d) =>
      llm.TextDedup.duplicateSpans(Tables.documents(s, d), "doc_id", "text",
        k = 5, minCount = 2, hashedKeys = true)),
    "doc_dup_span_removal_xx" -> ((s, d) =>
      llm.TextDedup.removeDuplicateSpans(Tables.documents(s, d), "doc_id", "text",
        k = 5, minCount = 2, hashedKeys = true)),
    // production fuzzy decontamination: xxhash64 shingles (the md5 twin
    // carries the oracle check)
    "doc_fuzzy_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      llm.TextDedup.fuzzyDecontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        .select("doc_id")
    }),
    // production curation composition: the doc_curation_pipeline_md5
    // chain with xxhash64 fuzzy decontamination (the md5 twin carries
    // the end-to-end oracle check)
    "doc_curation_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val deduped = llm.TextDedup.exactDedup(docs, Seq("text"), "doc_id")
      val dec = llm.TextDedup.fuzzyDecontaminate(
        deduped.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      val capped = llm.CorpusOps.capPerGroup(dec, "source", "doc_id", 10)
      llm.CorpusOps.packSequences(capped, "doc_id", "text", "source", budget = 512)
    }),
    // production float-feature path (the `queries` entry is the
    // integer-lane checked twin); same key so the bench metric keeps
    // measuring the production shape across rounds
    "mm_features" -> ((s, d) =>
      llm.Multimodal.extractFeatures(
        llm.Multimodal.withSyntheticMedia(Tables.documents(s, d), "doc_id", "text"),
        "doc_id")),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  def oracleSql: Map[String, String] = {
    import UniqueOracles._
    val user = Seq("user_id")
    Map(
      "ever_current" -> everSql(user, "current"),
      "ever_expired" -> everSql(user, "expired"),
      "ever_multikey" -> everSql(Seq("user_id", "event_type"), "current"),
      "ever_all" -> everSql(user, "all"),
      "first_current" -> firstSql(user),
      "time_current" -> timeSql(user, WEEK, "current"),
      "time_expired" -> timeSql(user, WEEK, "expired"),
      // timeBatch/firstTimeBatch anchor the epoch grid (start 0);
      // externalTimeBatch anchors at min(ts) (start None)
      "timebatch_current" ->
        timeBatchSql(user, DAY, Some(0L), keepFirst = false, replaceTs = false, "current"),
      "timebatch_expired" ->
        timeBatchSql(user, DAY, Some(0L), keepFirst = false, replaceTs = false, "expired"),
      "firsttimebatch_current" ->
        timeBatchSql(user, DAY, Some(0L), keepFirst = true, replaceTs = false, "current"),
      "firsttimebatch_expired" ->
        timeBatchSql(user, DAY, Some(0L), keepFirst = true, replaceTs = false, "expired"),
      "externaltimebatch_current" ->
        timeBatchSql(user, H6, None, keepFirst = false, replaceTs = false, "current"),
      "externaltimebatch_replacets" ->
        timeBatchSql(user, H6, None, keepFirst = false, replaceTs = true, "current"),
      "externaltimebatch_expired" ->
        timeBatchSql(user, H6, None, keepFirst = false, replaceTs = false, "expired"),
      "length_current" -> lengthSql(user, 100, "current"),
      "length_expired" -> lengthSql(user, 100, "expired"),
      "lengthbatch_current" -> lengthBatchSql(user, 40, latest = true, expiredOnly = false),
      "lengthbatch_expired" -> lengthBatchSql(user, 40, latest = true, expiredOnly = true),
      "firstlengthbatch_current" -> lengthBatchSql(user, 40, latest = false, expiredOnly = false),
      "firstlengthbatch_expired" -> lengthBatchSql(user, 40, latest = false, expiredOnly = true),
      "timelengthbatch_current" -> timeLengthBatchSql(user, DAY, 50, "current"),
      "timelengthbatch_expired" -> timeLengthBatchSql(user, DAY, 50, "expired"),
      "deduplicate" -> deduplicateSql(user, DAY),
      "deduplicate_salted" -> deduplicateSql(user, DAY),
      "join_windows" ->
        """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice, o.o_orderdate FROM (
          |  SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
          |    FROM orders) WHERE rn = 1) o
          |JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,
      "agg_over_window" ->
        s"""SELECT event_type, count(*) AS cnt, min(value) AS min_value,
           |  max(value) AS max_value, CAST(sum(event_id) AS BIGINT) AS sum_seq
           |FROM (${everSql(user, "current")}) GROUP BY event_type""".stripMargin,
      "window_star_agg" ->
        """SELECT r_name, count(*) AS cnt, min(o_totalprice) AS min_price,
          |  max(o_totalprice) AS max_price
          |FROM (SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
          |    FROM orders) WHERE rn = 1) o
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |JOIN nation n ON c.c_nationkey = n.n_nationkey
          |JOIN region r ON n.n_regionkey = r.r_regionkey
          |GROUP BY r_name""".stripMargin,
      "doc_exact_dedup" ->
        """SELECT doc_id, text, lang, source, n_chars FROM (
          |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          |  FROM documents) WHERE rn = 1""".stripMargin,
      // firstStream keyed on text, fed in doc_id order = exactDedup
      "doc_exact_dedup_stream_replay" ->
        """SELECT doc_id, text, lang, source, n_chars FROM (
          |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          |  FROM documents) WHERE rn = 1""".stripMargin,
      "doc_text_stats" ->
        """SELECT doc_id,
          |  CAST(len(list_filter(str_split(text, ' '), x -> x <> '')) AS INTEGER) AS ws_tokens,
          |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS bpeish_tokens
          |FROM documents""".stripMargin,
      "doc_quality" -> docQualityOracle,
      "doc_langid" -> docLangIdOracle,
      "doc_lm_ppl" -> docLmPplOracle,
      "doc_lm_ppl_stream_replay" -> docLmPplOracle,
      "doc_lm_ppl_windowed_stream_replay" -> docLmPplOracle,
      "doc_dsir_windowed_stream_replay" -> docDsirOracle,
      "doc_dsir_windowed_restart_stream_replay" -> docDsirOracle,
      "doc_bm25_windowed_stream_replay" -> docBm25Oracle,
      "doc_quality_clf_md5" -> docQualityClfOracle,
      "doc_quality_clf_stream_replay" -> docQualityClfOracle,
      "doc_dsir_md5" -> docDsirOracle,
      "doc_dsir_stream_replay" -> docDsirOracle,
      "doc_bm25_stats" -> docBm25Oracle,
      "doc_bm25_stream_replay" -> docBm25Oracle,
      "doc_bm25_index_stream_replay" -> docBm25IngestOracle,
      "doc_bm25_index_restart_stream_replay" -> docBm25IngestOracle,
      "doc_bm25_restart_stream_replay" -> docBm25Oracle,
      // ---- corpus-curation tier mirrors (llm.CorpusOps). Tokenization =
      // the established str_split_regex idiom; word n-grams via 1-based
      // inclusive list slices; ratios are single double divisions of
      // integer counts so values are bit-exact across engines.
      "doc_repetition" ->
        """WITH t AS (SELECT doc_id,
          |  list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '') AS toks
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
          |LEFT JOIN g ON b.doc_id = g.doc_id""".stripMargin,
      "doc_boilerplate_phrases" ->
        """WITH t AS (SELECT doc_id,
          |  list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '') AS toks
          |  FROM documents),
          |g AS (SELECT doc_id, unnest(list_transform(
          |    generate_series(1, greatest(len(toks) - 2, 0)),
          |    i -> array_to_string(toks[i:i+2], ' '))) AS gram FROM t)
          |SELECT gram, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_cnt
          |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 5""".stripMargin,
      "doc_decontam" ->
        """WITH t AS (SELECT doc_id,
          |  list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '') AS toks
          |  FROM documents),
          |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
          |    generate_series(1, greatest(len(toks) - 4, 0)),
          |    i -> array_to_string(toks[i:i+4], ' ')))) AS gram FROM t),
          |e AS (SELECT DISTINCT gram, doc_id AS eval_id FROM g WHERE doc_id % 50 = 0),
          |h AS (SELECT g.doc_id,
          |    count(DISTINCT g.gram) AS n_hit_grams,
          |    count(DISTINCT e.eval_id) AS n_eval_docs
          |  FROM g JOIN e USING (gram) WHERE g.doc_id % 50 <> 0 GROUP BY g.doc_id)
          |SELECT d.doc_id,
          |  coalesce(n_hit_grams, 0) AS n_hit_grams,
          |  coalesce(n_eval_docs, 0) AS n_eval_docs,
          |  coalesce(n_hit_grams, 0) > 0 AS contaminated
          |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
          |WHERE d.doc_id % 50 <> 0""".stripMargin,
      "doc_pack" -> docPackOracle,
      "doc_pack_stream_replay" -> docPackOracle,
      // the four-stage curation chain, mirrored end to end (each stage
      // consumes the previous stage's output)
      "doc_curation_pipeline_md5" -> docCurationPipelineOracle,
      "mm_curation_pipeline_md5" -> mmCurationPipelineOracle,
      "doc_sample_md5" ->
        """SELECT doc_id, text, lang, source, n_chars FROM documents
          |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 4) <
          |  CASE WHEN lang = 'en' THEN '1999' ELSE '3333' END""".stripMargin,
      // dropped-line relation (and its streaming replay): 0-based (doc,
      // pos) of every line appearing in >= 3 distinct docs
      "doc_dup_lines" -> docDupLinesOracle,
      "doc_dup_lines_stream_replay" -> docDupLinesOracle,
      "doc_dup_lines_sharded_stream_replay" -> docDupLinesOracle,
      // CCNet-style line dedup over the synthetic-lines corpus: drop lines
      // appearing in >= 3 distinct docs; mirror reproduces the
      // withSyntheticLines framing (header rotation + shared footer)
      "doc_line_dedup" ->
        """WITH t AS (SELECT doc_id,
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
          |l AS (SELECT doc_id, j, ls[j] AS line FROM s, unnest(generate_series(1, len(ls))) AS u(j)),
          |dup AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
          |dr AS (SELECT doc_id, count(*) AS n_dropped FROM l
          |       WHERE line IN (SELECT line FROM dup) GROUP BY doc_id),
          |kt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY j) AS clean_text FROM l
          |       WHERE line NOT IN (SELECT line FROM dup) GROUP BY doc_id)
          |SELECT s.doc_id, len(s.ls) AS n_lines, coalesce(dr.n_dropped, 0) AS n_dropped,
          |  coalesce(kt.clean_text, '') AS clean_text
          |FROM s LEFT JOIN dr ON s.doc_id = dr.doc_id
          |       LEFT JOIN kt ON s.doc_id = kt.doc_id""".stripMargin,
      // k=5 duplicated-span detection: every 5-token window occurring >=2
      // times corpus-wide, overlapping windows merged per doc
      // (gaps-and-islands on a running max of inclusive span ends).
      // The streaming replay's final (max-upd_seq) spans share the oracle.
      "doc_dup_spans" -> docDupSpansOracle,
      "doc_dup_spans_stream_replay" -> docDupSpansOracle,
      "doc_dup_spans_sharded_stream_replay" -> docDupSpansOracle,
      "doc_dup_span_removal" ->
        """WITH t AS (SELECT doc_id,
          |  list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '') AS toks
          |  FROM documents),
          |g AS (SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS gram
          |      FROM t, unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS u(i)),
          |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
          |h AS (SELECT doc_id, i - 1 AS s, i + 3 AS e FROM g
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
          |       LEFT JOIN ktxt ON t.doc_id = ktxt.doc_id""".stripMargin,
      "doc_pii_redact" ->
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
          |FROM p""".stripMargin,
      "doc_minhash_pairs_md5" -> docMinhashMd5Oracle,
      "doc_fuzzy_pairs_md5" -> docFuzzyPairsOracle,
      "doc_fuzzy_decontam_md5" -> docFuzzyDecontamOracle,
      // stream-static replay shares the batch cross-pairs mirror: with
      // neither cap binding (50 eval docs, cap 1000) the admitted bucket
      // sets coincide, and the replay feeds every train doc
      "doc_fuzzy_pairs_stream_replay" -> docFuzzyPairsOracle,
      // cap-BINDING geometry: the two cap policies diverge by design, so
      // each row gets its OWN mirror — combined-occupancy (batch) vs
      // eval-side-only (stream)
      "doc_fuzzy_pairs_capped_md5" -> docFuzzyCappedOracle(evalSideOnly = false),
      "doc_fuzzy_pairs_capped_stream_replay" -> docFuzzyCappedOracle(evalSideOnly = true),
      "doc_source_cap" ->
        """SELECT doc_id, source FROM (
          |  SELECT doc_id, source,
          |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
          |  FROM documents) WHERE rk <= 10""".stripMargin,
      // token-budget mixing: the per-source running-sum cut, greedy fill
      // (the crossing doc is admitted); all three rows share it
      "doc_token_mix" -> docTokenMixOracle,
      "doc_token_mix_segmented" -> docTokenMixOracle,
      "doc_token_mix_stream_replay" -> docTokenMixOracle,
      "doc_token_mix_restart_stream_replay" -> docTokenMixOracle,
      // ordered-feed admissions equal the batch cap, so both stream rows
      // share the batch mirror
      "doc_source_cap_stream_replay" ->
        """SELECT doc_id, source FROM (
          |  SELECT doc_id, source,
          |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
          |  FROM documents) WHERE rk <= 10""".stripMargin,
      "doc_source_cap_restart_stream_replay" ->
        """SELECT doc_id, source FROM (
          |  SELECT doc_id, source,
          |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
          |  FROM documents) WHERE rk <= 10""".stripMargin,
      // exact heavy hitters: the strict w*(k+1) > W threshold in integer
      // arithmetic on both engines (no float share in the contract)
      "doc_heavy_hitters" ->
        """WITH t AS (SELECT lang AS key, CAST(1 AS BIGINT) AS w FROM documents),
          |a AS (SELECT key, CAST(sum(w) AS BIGINT) AS w FROM t GROUP BY key),
          |tot AS (SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS total_w FROM t)
          |SELECT a.key, a.w, tot.total_w FROM a, tot
          |WHERE a.w * 7 > tot.total_w""".stripMargin,
      "doc_heavy_hitters_weighted" ->
        """WITH t AS (SELECT source AS key,
          |    CAST(coalesce(n_chars, 0) AS BIGINT) AS w FROM documents),
          |a AS (SELECT key, CAST(sum(w) AS BIGINT) AS w FROM t GROUP BY key),
          |tot AS (SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS total_w FROM t)
          |SELECT a.key, a.w, tot.total_w FROM a, tot
          |WHERE a.w * 20 > tot.total_w""".stripMargin,
      // hot-key alerts: the first running-sum crossing per key (ordered
      // feed == the batch window computation; the batch twin and both
      // stream rows share it)
      "doc_hot_keys" -> docHotKeysOracle,
      "doc_hot_keys_stream_replay" -> docHotKeysOracle,
      "doc_hot_keys_restart_stream_replay" -> docHotKeysOracle,
      "doc_neardup_clusters_md5" -> docNeardupClustersOracle,
      "doc_neardup_dedup_md5" -> docNeardupDedupOracle,
      "doc_editdist_pairs_md5" -> docEditPairsOracle,
      "doc_editdist_dedup_md5" -> docEditDedupOracle,
      "doc_editdist_decontam_md5" -> docEditDecontamOracle,
      // the stream converges to the same min-id CC survivor set
      "doc_editdist_stream_replay" -> docEditDedupOracle,
      "doc_editdist_restart_stream_replay" -> docEditDedupOracle,
      "doc_editdist_sharded_stream_replay" -> docEditDedupOracle,
      // the streaming operator's final survivors = the batch CC survivors
      "doc_neardup_stream_replay" -> docNeardupDedupOracle,
      "doc_neardup_restart_stream_replay" -> docNeardupDedupOracle,
      // ... and its emitted union-find edges reproduce the batch clusters
      "doc_neardup_clusters_stream_replay" -> docNeardupClustersOracle,
      "doc_simhash_md5" -> docSimhashMd5Oracle,
      "doc_ngram_pairs_md5" -> docNgramMd5Oracle,
      "doc_simhash_pairs_md5" -> docSimhashPairsMd5Oracle,
      "emb_ann_lsh" -> embAnnOracle,
      "emb_ann_ivf" -> embIvfOracle,
      "emb_ann_pq" -> embPqOracle,
      "emb_ann_pq_trained" -> embPqOracleSql(lloydIters = 1),
      "emb_ann_ivfpq" -> embIvfPqOracle,
      "emb_ann_ivfpq_residual" -> embIvfPqResidualOracle,
      "emb_neardup_pairs" -> embNearDupOracle,
      // batch clusters/dedup share the stream rows' closure oracles: the
      // batch CC and the streaming union-find must reduce to the same sets
      "emb_neardup_clusters" -> embNearDupClustersOracle,
      "emb_neardup_dedup" -> embNearDupStreamOracle,
      "emb_semdedup" -> embSemDedupOracle,
      "emb_semdedup_capped" -> embSemDedupCappedOracle,
      "emb_semdedup_dropped_cells" -> embSemDedupDroppedCellsOracle,
      // the streaming twin converges to the batch survivor set (same
      // centroid chain, same ε-relation, same keep policy), so all three
      // stream rows share the batch mirrors
      "emb_semdedup_stream_replay" -> embSemDedupOracle,
      "emb_semdedup_capped_stream_replay" -> embSemDedupCappedOracle,
      "emb_semdedup_restart_stream_replay" -> embSemDedupOracle,
      "emb_neardup_stream_replay" -> embNearDupStreamOracle,
      "emb_neardup_clusters_stream_replay" -> embNearDupClustersOracle,
      "emb_ann_stream_replay" -> embAnnStreamOracle,
      "emb_ann_sharded_lsh_stream_replay" -> embAnnStreamOracle,
      "emb_ann_sharded_lsh_restart_stream_replay" -> embAnnStreamOracle,
      "emb_ann_pq_stream_replay" -> embPqStreamOracle,
      "emb_ann_pq_sharded_stream_replay" -> embPqStreamOracle,
      "emb_ann_ivfpq_stream_replay" -> embIvfPqStreamOracle,
      // the cell-sharded two-stage bridge computes the same retrieval
      // log as the monolith, so it shares the monolith's mirror
      "emb_ann_ivfpq_sharded_stream_replay" -> embIvfPqStreamOracle,
      "emb_ann_ivfpq_residual_stream_replay" -> embIvfPqResidualStreamOracle,
      "emb_ann_ivfpq_residual_restart_stream_replay" -> embIvfPqResidualStreamOracle,
      "mm_features" -> mmFeaturesOracle,
      "doc_bpe_encode" -> docBpeEncodeOracle,
      "doc_bpe_encode_dist" -> docBpeEncodeDistOracle,
      "doc_bpe_encode_bytes" -> docBpeEncodeBytesOracle,
      "doc_bpe_train_bytes" ->
        docBpeEncodeDistOracleFor(64, 240, 12, 120, byteLevel = true),
      "doc_token_mix_bpe" -> docTokenMixBpeOracle,
      "mm_phash" -> mmPhashOracle,
      "mm_ahash" -> mmAhashOracle,
      "mm_audio_hash" -> mmAudioHashOracle,
      "mm_audio_neardup_pairs" -> mmAudioPairsOracle,
      "mm_audio_dedup" -> mmAudioDedupOracle,
      "mm_image_neardup_pairs" -> mmImagePairsOracle,
      "mm_image_dedup" -> mmImageDedupOracle,
      "mm_image_dedup_stream_replay" -> mmImageDedupOracle,
      "mm_image_semdedup" -> mmImageSemDedupOracle,
      "mm_image_tile_hash" -> mmImageTileHashOracle,
      "mm_image_crop_pairs" -> mmImageCropPairsOracle,
      "mm_image_crop_dedup" -> mmImageCropDedupOracle,
      "mm_image_crop_dedup_stream_replay" -> mmImageCropDedupOracle,
      "mm_image_crop_dedup_restart_stream_replay" -> mmImageCropDedupOracle,
      "mm_video_hash" -> mmVideoHashOracle,
      "mm_video_dedup_stream_replay" -> mmVideoDedupOracle,
      "mm_video_dedup_restart_stream_replay" -> mmVideoDedupOracle,
      "mm_video_neardup_pairs" -> mmVideoPairsOracle,
      "mm_video_dedup" -> mmVideoDedupOracle,
      "mm_audio_seg_hash" -> mmAudioSegHashOracle,
      "mm_audio_offset_pairs" -> mmAudioOffsetPairsOracle,
      "mm_audio_offset_pairs_capped" -> mmAudioOffsetPairsCappedOracle,
      "mm_audio_seg_dropped_buckets" -> mmAudioSegDroppedOracle,
      "mm_audio_seg_dedup" -> mmAudioSegDedupOracle,
      "mm_audio_seg_dedup_stream_replay" -> mmAudioSegDedupOracle,
      "mm_audio_seg_dedup_restart_stream_replay" -> mmAudioSegDedupOracle,
      "mm_audio_dedup_stream_replay" -> mmAudioDedupOracle,
      "mm_audio_dedup_restart_stream_replay" -> mmAudioDedupOracle,
      // solid-color resize round-trip: target dims, one color, the color
      "mm_resize" ->
        """SELECT doc_id, 16::BIGINT AS out_w, 16::BIGINT AS out_h,
          |  1::BIGINT AS n_colors,
          |  (doc_id % 256)::BIGINT AS r0,
          |  ((doc_id * 7) % 256)::BIGINT AS g0,
          |  ((doc_id * 13) % 256)::BIGINT AS b0
          |FROM documents""".stripMargin,
      // inclusive stepped frame grid per doc: 0, 7, 14, … ≤ doc_id % 40
      // (list-valued range + unnest — the table-function form rejects
      // lateral column arguments)
      "mm_frames" ->
        """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx FROM (
          |  SELECT doc_id, unnest(range(0, (doc_id % 40) + 1, 7)) AS f FROM documents)""".stripMargin,
      // streaming replays verify against the batch twins' semantics:
      // everStream's accumulated CHANGE LOG holds every event once as
      // 'insert' plus every replaced event again as 'expire' (the batch
      // ever_current/ever_expired split, log-shaped); lengthBatchStream's
      // inserts are exactly the flushed batches; timeBatchStream's append
      // output is every CLOSED window, i.e. timebatch_expired's row set.
      "ever_stream_replay" -> everStreamSql(user),
      "ever_multikey_stream_replay" -> everStreamSql(Seq("user_id", "event_type")),
      "ever_tws_stream_replay" -> everStreamSql(user),
      // restarted replay == uninterrupted replay (checkpoint recovery)
      "ever_restart_stream_replay" -> everStreamSql(user),
      // everStreamTtl change log: every event 'insert'; a replaced row
      // 'expire' iff its key SURVIVED to the replacement — i.e. the
      // chunk-boundary watermark before the successor's chunk (the ts at
      // rank (chunk//500)*500; no-data micro-batches apply it) had not
      // passed ts+ttl. Silently evicted keys emit nothing.
      "ever_ttl_stream_replay" ->
        s"""WITH r AS (SELECT *, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
           |    row_number() OVER (ORDER BY event_id) AS rn FROM events),
           |nxt AS (SELECT *, lead(rn) OVER (PARTITION BY user_id ORDER BY event_id) AS rn2 FROM r),
           |exp AS (SELECT nxt.event_id FROM nxt
           |  LEFT JOIN r wb ON wb.rn = ((nxt.rn2 - 1) // 500) * 500
           |  WHERE nxt.rn2 IS NOT NULL AND (wb.ms IS NULL OR wb.ms <= nxt.ms + $H12))
           |SELECT $EVSQL, 'insert' AS change FROM events
           |UNION ALL
           |SELECT $EVSQL, 'expire' AS change FROM events
           |WHERE event_id IN (SELECT event_id FROM exp)""".stripMargin,
      // full change log: every flushed batch 'insert'; every flushed batch
      // with a successor re-emitted 'expire' at the next flush
      "lengthbatch_stream_replay" -> lengthBatchStreamSql(user, 40, latest = true),
      "timebatch_stream_replay" ->
        timeBatchSql(user, DAY, Some(0L), keepFirst = false, replaceTs = false, "expired"),
      // bounded-disorder feed, same closed-window semantics → same oracle
      "timebatch_ooo_stream_replay" ->
        timeBatchSql(user, DAY, Some(0L), keepFirst = false, replaceTs = false, "expired"),
      "firstlengthbatch_stream_replay" -> lengthBatchStreamSql(user, 40, latest = false),
      // append output = closed windows only (the last window is still open)
      "firsttimebatch_stream_replay" ->
        timeBatchSql(user, DAY, Some(0L), keepFirst = true, replaceTs = false, "expired"),
      // firstStream emits exactly the first-per-key rows (state = seen flag)
      "first_stream_replay" -> firstSql(user),
      // Bloom-backed approximate first, generously sized: exact at gate
      // scales (deterministic seeds), so it shares the exact oracle
      "first_bloom_stream_replay" -> firstSql(user),
      // lengthStream's accumulated log: every event 'insert' once; every
      // event that left the window (replaced or LRU-evicted) 'expire' once
      // — i.e. everything outside the final window (= length_current).
      "length_stream_replay" -> lengthStreamSql(user, 100),
      // timeStream's log: every event 'insert'; every replaced event
      // 'expire' (exactly once — replacement or prior eviction); plus the
      // latest-per-key rows whose event-time timeout (ts + window) fired,
      // i.e. STRICTLY before the final watermark = max event-time ms
      // (FlatMapGroupsWithStateExec fires timeouts with
      // timeoutTimestamp < eviction watermark; the post-data no-data
      // micro-batch applies the last watermark).
      "time_stream_replay" -> timeStreamSql(user, WEEK),
      // deduplicateStreamExact matches the batch fold bit-for-bit
      "deduplicate_stream_replay" -> deduplicateSql(user, DAY),
      "deduplicate_bloom_stream_replay" -> deduplicateBloomSql(user, DAY),
      // timeLengthBatchStream emits a batch when a later event crosses its
      // time boundary (any batch before the last) or when the 50th distinct
      // key length-flushes it — the final batch appears iff length-flushed.
      // Full change log: every flushed batch 'insert'; every flushed batch
      // except the LAST FLUSHED re-emitted 'expire' (with its own
      // batch_start_ms) when the next flush happens.
      "timelengthbatch_stream_replay" -> tlbStreamSql(user, DAY, 50),
      // pure time batches (n unreachable), keepFirst: flushed = every
      // non-empty batch before the last (the final batch never flushes —
      // nothing crosses its boundary); expire = flushed minus the last
      // flushed batch
      "firsttimebatch_changelog_stream_replay" ->
        tlbStreamSql(user, DAY, Int.MaxValue, keepFirst = true),
      // externalTimeBatchStream (no time.out): every non-final non-empty
      // batch closes when a later event crosses its end — exactly the
      // batch operator's expired set, tagged with the batch END time.
      "externaltimebatch_stream_replay" -> etbStreamSql(user, H6),
      // everStream(orders by custkey) ⨝ customer change log: every order
      // 'insert' once; every replaced order (non-latest per custkey at end
      // of stream) 'expire' once — each joined to its customer row
      "join_windows_stream_replay" ->
        """SELECT c_custkey, c_name, o_orderkey, o_totalprice, o_orderdate,
          |  'insert' AS change
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |UNION ALL
          |SELECT c_custkey, c_name, o_orderkey, o_totalprice, o_orderdate,
          |  'expire' AS change
          |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
          |        ORDER BY o_orderkey DESC) AS rn FROM orders)
          |JOIN customer ON o_custkey = c_custkey
          |WHERE rn > 1""".stripMargin,
      // two-window event-by-event join. A joined row emits on exactly one
      // side, decided by arrival order on the 2c / 2o+1 interleave: the
      // order side emits (o, c) when c arrived first (c_custkey <=
      // o_orderkey) and is still its nation's live window-B occupant at
      // o's arrival; the customer side emits when o arrived first
      // (o_orderkey < c_custkey) and is still its custkey's live window-A
      // occupant at c's arrival.
      "join_two_windows_stream_replay" ->
        """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name, c.c_nationkey
          |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
          |WHERE c.c_custkey <= o.o_orderkey
          |  AND NOT EXISTS (SELECT 1 FROM customer c2
          |    WHERE c2.c_nationkey = c.c_nationkey
          |      AND c2.c_custkey > c.c_custkey AND c2.c_custkey <= o.o_orderkey)
          |UNION ALL
          |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name, c.c_nationkey
          |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
          |WHERE o.o_orderkey < c.c_custkey
          |  AND NOT EXISTS (SELECT 1 FROM orders o2
          |    WHERE o2.o_custkey = o.o_custkey
          |      AND o2.o_orderkey > o.o_orderkey AND o2.o_orderkey < c.c_custkey)""".stripMargin,
      // marker-driven time.out replay. Emission model (matching the
      // reference's TIMER + boundary branches exactly):
      //  - marker after event c idle-flushes the open grid window w(c) =
      //    c's window: latest-per-key among w's events with event_id <= c;
      //    'timeout' for the window's first idle flush, 'append' after
      //    (the batch merged with rows already sent). Always dirty — the
      //    cutoff event c itself arrived since any previous emit.
      //  - a window w with later events beyond it closes: 'close' if never
      //    idle-flushed; 'append' (full merged batch) if idle-flushed AND
      //    events arrived after the last marker; NOTHING if all its rows
      //    were already sent (appendToOutputChunk's currentEvents>0 guard,
      //    UniqueExternalTimeBatchWindowProcessor.java:412).
      //  - the final window never closes (only marker emissions).
      "externaltimebatch_timeout_replay" ->
        s"""WITH evw AS (SELECT *, epoch_ms(ts) // $H6 AS w FROM events),
           |mk AS (SELECT event_id AS c, epoch_ms(ts) // $H6 AS w FROM events
           |       QUALIFY row_number() OVER (ORDER BY event_id) % 2500 = 0),
           |mk2 AS (SELECT c, w, c = min(c) OVER (PARTITION BY w) AS isf FROM mk),
           |me AS (SELECT m.c, CASE WHEN m.isf THEN 'timeout' ELSE 'append' END AS fk, e.*,
           |         row_number() OVER (PARTITION BY m.c, e.user_id ORDER BY e.event_id DESC) AS rn
           |       FROM mk2 m JOIN evw e ON e.w = m.w AND e.event_id <= m.c),
           |lastc AS (SELECT w, max(c) AS lc FROM mk GROUP BY w),
           |cl AS (SELECT wi.w, CASE WHEN l.lc IS NULL THEN 'close' ELSE 'append' END AS fk
           |       FROM (SELECT w, max(event_id) AS maxid FROM evw GROUP BY w) wi
           |       LEFT JOIN lastc l ON wi.w = l.w
           |       WHERE wi.w < (SELECT max(w) FROM evw)
           |         AND (l.lc IS NULL OR wi.maxid > l.lc)),
           |ce AS (SELECT c.fk, e.*,
           |         row_number() OVER (PARTITION BY e.w, e.user_id ORDER BY e.event_id DESC) AS rn
           |       FROM cl c JOIN evw e ON e.w = c.w)
           |SELECT $EVSQL, fk AS flush_kind, (w + 1) * $H6 AS batch_end_ms FROM me WHERE rn = 1
           |UNION ALL
           |SELECT $EVSQL, fk AS flush_kind, (w + 1) * $H6 AS batch_end_ms FROM ce WHERE rn = 1""".stripMargin,
      "doc_fingerprint_md5" ->
        """WITH t AS (SELECT doc_id,
          |  trim(regexp_replace(lower(text), '[^\p{L}\p{Nd}]+', ' ', 'g')) AS norm FROM documents)
          |SELECT doc_id,
          |  list_min(list_transform(generate_series(1, greatest(len(norm)-7, 1)),
          |    i -> md5(substr(norm, i, 8)))) AS fp_min_gram_md5,
          |  md5(norm) AS fp_full_md5
          |FROM t""".stripMargin,
      "emb_knn_brute" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
          |s AS (SELECT query_id, vec_id AS corpus_id,
          |        list_sum(list_transform(list_zip(qv, embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          |        / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * x)))
          |           * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))) AS sim
          |      FROM embeddings CROSS JOIN q WHERE vec_id <> query_id)
          |SELECT query_id, corpus_id,
          |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
          |FROM s QUALIFY rank <= 10""".stripMargin,
    )
  }

  /** DuckDB mirror of CorpusOps.mixByTokenBudget (default 500, src1 →
    * 700, src7 → 100000): the shared BPE-ish token count, the per-source
    * running sum EXCLUSIVE of the current row, and the greedy-fill cut
    * (admit while tok_before < budget). Shared by the batch row and both
    * streaming replay rows — the stream's per-group token counter in
    * doc_id order IS this window.
    */
  private def docTokenMixOracle: String =
    """WITH t AS (SELECT doc_id, source,
      |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS n_tok
      |  FROM documents),
      |c AS (SELECT doc_id, source, n_tok,
      |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
      |  FROM t)
      |SELECT doc_id, source, n_tok, tok_before FROM c
      |WHERE tok_before < (CASE source WHEN 'src1' THEN 700
      |  WHEN 'src7' THEN 100000 ELSE 500 END)""".stripMargin

  /** DuckDB mirror of streaming.HotKeyStream.hotKeyAlerts over lang at
    * threshold 70: the first arrival whose running count carries the key
    * from below the threshold to at-or-above it (prev < T AND rs >= T —
    * exactly the processor's crossing test, so zero-weight arrivals at
    * the boundary cannot fire). Shared by the plain and restart replay
    * rows: an ordered feed makes the stream's per-key counter this
    * window.
    */
  private def docHotKeysOracle: String =
    """WITH t AS (SELECT lang AS key, doc_id AS o, CAST(1 AS BIGINT) AS w
      |  FROM documents),
      |r AS (SELECT key, o, w,
      |  CAST(sum(w) OVER (PARTITION BY key ORDER BY o) AS BIGINT) AS rs
      |  FROM t)
      |SELECT key, o AS at_order, rs AS running_w FROM r
      |WHERE rs - w < 70 AND rs >= 70""".stripMargin

  /** DuckDB mirror of llm.CorpusOps.packSequences (budget 512, sharded by
    * `source`): the same BPE-ish token count as doc_text_stats, a
    * per-shard cumulative-sum window, and floor-division bin assignment.
    * Shared by the batch row and the streaming replay row — the streaming
    * operator's per-shard running fold in id order IS this window.
    */
  private def docPackOracle: String =
    """WITH t AS (SELECT doc_id, source,
      |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS n_tok
      |  FROM documents)
      |SELECT doc_id, source, n_tok,
      |  CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) AS tok_offset,
      |  CAST(floor(CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) / 512) AS BIGINT) AS bin_id
      |FROM t
      |WINDOW w AS (PARTITION BY source ORDER BY doc_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin

  /** DuckDB mirror of llm.TextAnalysis.qualityColumns: same stopword list
    * (embedded as a SQL array literal), same left-associated arithmetic so
    * IEEE doubles match bit-for-bit; DuckDB regexp_replace needs the 'g'
    * flag for replace-all (Spark's default).
    */
  private def docQualityOracle: String = {
    val stops = llm.TextAnalysis.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    list_filter(str_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'), x -> x <> '') AS toks
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

  /** DuckDB mirror of CorpusOps.duplicateLines over withSyntheticLines
    * (minDf=3): the 0-based dropped-line positions. Shared by the batch
    * row and the streaming replay row.
    */
  private val docDupLinesOracle: String =
    """WITH t AS (SELECT doc_id,
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
      |l AS (SELECT doc_id, j, ls[j] AS line FROM s, unnest(generate_series(1, len(ls))) AS u(j)),
      |dup AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 3)
      |SELECT doc_id, j - 1 AS pos FROM l WHERE line IN (SELECT line FROM dup)""".stripMargin

  /** DuckDB mirror of TextDedup.duplicateSpans (k=5, minCount=2): window
    * occurrences → corpus-wide dup filter → per-doc gaps-and-islands
    * merge. Shared by the batch row and the streaming replay row.
    */
  private val docDupSpansOracle: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS gram
      |      FROM t, unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS u(i)),
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      |h AS (SELECT doc_id, i - 1 AS s, i + 3 AS e FROM g
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

  /** DuckDB mirror of llm.TextAnalysis.langId: per-language stopword hit
    * counts (same lists, multiset semantics) and the same fold order —
    * languages scanned alphabetically, later language wins only on a
    * STRICTLY greater score; cjk ratio > 0.25 short-circuits to zh.
    */
  private def docLangIdOracle: String = {
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
       |    list_filter(str_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'), x -> x <> '') AS toks
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

  // Shared DuckDB fragments for the md5-family near-dup mirrors: tokenize
  // exactly like TextDedup.tokenize, hash tokens with md5, build 3-gram
  // shingle hashes with the same left fold (combine(x,y) = md5(x || y)),
  // distinct, drop empty docs. Mirrors TextDedup.shingleHashes(_, 3, Md5Hash).
  private val md5ShingleCtes =
    """tk AS (SELECT doc_id,
      |  list_transform(list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> ''),
      |    t -> md5(t)) AS th FROM documents),
      |sh0 AS (SELECT doc_id, list_distinct(list_transform(
      |  generate_series(1, greatest(len(th) - 2, 0)),
      |  i -> md5(md5(th[i] || th[i+1]) || th[i+2]))) AS sh FROM tk),
      |s2 AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0)""".stripMargin

  // set-Jaccard over the (already distinct) shingle arrays; single double
  // division so the value is bit-exact across engines
  private def md5JaccardExpr(a: String, b: String): String =
    s"len(list_filter($a, x -> list_contains($b, x)))::DOUBLE" +
      s" / (len($a) + len($b) - len(list_filter($a, x -> list_contains($b, x))))"

  /** DuckDB mirror of TextDedup.minhashPairsMd5 (shingleN=3, bands=4,
    * rowsPerBand=2, threshold=0.2, maxBucket=1000): signature = per-seed
    * min of md5(h || '#i'); band hash = md5(sig_slice joined by '|' plus
    * '#band'); bucket-capped band self-join; distinct pairs; one exact
    * Jaccard verify.
    */
  private def docMinhashMd5Oracle: String =
    s"""WITH $docMinhashMd5PairsCtes
       |SELECT id_a, id_b, jaccard FROM mp""".stripMargin

  /** The minhashPairsMd5 mirror as a reusable CTE chain ending in
    * `mp(id_a, id_b, jaccard)` — shared by the pairs oracle and the
    * connected-components oracles built on top of it.
    */
  private def docMinhashMd5PairsCtes: String = {
    val bands = 4; val r = 2; val k = bands * r
    val sigItems = (0 until k).map(i =>
      s"list_min(list_transform(sh, h -> md5(h || '#$i')))").mkString(",\n    ")
    val bandCase = (0 until bands).map { b =>
      val parts = (1 to r).map(j => s"sig[${b * r + j}]").mkString(" || '|' || ")
      s"WHEN $b THEN md5($parts || '#$b')"
    }.mkString(" ")
    s"""$md5ShingleCtes,
       |sig AS (SELECT doc_id, [$sigItems] AS sig FROM s2),
       |banded AS (SELECT doc_id, band, CASE band $bandCase END AS bh
       |  FROM sig CROSS JOIN (SELECT unnest([${(0 until bands).mkString(", ")}]) AS band) b),
       |ok AS (SELECT band, bh FROM banded GROUP BY band, bh
       |  HAVING count(*) <= 1000 AND count(*) > 1),
       |ib AS (SELECT banded.* FROM banded JOIN ok USING (band, bh)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ib a JOIN ib b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |j AS (SELECT id_a, id_b, ${md5JaccardExpr("sa.sh", "sb.sh")} AS jaccard
       |  FROM cand JOIN s2 sa ON sa.doc_id = cand.id_a
       |            JOIN s2 sb ON sb.doc_id = cand.id_b),
       |mp AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2)""".stripMargin
  }

  /** The crossMinhashPairsMd5 mirror (train = doc_id % 10 <> 0, eval =
    * doc_id % 10 = 0, shingleN=3, bands=4, rowsPerBand=2, threshold=0.2,
    * maxBucket=1000) as a CTE chain ending in `mp(id_a, id_b, jaccard)`:
    * both sides derive the same md5 signatures and band hashes as the
    * self-join mirror; a (band, bucket) is admitted iff both sides
    * appear AND the combined occupancy is ≤ maxBucket; candidates are
    * the bipartite bucket product, verified with one exact Jaccard.
    */
  private def docCrossMd5PairsCtes: String =
    docCrossMd5PairsCtes("trn AS (SELECT * FROM s2 WHERE doc_id % 10 <> 0)")

  /** The cross-pairs CTE chain with a caller-supplied `trn` CTE (the
    * composition oracle restricts the train side to the exact-dedup
    * survivors; the standalone rows use the plain %10 split above).
    */
  private def docCrossMd5PairsCtes(trnCte: String): String = {
    val bands = 4; val r = 2; val k = bands * r
    val sigItems = (0 until k).map(i =>
      s"list_min(list_transform(sh, h -> md5(h || '#$i')))").mkString(",\n    ")
    val bandCase = (0 until bands).map { b =>
      val parts = (1 to r).map(j => s"sig[${b * r + j}]").mkString(" || '|' || ")
      s"WHEN $b THEN md5($parts || '#$b')"
    }.mkString(" ")
    s"""$md5ShingleCtes,
       |$trnCte,
       |evl AS (SELECT * FROM s2 WHERE doc_id % 10 = 0),
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
       |ok AS (SELECT band, bh FROM cnt WHERE cl + cr <= 1000),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, e.doc_id AS id_b
       |  FROM bT a JOIN ok USING (band, bh)
       |       JOIN bE e ON e.band = a.band AND e.bh = a.bh),
       |j AS (SELECT id_a, id_b, ${md5JaccardExpr("sa.sh", "sb.sh")} AS jaccard
       |  FROM cand JOIN trn sa ON sa.doc_id = cand.id_a
       |            JOIN evl sb ON sb.doc_id = cand.id_b),
       |mp AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2)""".stripMargin
  }

  private def docFuzzyPairsOracle: String =
    s"""WITH $docCrossMd5PairsCtes
       |SELECT id_a, id_b, jaccard FROM mp""".stripMargin

  /** The CAP-BINDING-geometry cross-pairs mirror (shingleN=1, bands=2,
    * rowsPerBand=1, threshold=0.1, maxBucket=40): coarse enough that at
    * sf0.01 the hottest shared band bucket holds ~355 train + ~41 eval
    * members, so the bucket cap genuinely drops buckets and the two cap
    * POLICIES diverge. `evalSideOnly = false` mirrors the batch
    * operator (a bucket is admitted iff its combined train+eval
    * occupancy ≤ 40); `evalSideOnly = true` mirrors the streaming
    * operator (only eval-side occupancy ≤ 40 — the stream side's
    * occupancy is unknowable online, FuzzyDecontamStream's documented
    * cap semantics).
    */
  private def docFuzzyCappedOracle(evalSideOnly: Boolean): String = {
    val okCte =
      if (evalSideOnly)
        """ok AS (SELECT band, bh FROM
          |  (SELECT band, bh, count(*) AS cr FROM bE GROUP BY band, bh)
          |  WHERE cr <= 40)""".stripMargin
      else
        """ok AS (SELECT ct.band, ct.bh FROM
          |  (SELECT band, bh, count(*) AS cl FROM bT GROUP BY band, bh) ct
          |  JOIN (SELECT band, bh, count(*) AS cr FROM bE GROUP BY band, bh) ce
          |    ON ce.band = ct.band AND ce.bh = ct.bh
          |  WHERE ct.cl + ce.cr <= 40)""".stripMargin
    s"""WITH tk AS (SELECT doc_id,
       |  list_transform(list_filter(str_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'), x -> x <> ''),
       |    t -> md5(t)) AS th FROM documents),
       |sh0 AS (SELECT doc_id, list_distinct(th) AS sh FROM tk),
       |s2 AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
       |trn AS (SELECT * FROM s2 WHERE doc_id % 10 <> 0),
       |evl AS (SELECT * FROM s2 WHERE doc_id % 10 = 0),
       |sigT AS (SELECT doc_id, [list_min(list_transform(sh, h -> md5(h || '#0'))),
       |  list_min(list_transform(sh, h -> md5(h || '#1')))] AS sig FROM trn),
       |sigE AS (SELECT doc_id, [list_min(list_transform(sh, h -> md5(h || '#0'))),
       |  list_min(list_transform(sh, h -> md5(h || '#1')))] AS sig FROM evl),
       |bT AS (SELECT doc_id, band,
       |  CASE band WHEN 0 THEN md5(sig[1] || '#0') WHEN 1 THEN md5(sig[2] || '#1') END AS bh
       |  FROM sigT CROSS JOIN (SELECT unnest([0, 1]) AS band) b),
       |bE AS (SELECT doc_id, band,
       |  CASE band WHEN 0 THEN md5(sig[1] || '#0') WHEN 1 THEN md5(sig[2] || '#1') END AS bh
       |  FROM sigE CROSS JOIN (SELECT unnest([0, 1]) AS band) b),
       |$okCte,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, e.doc_id AS id_b
       |  FROM bT a JOIN ok USING (band, bh)
       |       JOIN bE e ON e.band = a.band AND e.bh = a.bh),
       |j AS (SELECT id_a, id_b, ${md5JaccardExpr("sa.sh", "sb.sh")} AS jaccard
       |  FROM cand JOIN trn sa ON sa.doc_id = cand.id_a
       |            JOIN evl sb ON sb.doc_id = cand.id_b)
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.1""".stripMargin
  }

  private def docFuzzyDecontamOracle: String =
    s"""WITH $docCrossMd5PairsCtes
       |SELECT doc_id FROM documents
       |WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT id_a FROM mp)""".stripMargin

  /** End-to-end mirror of the `doc_curation_pipeline` composition:
    * exact dedup (min doc_id per text) → the cross-pairs chain with the
    * TRAIN SIDE restricted to dedup survivors (caps unbound at this
    * geometry) → anti-join the contaminated ids → per-source cap 10 →
    * the packSequences window — each stage consuming the previous
    * stage's output exactly as the Spark chain does.
    */
  private def docCurationPipelineOracle: String = {
    val cross = docCrossMd5PairsCtes(
      "trn AS (SELECT s2.* FROM s2 JOIN dd ON dd.doc_id = s2.doc_id WHERE s2.doc_id % 10 <> 0)")
    s"""WITH dd AS (SELECT doc_id, text, source FROM (
       |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |$cross,
       |surv AS (SELECT dd.* FROM dd
       |  WHERE dd.doc_id % 10 <> 0 AND dd.doc_id NOT IN (SELECT id_a FROM mp)),
       |capped AS (SELECT doc_id, text, source FROM (
       |    SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
       |    FROM surv) WHERE rk <= 10),
       |pt AS (SELECT doc_id, source,
       |  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER) AS n_tok
       |  FROM capped)
       |SELECT doc_id, source, n_tok,
       |  CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) AS tok_offset,
       |  CAST(floor(CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) / 512) AS BIGINT) AS bin_id
       |FROM pt
       |WINDOW w AS (PARTITION BY source ORDER BY doc_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin
  }

  /** The cross-modal pipeline mirror: the image hamming-pair CC survivor
    * gate (mmImagePairsCtes → recursive closure → ikept) prepended to
    * the doc_curation_pipeline_md5 chain — exact text dedup runs over
    * the IMAGE survivors, decontamination still screens against the
    * full eval split.
    */
  private def mmCurationPipelineOracle: String = {
    val cross = docCrossMd5PairsCtes(
      "trn AS (SELECT s2.* FROM s2 JOIN dd ON dd.doc_id = s2.doc_id WHERE s2.doc_id % 10 <> 0)")
    s"""WITH RECURSIVE $mmImagePairsCtes,
inodes AS (SELECT DISTINCT id FROM (
  SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs)),
ieg AS (SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
ireach AS (
  SELECT id, id AS r FROM inodes
  UNION
  SELECT ieg.a AS id, ireach.r FROM ieg JOIN ireach ON ireach.id = ieg.b),
icc AS (SELECT id, min(r) AS cluster_id FROM ireach GROUP BY id),
ikept AS (SELECT * FROM documents
  WHERE doc_id NOT IN (SELECT id FROM icc WHERE id <> cluster_id)),
dd AS (SELECT doc_id, text, source FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM ikept) WHERE rn = 1),
$cross,
surv AS (SELECT dd.* FROM dd
  WHERE dd.doc_id % 10 <> 0 AND dd.doc_id NOT IN (SELECT id_a FROM mp)),
capped AS (SELECT doc_id, text, source FROM (
    SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
    FROM surv) WHERE rk <= 10),
pt AS (SELECT doc_id, source,
  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER) AS n_tok
  FROM capped)
SELECT doc_id, source, n_tok,
  CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) AS tok_offset,
  CAST(floor(CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) / 512) AS BIGINT) AS bin_id
FROM pt
WINDOW w AS (PARTITION BY source ORDER BY doc_id
  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""
  }

  /** Connected components of the md5 minhash pairs as a recursive-CTE
    * transitive closure (feasible at oracle scale: closure size is
    * Σ component-size², and near-dup components are tiny): every member
    * id labeled with the minimum reachable id — the DuckDB ground truth
    * for TextDedup.nearDupClusters's min-label propagation.
    */
  private def docNeardupClusterCtes: String =
    s"""$docMinhashMd5PairsCtes,
       |nodes AS (SELECT DISTINCT id FROM (
       |  SELECT id_a AS id FROM mp UNION ALL SELECT id_b AS id FROM mp)),
       |eg AS (SELECT id_a AS a, id_b AS b FROM mp
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM mp),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT eg.a AS id, reach.r FROM eg JOIN reach ON reach.id = eg.b),
       |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  private def docNeardupClustersOracle: String =
    s"""WITH RECURSIVE $docNeardupClusterCtes
       |SELECT id AS doc_id, cluster_id FROM cc""".stripMargin

  private def docNeardupDedupOracle: String =
    s"""WITH RECURSIVE $docNeardupClusterCtes
       |SELECT doc_id, text, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)""".stripMargin

  /** DuckDB mirror of TextDedup.editDistancePairsMd5 (maxDist=5,
    * shingleN=5, bands=4, rowsPerBand=4, maxBucket=1000) as a CTE chain
    * ending in `ep(id_a, id_b, dist)`: char tokens → md5 5-gram fold →
    * minhash signature → band hashes → capped buckets → distinct
    * candidates → EXACT integer levenshtein ≤ 5 (DuckDB computes the
    * full distance; Spark's thresholded form returns the same integer
    * whenever it is ≤ the threshold, and the filter keeps only those).
    */
  private def docEditPairsCtes: String = {
    val n = 5; val bands = 4; val r = 4; val k = bands * r
    val fold = (1 until n).foldLeft("th[i]")((acc, j) => s"md5($acc || th[i+$j])")
    val sigItems = (0 until k).map(i =>
      s"list_min(list_transform(sh, h -> md5(h || '#$i')))").mkString(",\n    ")
    val bandCase = (0 until bands).map { b =>
      val parts = (1 to r).map(j => s"sig[${b * r + j}]").mkString(" || '|' || ")
      s"WHEN $b THEN md5($parts || '#$b')"
    }.mkString(" ")
    s"""tk AS (SELECT doc_id, text,
       |  list_transform(generate_series(1, length(text)), i -> md5(text[i])) AS th
       |  FROM documents),
       |sh0 AS (SELECT doc_id, text, list_distinct(list_transform(
       |  generate_series(1, greatest(len(th) - ${n - 1}, 0)),
       |  i -> $fold)) AS sh FROM tk),
       |s2e AS (SELECT doc_id, text, sh FROM sh0 WHERE len(sh) > 0),
       |sige AS (SELECT doc_id, [$sigItems] AS sig FROM s2e),
       |bde AS (SELECT doc_id, band, CASE band $bandCase END AS bh
       |  FROM sige CROSS JOIN (SELECT unnest([${(0 until bands).mkString(", ")}]) AS band) b),
       |oke AS (SELECT band, bh FROM bde GROUP BY band, bh
       |  HAVING count(*) <= 1000 AND count(*) > 1),
       |ibe AS (SELECT bde.* FROM bde JOIN oke USING (band, bh)),
       |cde AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ibe a JOIN ibe b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |ep AS (SELECT id_a, id_b, dist FROM (
       |  SELECT id_a, id_b,
       |    CAST(levenshtein(ta.text, tb.text) AS INTEGER) AS dist
       |  FROM cde JOIN s2e ta ON ta.doc_id = cde.id_a
       |           JOIN s2e tb ON tb.doc_id = cde.id_b)
       |  WHERE dist <= 5)""".stripMargin
  }

  /** Self-contained DuckDB mirror of the BPE tier (llm.Bpe): re-derives
    * TRAINING (recursive choose/apply state machine over the bounded
    * sample — best pair by (max count, code-point lex), repeated
    * leftmost single merges) and ENCODING (greedy min-rank leftmost, one
    * merge per recursion step) from the raw table, per the determinism
    * contract on Bpe's scaladoc — no Spark-side literal reaches the
    * mirror (the lloyd-centroid re-derivation pattern). Built by plain
    * concatenation, NOT stripMargin: the SQL is full of `||` operators
    * that stripMargin would eat at line starts. Ends with
    * done(doc_id, toks), tok2id(tok, id).
    */
  private[graft] def docBpeCtes(sampleDocs: Int, sampleChars: Int, numMerges: Int,
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

  /** DuckDB mirror of Bpe.trainDistributed + encode: the recursive
    * choose/apply state machine of docBpeCtes lifted to PER-DOC rows —
    * the choose step takes the GLOBAL argmax over within-doc adjacent
    * pairs (count desc, then code-point lex), the apply step merges one
    * leftmost occurrence in EVERY doc that still has one and stays in
    * apply mode while any doc does (the bool_or over the post-apply
    * rows). No '\n' joining — the document is the pre-tokenization
    * boundary, exactly the trainer's contract. Ends with
    * ddone(doc_id, toks), dtok2id(tok, id). Plain concatenation (the
    * lambdas are full of `||`).
    */
  private[graft] def docBpeDistCtes(sampleDocs: Int, sampleChars: Int,
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

  private[graft] def docBpeEncodeDistOracleFor(sampleDocs: Int, sampleChars: Int,
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

  private def docBpeEncodeDistOracle: String =
    docBpeEncodeDistOracleFor(64, 240, 16, 120)

  private[graft] def docBpeEncodeOracleFor(sampleDocs: Int, sampleChars: Int,
                                           numMerges: Int, encChars: Int,
                                           docsRel: String = "documents"): String =
    "WITH RECURSIVE\n" +
      docBpeCtes(sampleDocs, sampleChars, numMerges, encChars, docsRel) + """
SELECT u.doc_id, u.pos, CAST(coalesce(t.id, 0) AS BIGINT) AS token_id
FROM (SELECT doc_id, unnest(toks) AS tok,
        CAST(unnest(generate_series(1, len(toks))) AS BIGINT) AS pos FROM done) u
LEFT JOIN tok2id t ON u.tok = t.tok"""

  private def docBpeEncodeOracle: String =
    docBpeEncodeOracleFor(4, 240, 16, 120)

  /** The fixture merges.txt content for the byte-level load row (and the
    * bpe_bytes sweep family): corpus-relevant merges over the
    * lowercase+space charset in the deployed GPT-2 file format —
    * including the space-crossing "s Ġ" rule that only global-merge
    * mode applies and the rank-ordered "an d" that needs "a n" first.
    */
  private[graft] val bpeBytesMergesLines: Seq[String] =
    "#version: graft byte-level fixture" +: Seq(
      "Ġ t", "h e", "Ġt he", "i n", "a n", "r e", "e r", "s Ġ",
      "an d", "t he")

  /** DuckDB mirror of the byte-level LOAD path (fromMergesByteLevel with
    * the library id contract, global-merge mode): the 256-token
    * bytes→unicode alphabet as chr() lists (33..126, 161..172, 174..255
    * map to themselves, the displaced bytes to 256..323 — ascending, so
    * positional ids ARE the code-point-sorted contract), literal ml/mr
    * merge arrays, the docBpeCtes min-rank encode state machine over the
    * byte-mapped text (the corpus is ASCII+space, so the mapping is
    * exactly space→Ġ).
    */
  private[graft] def docBpeEncodeBytesOracleFor(
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

  private def docBpeEncodeBytesOracle: String =
    docBpeEncodeBytesOracleFor(bpeBytesMergesLines, 120)

  private def docTokenMixBpeOracle: String =
    "WITH RECURSIVE\n" + docBpeCtes(4, 240, 16, 120) + """,
cntb AS (SELECT d.doc_id, d.source, CAST(len(done.toks) AS INTEGER) AS n_tok
  FROM done JOIN documents d ON d.doc_id = done.doc_id),
cb AS (SELECT doc_id, source, n_tok,
  CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
  FROM cntb)
SELECT doc_id, source, n_tok, tok_before FROM cb
WHERE tok_before < (CASE source WHEN 'src1' THEN 500 ELSE 300 END)"""

  /** CTE chain mirroring Multimodal.audioHashes over the synthetic-WAV
    * fixture (withSyntheticWavs: nSamples=2048, win=32, baseMod=32):
    * per-(doc, window) integer sample sums from the formula + the
    * variant bumps, adjacent-window comparisons → 63-bit hash (no sign
    * bit, so a plain SUM of distinct powers is safe). Ends with
    * ah(doc_id, whash).
    */
  private def mmAudioHashCtes: String =
    """aw AS (
      |  SELECT doc_id, k,
      |    list_sum(list_transform(generate_series(k * 32, k * 32 + 31),
      |      i -> ((((doc_id % 32) + 1) * (i * 7 + 3)) % 251) - 125))
      |    + CASE WHEN ((doc_id // 32) % 3 >= 1 AND k = 5)
      |             OR ((doc_id // 32) % 3 = 2 AND k = 11)
      |           THEN 40 * 32 ELSE 0 END AS s
      |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) t),
      |ah AS (
      |  SELECT a.doc_id,
      |    CAST(sum(CASE WHEN b.s > a.s THEN (1::BIGINT << a.k) ELSE 0::BIGINT END) AS BIGINT) AS whash
      |  FROM aw a JOIN aw b ON b.doc_id = a.doc_id AND b.k = a.k + 1
      |  WHERE a.k < 63 GROUP BY a.doc_id)""".stripMargin

  private def mmAudioHashOracle: String =
    s"""WITH $mmAudioHashCtes
       |SELECT doc_id, whash FROM ah""".stripMargin

  /** hammingHashPairs mirror over the waveform hash (chunkBits=16,
    * maxHamming=2, maxBucket=1000) — identical construction to the
    * image-pairs mirror, different hash CTE.
    */
  private def mmAudioPairsCtes: String =
    s"""$mmAudioHashCtes,
       |achp AS (SELECT doc_id, whash, c AS chunk, (whash >> (c * 16)) & 65535 AS cv
       |  FROM ah CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) t2),
       |aokp AS (SELECT chunk, cv FROM achp GROUP BY chunk, cv
       |  HAVING count(*) <= 1000 AND count(*) > 1),
       |aibp AS (SELECT achp.* FROM achp JOIN aokp USING (chunk, cv)),
       |apairs AS (SELECT id_a, id_b, min(hamming) AS hamming FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.whash, b.whash)) AS INTEGER) AS hamming
       |  FROM aibp a JOIN aibp b ON a.chunk = b.chunk AND a.cv = b.cv
       |    AND a.doc_id < b.doc_id)
       |  WHERE hamming <= 2 GROUP BY id_a, id_b)""".stripMargin

  private def mmAudioPairsOracle: String =
    s"""WITH $mmAudioPairsCtes
       |SELECT id_a, id_b, hamming FROM apairs""".stripMargin

  private def mmAudioDedupOracle: String =
    s"""WITH RECURSIVE $mmAudioPairsCtes,
       |anodes AS (SELECT DISTINCT id FROM (
       |  SELECT id_a AS id FROM apairs UNION ALL SELECT id_b AS id FROM apairs)),
       |aeg AS (SELECT id_a AS a, id_b AS b FROM apairs
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM apairs),
       |areach AS (
       |  SELECT id, id AS r FROM anodes
       |  UNION
       |  SELECT aeg.a AS id, areach.r FROM aeg JOIN areach ON areach.id = aeg.b),
       |acc AS (SELECT id, min(r) AS cluster_id FROM areach GROUP BY id)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM acc WHERE id <> cluster_id)""".stripMargin

  /** DuckDB mirror of the IMAGE-SemDeDup composition (imageLumaFeatures
    * over the 8×8 pattern fixture → Similarity.semDedup at dim=64,
    * eps=0.94, nCells=8, lloydIters=1): the 64 per-pixel luma integers
    * as a DOUBLE vector (row-major, identical to the decode path on the
    * identity-resize fixture), then the embSemDedupOracle chain
    * verbatim — anchor init from the first 8 docs, one quantized-mean
    * Lloyd pass, within-cell ε-pairs, min-label closure, keep rank
    * (csim ASC, id ASC).
    */
  private def mmImageSemDedupOracle: String = {
    val vec = (for (y <- 0 until 8; x <- 0 until 8)
      yield s"CAST(${mmPatternLuma(x, y)} AS DOUBLE)").mkString(",\n    ")
    s"""WITH RECURSIVE imgc AS (SELECT doc_id AS corpus_id, [
    $vec] AS cv FROM documents),
cent0 AS (SELECT corpus_id::BIGINT AS cell, cv AS centroid
    FROM imgc ORDER BY corpus_id LIMIT 8),
asg0 AS (SELECT corpus_id, cv, cell FROM (
  SELECT corpus_id, cv, cell,
    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
  FROM (SELECT corpus_id, cv, cell, ${duckCosine("cv", "centroid")} AS csim
        FROM imgc CROSS JOIN cent0)) WHERE rn = 1),
el AS (SELECT cell, generate_subscripts(cv, 1) AS pos, unnest(cv) AS x FROM asg0),
cm AS (SELECT cell, pos,
    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
      / (count(*) * 1048576.0) AS m
  FROM el GROUP BY cell, pos),
cent AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cm GROUP BY cell),
asg AS (SELECT corpus_id, cv, cell, csim FROM (
  SELECT corpus_id, cv, cell, csim,
    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
  FROM (SELECT corpus_id, cv, cell, ${duckCosine("cv", "centroid")} AS csim
        FROM imgc CROSS JOIN cent)) WHERE rn = 1),
ep AS (SELECT a.corpus_id AS id_a, b.corpus_id AS id_b
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.corpus_id < b.corpus_id
  WHERE ${duckCosine("a.cv", "b.cv")} >= 0.94),
nodes AS (SELECT DISTINCT id FROM (
  SELECT id_a AS id FROM ep UNION ALL SELECT id_b AS id FROM ep)),
eg AS (SELECT id_a AS a, id_b AS b FROM ep
  UNION ALL SELECT id_b AS a, id_a AS b FROM ep),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT eg.a AS id, reach.r FROM eg JOIN reach ON reach.id = eg.b),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
rk AS (SELECT cc.cluster_id, cc.id,
    row_number() OVER (PARTITION BY cc.cluster_id ORDER BY asg.csim ASC, cc.id) AS rn
  FROM cc JOIN asg ON cc.id = asg.corpus_id)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM rk WHERE rn > 1)"""
  }

  /** The crop-fixture luma of tile-local pixel (px, py) as a DuckDB
    * expression over tile-index columns (tx, ty) — the exact formula of
    * Multimodal.withSyntheticCropImages composed with
    * imageTileHashes' absolute grid (tilePx=8, hopPx=4): global
    * x = tx*4+px, global y = ty*4+py (+8 source-scroll for v=2), raw
    * luma + the v=1 uniform +4.
    */
  private def mmTileLuma(px: Int, py: Int): String = {
    val k = px * 7 + py * 13 + 3
    val raw = s"((((doc_id % 32) + 1) * (tx*28 + ty*52 + $k + " +
      s"CASE WHEN (doc_id // 32) % 3 = 2 THEN 104 ELSE 0 END)) % 251)"
    s"($raw + CASE WHEN (doc_id // 32) % 3 = 1 THEN 4 ELSE 0 END)"
  }

  /** CTE chain mirroring imageTileHashes over the crop fixture: 7×7
    * tile grid per doc, integer tile mean (floor of the 64-luma sum),
    * aHash bits OR-folded (INT64_MIN literal for bit 63). Ends with
    * th(doc_id, tile_x, tile_y, thash).
    */
  private def mmImageTileCtes: String = {
    val lsum = (for (py <- 0 until 8; px <- 0 until 8)
      yield mmTileLuma(px, py)).mkString(" + ")
    val bits = (for (py <- 0 until 8; px <- 0 until 8) yield {
      val bit = py * 8 + px
      val mask = if (bit == 63) "(-9223372036854775807 - 1)"
                 else s"(1::BIGINT << $bit)"
      s"(CASE WHEN ${mmTileLuma(px, py)} > lmean THEN $mask ELSE 0::BIGINT END)"
    }).mkString(" |\n  ")
    s"""tg AS (SELECT doc_id, tx, ty FROM documents
  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS tx) a
  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS ty) b),
tm AS (SELECT doc_id, tx, ty, ($lsum) // 64 AS lmean FROM tg),
th AS (SELECT doc_id, CAST(tx AS BIGINT) AS tile_x, CAST(ty AS BIGINT) AS tile_y,
  $bits AS thash FROM tm)"""
  }

  private def mmImageTileHashOracle: String =
    s"""WITH $mmImageTileCtes
SELECT doc_id, tile_x, tile_y, thash FROM th"""

  /** sharedKeyPairs mirror over the tile hashes (minShared=10,
    * maxBucket=1000), ending with tpr(id_a, id_b, shared, n_a, n_b).
    */
  private def mmImageTilePairCtes: String =
    s"""$mmImageTileCtes,
tkeys AS (SELECT DISTINCT doc_id, thash FROM th),
tnk AS (SELECT doc_id, count(*) AS nk FROM tkeys GROUP BY doc_id),
tok AS (SELECT thash FROM tkeys GROUP BY thash
  HAVING count(*) <= 1000 AND count(*) > 1),
tib AS (SELECT tkeys.* FROM tkeys JOIN tok USING (thash)),
tcand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(count(DISTINCT a.thash) AS BIGINT) AS shared
  FROM tib a JOIN tib b ON a.thash = b.thash AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
tpr AS (SELECT id_a, id_b, shared, na.nk AS n_a, nb.nk AS n_b
  FROM tcand JOIN tnk na ON na.doc_id = tcand.id_a
             JOIN tnk nb ON nb.doc_id = tcand.id_b
  WHERE shared >= 10)"""

  private def mmImageCropPairsOracle: String =
    s"""WITH $mmImageTilePairCtes
SELECT id_a, id_b, shared, n_a, n_b FROM tpr"""

  /** Min-id CC dedup over the crop-tolerant tile pair relation — the
    * mmVideoDedupOracle recursive-closure pattern on tpr.
    */
  private def mmImageCropDedupOracle: String =
    s"""WITH RECURSIVE $mmImageTilePairCtes,
tlnodes AS (SELECT DISTINCT id FROM (
  SELECT id_a AS id FROM tpr UNION ALL SELECT id_b AS id FROM tpr)),
tleg AS (SELECT id_a AS a, id_b AS b FROM tpr
  UNION ALL SELECT id_b AS a, id_a AS b FROM tpr),
tlreach AS (
  SELECT id, id AS r FROM tlnodes
  UNION
  SELECT tleg.a AS id, tlreach.r FROM tleg JOIN tlreach ON tlreach.id = tleg.b),
tlcc AS (SELECT id, min(r) AS cluster_id FROM tlreach GROUP BY id)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM tlcc WHERE id <> cluster_id)"""

  /** The synthetic-VIDEO-pattern luma L(x,y) of container frame `f` as
    * a DuckDB integer expression — the exact formula of
    * Multimodal.withSyntheticVideoClips (x, y compile-time constants;
    * `f` = container frame index and `fe` = f + trim-skip are columns):
    * raw = (base * (x*7 + y*13 + 3 + 29*fe)) % 251, flipped to 250-raw
    * at pixel (2,3) of frame 0 for the v=1 variant.
    */
  private def mmVideoLuma(x: Int, y: Int): String = {
    val k = x * 7 + y * 13 + 3
    val raw = s"(((doc_id % 32) + 1) * ($k + 29 * fe)) % 251"
    if (x == 2 && y == 3)
      s"(CASE WHEN (doc_id // 32) % 3 = 1 AND f = 0 THEN 250 - ($raw) ELSE ($raw) END)"
    else s"($raw)"
  }

  /** Per-frame 64-bit dHash of the video fixture (same construction as
    * mmDhashExpr, frame-parametrized; OR-folded with the INT64_MIN
    * literal for bit 63 — see mmDhashExpr's overflow note).
    */
  private def mmVideoDhashExpr: String =
    (for (y <- 0 until 8; x <- 0 until 8) yield {
      val bit = y * 8 + x
      val mask = if (bit == 63) "(-9223372036854775807 - 1)"
                 else s"(1::BIGINT << $bit)"
      s"(CASE WHEN ${mmVideoLuma(x + 1, y)} > ${mmVideoLuma(x, y)} " +
        s"THEN $mask ELSE 0::BIGINT END)"
    }).mkString(" |\n  ")

  /** CTE chain mirroring Multimodal.videoFrameHashes over the packed-
    * frame fixture (withSyntheticVideoClips, baseMod=32): per-doc frame
    * count nf = base%4+5 minus 1 for the trimmed v=2 variant, container
    * frame f = 0..nf-1 rendering source frame fe = f + skip. Ends with
    * vh(doc_id, frame_idx, fhash). Built by plain concatenation (the
    * OR-folded hash would trip stripMargin).
    */
  private def mmVideoHashCtes: String =
    s"""vdocs AS (SELECT doc_id,
  ((doc_id % 32) + 1) % 4 + 5
    - CASE WHEN (doc_id // 32) % 3 = 2 THEN 1 ELSE 0 END AS nf,
  CASE WHEN (doc_id // 32) % 3 = 2 THEN 1 ELSE 0 END AS skip
  FROM documents),
vfr AS (SELECT doc_id, f, f + skip AS fe
  FROM vdocs, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) t),
vh AS (SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, $mmVideoDhashExpr AS fhash FROM vfr)"""

  private def mmVideoHashOracle: String =
    s"""WITH $mmVideoHashCtes
SELECT doc_id, frame_idx, fhash FROM vh"""

  /** frameSequencePairs mirror over the per-frame hashes (shingleK=2,
    * threshold=0.5, minShared=1, maxBucket=1000): distinct 2-frame
    * shingles as VARCHAR keys (BIGINT→VARCHAR matches Long.toString
    * including negatives), bucket count in (1, maxBucket], distinct-
    * shingle Jaccard verify. Ends with vpairs(id_a, id_b, shared, n_a,
    * n_b).
    */
  private def mmVideoPairsCtes: String =
    s"""$mmVideoHashCtes,
vsh AS (SELECT DISTINCT a.doc_id,
  CAST(a.fhash AS VARCHAR) || ':' || CAST(b.fhash AS VARCHAR) AS sh
  FROM vh a JOIN vh b ON b.doc_id = a.doc_id AND b.frame_idx = a.frame_idx + 1),
vnk AS (SELECT doc_id, count(*) AS nk FROM vsh GROUP BY doc_id),
vok AS (SELECT sh FROM vsh GROUP BY sh HAVING count(*) <= 1000 AND count(*) > 1),
vib AS (SELECT vsh.* FROM vsh JOIN vok USING (sh)),
vcand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(count(DISTINCT a.sh) AS BIGINT) AS shared
  FROM vib a JOIN vib b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
vpairs AS (SELECT id_a, id_b, shared, na.nk AS n_a, nb.nk AS n_b
  FROM vcand JOIN vnk na ON na.doc_id = vcand.id_a
             JOIN vnk nb ON nb.doc_id = vcand.id_b
  WHERE shared >= 1
    AND CAST(shared AS DOUBLE) / (na.nk + nb.nk - shared) >= 0.5)"""

  private def mmVideoPairsOracle: String =
    s"""WITH $mmVideoPairsCtes
SELECT id_a, id_b, shared, n_a, n_b FROM vpairs"""

  private def mmVideoDedupOracle: String =
    s"""WITH RECURSIVE $mmVideoPairsCtes,
vnodes AS (SELECT DISTINCT id FROM (
  SELECT id_a AS id FROM vpairs UNION ALL SELECT id_b AS id FROM vpairs)),
veg AS (SELECT id_a AS a, id_b AS b FROM vpairs
  UNION ALL SELECT id_b AS a, id_a AS b FROM vpairs),
vreach AS (
  SELECT id, id AS r FROM vnodes
  UNION
  SELECT veg.a AS id, vreach.r FROM veg JOIN vreach ON vreach.id = veg.b),
vcc AS (SELECT id, min(r) AS cluster_id FROM vreach GROUP BY id)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM vcc WHERE id <> cluster_id)"""

  /** CTE chain mirroring Multimodal.audioSegmentHashes over the
    * OFFSET-WAV fixture (withSyntheticOffsetWavs: nSamples=2048,
    * offsetSamples=256, baseMod=32; hash params winSamples=32,
    * segWindows=16, hopWindows=8 → 64 windows, 7 segments, 15-bit
    * hashes): per-(doc, window) integer sums of the variant-adjusted
    * sample formula, per-segment adjacent-window gradient bits. Ends
    * with aseg(doc_id, seg_idx, shash).
    */
  private def mmAudioSegCtes: String =
    """asg AS (
      |  SELECT doc_id, k,
      |    list_sum(list_transform(generate_series(k * 32, k * 32 + 31), i ->
      |      CASE WHEN (doc_id // 32) % 3 = 2 THEN
      |        CASE WHEN i < 256 THEN 0
      |             ELSE ((((doc_id % 32) + 1) * ((i - 256) * 7 + 3)) % 251) - 125 END
      |      WHEN (doc_id // 32) % 3 = 1 THEN
      |        ((((doc_id % 32) + 1) * (i * 7 + 3)) % 251) - 125 + 7
      |      ELSE ((((doc_id % 32) + 1) * (i * 7 + 3)) % 251) - 125 END)) AS s
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

  private def mmAudioSegHashOracle: String =
    s"""WITH $mmAudioSegCtes
       |SELECT doc_id, seg_idx, shash FROM aseg""".stripMargin

  /** sharedKeyPairs mirror over the segment hashes (minShared=3,
    * threshold=0, maxBucket parameterized — 1000 for the default row,
    * 16 for the cap-BINDING row): distinct (doc, hash-value) keys,
    * bucket cap, ≥ 3 shared distinct values. Ends with apr(id_a, id_b,
    * shared, n_a, n_b).
    */
  private def mmAudioSegPairCtes(maxBucket: Int): String =
    s"""$mmAudioSegCtes,
       |akeys AS (SELECT DISTINCT doc_id, shash FROM aseg),
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
       |  WHERE shared >= 3)""".stripMargin

  private def mmAudioOffsetPairsOracle: String =
    s"""WITH ${mmAudioSegPairCtes(1000)}
       |SELECT id_a, id_b, shared, n_a, n_b FROM apr""".stripMargin

  private def mmAudioOffsetPairsCappedOracle: String =
    s"""WITH ${mmAudioSegPairCtes(16)}
       |SELECT id_a, id_b, shared, n_a, n_b FROM apr""".stripMargin

  /** sharedKeyPairsWithStats' droppedBuckets mirror at the cap-binding
    * geometry (maxBucket=16): one (bucket = the key value as VARCHAR,
    * size) row per over-cap segment-hash bucket — BIGINT→VARCHAR
    * matches the core's cast-to-string key.
    */
  private def mmAudioSegDroppedOracle: String =
    s"""WITH $mmAudioSegCtes,
       |akeys AS (SELECT DISTINCT doc_id, shash FROM aseg)
       |SELECT CAST(shash AS VARCHAR) AS bucket, count(*) AS size
       |FROM akeys GROUP BY shash HAVING count(*) > 16""".stripMargin

  /** Min-id CC dedup over the shift-tolerant pair relation — the
    * mmVideoDedupOracle recursive-closure pattern on apr.
    */
  private def mmAudioSegDedupOracle: String =
    s"""WITH RECURSIVE ${mmAudioSegPairCtes(1000)},
       |asnodes AS (SELECT DISTINCT id FROM (
       |  SELECT id_a AS id FROM apr UNION ALL SELECT id_b AS id FROM apr)),
       |aseg_eg AS (SELECT id_a AS a, id_b AS b FROM apr
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM apr),
       |asreach AS (
       |  SELECT id, id AS r FROM asnodes
       |  UNION
       |  SELECT aseg_eg.a AS id, asreach.r
       |  FROM aseg_eg JOIN asreach ON asreach.id = aseg_eg.b),
       |ascc AS (SELECT id, min(r) AS cluster_id FROM asreach GROUP BY id)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM ascc WHERE id <> cluster_id)""".stripMargin

  /** The synthetic-pattern luma L(x,y) as a DuckDB integer expression —
    * the exact formula of Multimodal.withSyntheticPatternImages (gray
    * BMP at 9×8 = the dHash grid, so Spark's REAL decode→scale→hash
    * pipeline and this arithmetic meet bit-for-bit).
    */
  private def mmPatternLuma(x: Int, y: Int): String = {
    val k = x * 7 + y * 13 + 3
    val raw = s"(((doc_id % 32) + 1) * $k) % 251"
    if (x == 2 && y == 3) s"(CASE WHEN (doc_id // 32) % 3 >= 1 THEN 250 - ($raw) ELSE $raw END)"
    else if (x == 5 && y == 1) s"(CASE WHEN (doc_id // 32) % 3 = 2 THEN 250 - ($raw) ELSE $raw END)"
    else s"($raw)"
  }

  /** 64-bit dHash of the pattern fixture: bit (y*8+x) set iff
    * L(x+1,y) > L(x,y); folded with bitwise OR (a SUM would overflow
    * DuckDB's checked BIGINT when bit 63 participates — and so does
    * `1::BIGINT << 63` itself, hence the INT64_MIN literal for the
    * sign bit).
    */
  private def mmDhashExpr: String =
    (for (y <- 0 until 8; x <- 0 until 8) yield {
      val bit = y * 8 + x
      val mask = if (bit == 63) "(-9223372036854775807 - 1)"
                 else s"(1::BIGINT << $bit)"
      s"(CASE WHEN ${mmPatternLuma(x + 1, y)} > ${mmPatternLuma(x, y)} " +
        s"THEN $mask ELSE 0::BIGINT END)"
    }).mkString(" |\n  ")

  private def mmPhashOracle: String =
    s"""SELECT doc_id, $mmDhashExpr AS dhash FROM documents"""

  /** aHash of the 8×8 pattern fixture: integer mean (sum of the 64
    * lumas, floor-divided by 64), bit (y*8+x) set iff L(x,y) > mean.
    */
  private def mmAhashOracle: String = {
    val lumSum = (for (y <- 0 until 8; x <- 0 until 8)
      yield mmPatternLuma(x, y)).mkString(" +\n  ")
    val bits = (for (y <- 0 until 8; x <- 0 until 8) yield {
      val bit = y * 8 + x
      val mask = if (bit == 63) "(-9223372036854775807 - 1)"
                 else s"(1::BIGINT << $bit)"
      s"(CASE WHEN ${mmPatternLuma(x, y)} > lmean THEN $mask ELSE 0::BIGINT END)"
    }).mkString(" |\n  ")
    s"""WITH m AS (SELECT doc_id, ($lumSum) // 64 AS lmean FROM documents)
SELECT doc_id, $bits AS ahash FROM m"""
  }

  /** CTE chain mirroring TextDedup.hammingHashPairs over the pattern
    * dhash (chunkBits=16, maxHamming=3, maxBucket=1000), ending in
    * `pairs(id_a, id_b, hamming)`: arithmetic >> then 16-bit mask (sign
    * bits masked identically on both engines), bucket count in (1,
    * maxBucket], bit_count(xor) verify.
    */
  private def mmImagePairsCtes: String =
    s"""h AS (SELECT doc_id, $mmDhashExpr AS dhash FROM documents),
       |chp AS (SELECT doc_id, dhash, c AS chunk, (dhash >> (c * 16)) & 65535 AS cv
       |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) t),
       |okp AS (SELECT chunk, cv FROM chp GROUP BY chunk, cv
       |  HAVING count(*) <= 1000 AND count(*) > 1),
       |ibp AS (SELECT chp.* FROM chp JOIN okp USING (chunk, cv)),
       |pairs AS (SELECT id_a, id_b, min(hamming) AS hamming FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
       |  FROM ibp a JOIN ibp b ON a.chunk = b.chunk AND a.cv = b.cv
       |    AND a.doc_id < b.doc_id)
       |  WHERE hamming <= 3 GROUP BY id_a, id_b)""".stripMargin

  private def mmImagePairsOracle: String =
    s"""WITH $mmImagePairsCtes
       |SELECT id_a, id_b, hamming FROM pairs""".stripMargin

  private def mmImageDedupOracle: String =
    s"""WITH RECURSIVE $mmImagePairsCtes,
       |nodes AS (SELECT DISTINCT id FROM (
       |  SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs)),
       |eg AS (SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT eg.a AS id, reach.r FROM eg JOIN reach ON reach.id = eg.b),
       |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)""".stripMargin

  private def docEditPairsOracle: String =
    s"""WITH $docEditPairsCtes
       |SELECT id_a, id_b, dist FROM ep""".stripMargin

  /** DuckDB mirror of TextDedup.editDecontaminateMd5 over the doc_id%10
    * train/eval split (maxDist=5, shingleN=5, bands=4, rowsPerBand=4,
    * maxBucket=1000): the docEditPairsCtes hash construction verbatim,
    * but candidates are generated ONLY across the split (train × eval
    * sharing a band bucket) under the combined-occupancy cap (admitted
    * iff both sides appear and cl + cr ≤ maxBucket — no per-side > 1
    * floor: a 1+1 bucket is a legitimate bipartite candidate), then the
    * exact integer levenshtein ≤ 5 verify and the anti-join.
    */
  private def docEditDecontamOracle: String = {
    val n = 5; val bands = 4; val r = 4; val k = bands * r
    val fold = (1 until n).foldLeft("th[i]")((acc, j) => s"md5($acc || th[i+$j])")
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
       |  generate_series(1, greatest(len(th) - ${n - 1}, 0)),
       |  i -> $fold)) AS sh FROM tk),
       |s2e AS (SELECT doc_id, text, sh FROM sh0 WHERE len(sh) > 0),
       |sige AS (SELECT doc_id, [$sigItems] AS sig FROM s2e),
       |bde AS (SELECT doc_id, band, CASE band $bandCase END AS bh
       |  FROM sige CROSS JOIN (SELECT unnest([${(0 until bands).mkString(", ")}]) AS band) b),
       |cnt AS (SELECT band, bh,
       |    count(*) FILTER (WHERE doc_id % 10 <> 0) AS cl,
       |    count(*) FILTER (WHERE doc_id % 10 = 0) AS cr
       |  FROM bde GROUP BY band, bh),
       |oke AS (SELECT band, bh FROM cnt
       |  WHERE cl >= 1 AND cr >= 1 AND cl + cr <= 1000),
       |cde AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bde a JOIN oke ON a.band = oke.band AND a.bh = oke.bh
       |  JOIN bde b ON a.band = b.band AND a.bh = b.bh
       |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
       |ep AS (SELECT id_a, id_b, dist FROM (
       |  SELECT id_a, id_b,
       |    CAST(levenshtein(ta.text, tb.text) AS INTEGER) AS dist
       |  FROM cde JOIN s2e ta ON ta.doc_id = cde.id_a
       |           JOIN s2e tb ON tb.doc_id = cde.id_b)
       |  WHERE dist <= 5)
       |SELECT doc_id FROM documents
       |WHERE doc_id % 10 <> 0
       |  AND doc_id NOT IN (SELECT DISTINCT id_a FROM ep)""".stripMargin
  }

  private def docEditDedupOracle: String =
    s"""WITH RECURSIVE $docEditPairsCtes,
       |nodes AS (SELECT DISTINCT id FROM (
       |  SELECT id_a AS id FROM ep UNION ALL SELECT id_b AS id FROM ep)),
       |eg AS (SELECT id_a AS a, id_b AS b FROM ep
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM ep),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT eg.a AS id, reach.r FROM eg JOIN reach ON reach.id = eg.b),
       |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT doc_id, text, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)""".stripMargin

  /** DuckDB mirror of TextDedup.ngramJaccardPairsMd5 (shingleN=3,
    * threshold=0.1, maxBucket=200): block on the min shingle hash, cap
    * blocks, verify with exact Jaccard.
    */
  private def docNgramMd5Oracle: String =
    s"""WITH $md5ShingleCtes,
       |blk AS (SELECT doc_id, sh, list_min(sh) AS block FROM s2),
       |ok AS (SELECT block FROM blk GROUP BY block
       |  HAVING count(*) <= 200 AND count(*) > 1),
       |ib AS (SELECT blk.* FROM blk JOIN ok USING (block)),
       |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ${md5JaccardExpr("a.sh", "b.sh")} AS jaccard
       |  FROM ib a JOIN ib b ON a.block = b.block AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.1""".stripMargin

  /** DuckDB mirror of TextDedup.simhashDfMd5: per-token 60-bit hash =
    * first 15 hex chars of md5 (hex digits decoded via strpos, exactly
    * Spark's conv(_,16,10)); bit b of the simhash is set iff more than
    * half the token hashes have bit b set.
    */
  private def docSimhashMd5Oracle: String = {
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
       |c AS (SELECT doc_id, count(*)::BIGINT AS n, $sums FROM h GROUP BY doc_id)
       |SELECT doc_id, $terms AS simhash_md5 FROM c""".stripMargin
  }

  /** DuckDB mirror of Similarity.annTopK (nPlanes=8, dim=64, seed=42,
    * probeHamming=1, k=10): the deterministic hyperplane constants are
    * embedded verbatim (Double.toString round-trips exactly), bucket sign
    * uses the same left-fold double accumulation (list_reduce), and the
    * scoring/rank stage is the emb_knn_brute mirror restricted to
    * same-bucket candidates.
    */
  private def embAnnOracle: String = {
    val ps = llm.Similarity.planes(8, 64)
    def bucketExpr(v: String): String = ps.zipWithIndex.map { case (p, i) =>
      val arr = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"""CASE WHEN list_reduce(list_transform(list_zip($v, $arr::DOUBLE[]),
         |    p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y) >= 0
         |  THEN (1::BIGINT << $i) ELSE 0::BIGINT END""".stripMargin
    }.mkString("\n + ")
    val probes = "b0" +: (0 until 8).map(i => s"xor(b0, ${1L << i}::BIGINT)")
    s"""WITH c AS (SELECT vec_id AS corpus_id, embedding AS cv,
       |    ${bucketExpr("embedding")} AS bucket FROM embeddings),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv,
       |    ${bucketExpr("embedding")} AS b0 FROM embeddings WHERE vec_id < 20),
       |pr AS (SELECT query_id, qv, unnest([${probes.mkString(", ")}]) AS bucket FROM q0),
       |s AS (SELECT query_id, corpus_id,
       |    list_sum(list_transform(list_zip(qv, cv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * x)))
       |       * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * x)))) AS sim
       |  FROM c JOIN pr USING (bucket) WHERE corpus_id <> query_id)
       |SELECT query_id, corpus_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
       |FROM s QUALIFY rank <= 10""".stripMargin
  }

  /** DuckDB mirror of AnnStream.annStream (nPlanes=8, dim=64, seed=42,
    * k=10): the embAnnOracle formulation with EVERY vector as a query
    * and the corpus restricted to earlier arrivals
    * (corpus_id < query_id) — the id-ordered replay's "arrived so far".
    */
  private def embAnnStreamOracle: String = {
    val ps = llm.Similarity.planes(8, 64)
    def bucketExpr(v: String): String = ps.zipWithIndex.map { case (p, i) =>
      val arr = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"""CASE WHEN list_reduce(list_transform(list_zip($v, $arr::DOUBLE[]),
         |    p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y) >= 0
         |  THEN (1::BIGINT << $i) ELSE 0::BIGINT END""".stripMargin
    }.mkString("\n + ")
    val probes = "b0" +: (0 until 8).map(i => s"xor(b0, ${1L << i}::BIGINT)")
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
       |FROM s QUALIFY rank <= 10""".stripMargin
  }

  /** DuckDB mirror of TextDedup.simhashPairsMd5 (maxHamming=3,
    * maxBucket=1000): the docSimhashMd5Oracle fingerprint, split into 4
    * 15-bit chunks; candidates share a (chunk, value) bucket (pigeonhole-
    * complete at hamming ≤ 3); bucket cap; min hamming per distinct pair.
    */
  private def docSimhashPairsMd5Oracle: String = {
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
       |  HAVING count(*) <= 1000 AND count(*) > 1),
       |ib AS (SELECT ch.* FROM ch JOIN ok USING (c, cv)),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hd
       |  FROM ib a JOIN ib b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(min(hd) AS INTEGER) AS hamming
       |FROM p WHERE hd <= 3 GROUP BY id_a, id_b""".stripMargin
  }

  /** Shared DuckDB cosine fragment (the emb_knn_brute formulation): dot
    * and norms via list_sum over double products — hash-matches the
    * engine's native VecCosine double loop.
    */
  private def duckCosine(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * x)))
       |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * x))))""".stripMargin

  /** DuckDB mirror of Similarity.embeddingNearDupPairs (groups=8,
    * planesPerGroup=4, threshold=0.4, maxBucket=1000, seed=42): the same
    * 32 hyperplane constants embedded verbatim, sliced 4 per band; band
    * codes via the left-fold sign test; bucket-capped band self-join;
    * distinct pairs; one exact cosine verify. Output ids only (the cosine
    * double is representation-sensitive, like knn's sim).
    */
  private def embNearDupPairCtes: String = {
    val groups = 8; val ppg = 4
    val ps = llm.Similarity.planes(groups * ppg, 64)
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
       |s AS (SELECT id_a, id_b, ${duckCosine("pa.v", "pb.v")} AS cos
       |  FROM cand JOIN e pa ON pa.id = cand.id_a JOIN e pb ON pb.id = cand.id_b),
       |ep AS (SELECT id_a, id_b FROM s WHERE cos >= 0.4)""".stripMargin
  }

  private def embNearDupOracle: String =
    s"""WITH $embNearDupPairCtes
       |SELECT id_a, id_b FROM ep""".stripMargin

  /** Survivors of the STREAMING embedding near-dup operator: the same
    * recursive-CTE closure as docNeardupDedupOracle, over the
    * emb_neardup_pairs relation — survivors = min id per connected
    * component + isolated vectors.
    */
  /** Min-label connected components over the emb_neardup_pairs relation
    * (pair members only, like docNeardupClustersOracle).
    */
  private def embNearDupClustersOracle: String =
    s"""WITH RECURSIVE $embNearDupPairCtes,
       |nodes AS (SELECT DISTINCT id FROM (
       |  SELECT id_a AS id FROM ep UNION ALL SELECT id_b AS id FROM ep)),
       |eg AS (SELECT id_a AS a, id_b AS b FROM ep
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM ep),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT eg.a AS id, reach.r FROM eg JOIN reach ON reach.id = eg.b),
       |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT id AS vec_id, cluster_id FROM cc""".stripMargin

  private def embNearDupStreamOracle: String =
    s"""WITH RECURSIVE $embNearDupPairCtes,
       |nodes AS (SELECT DISTINCT id FROM (
       |  SELECT id_a AS id FROM ep UNION ALL SELECT id_b AS id FROM ep)),
       |eg AS (SELECT id_a AS a, id_b AS b FROM ep
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM ep),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT eg.a AS id, reach.r FROM eg JOIN reach ON reach.id = eg.b),
       |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT vec_id FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)""".stripMargin

  /** DuckDB mirror of Similarity.pqTopK (dim=64, nSub=8, codesPerSub=16,
    * k=10): the codebook is derived IN SQL exactly as the engine builds
    * it — subspace slices of the 16 lowest-vec_id rows — then each
    * corpus row is PQ-encoded (argmin squared L2 per subspace, ties to
    * the smallest code), each query gets its subspace-dot lookup table,
    * and candidates rank by ADC-dot / (‖q‖ · reconstructed ‖x‖). Every
    * double accumulates left-fold (list_reduce / list(.. ORDER BY m)),
    * matching PqEncode/PqLut/PqScore's loop order bit-for-bit, so ranks
    * agree across engines; the sim double itself is excluded like the
    * other ANN rows.
    */
  private def embPqOracle: String = embPqOracleSql(lloydIters = 0)

  /** PQ mirror with `lloydIters` per-subspace Lloyd passes unrolled as
    * CTE chains (Similarity.trainedCodebook): each pass assigns the
    * `sampleN` lowest-vec_id sample subvectors by the same left-fold
    * squared-diff argmin the encoder uses (ties → smallest code), then
    * recomputes each (m, j) centroid as the floor(x·2^20)-quantized
    * element-wise mean — bit-identical across engines because the sums
    * are exact integer adds. Codes with no members keep the previous
    * centroid (the LEFT JOIN + coalesce).
    */
  private def embPqOracleSql(lloydIters: Int, sampleN: Int = 512): String = {
    val sub = "(SELECT unnest(generate_series(0, 7)) AS m)"
    val train = (0 until lloydIters).map { i =>
      val prev = if (i == 0) "cb0" else s"cb$i"
      s"""sd$i AS (SELECT s.vec_id, p.m, p.j,
         |    list_reduce(list_transform(list_zip(s.embedding[p.m*8+1 : p.m*8+8], p.cent),
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
         |      generate_subscripts(s.embedding[g.m*8+1 : g.m*8+8], 1) AS pos,
         |      unnest(s.embedding[g.m*8+1 : g.m*8+8]) AS x
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
    val finalCb = s"cb$lloydIters"
    s"""WITH a0 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
       |a AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j, embedding AS av FROM a0),
       |cb0 AS (SELECT m, j, av[m*8+1 : m*8+8] AS cent FROM a CROSS JOIN $sub),$sampCte
       |$train
       |cbn AS (SELECT m, j, cent,
       |    list_reduce(list_transform(cent, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y) AS n2
       |  FROM $finalCb),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
       |enc0 AS (SELECT corpus_id, m, j,
       |    list_reduce(list_transform(list_zip(cv[m*8+1 : m*8+8], cent),
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
       |    list_reduce(list_transform(list_zip(qv[m*8+1 : m*8+8], cent),
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
       |  WHERE corpus_id <> s0.query_id)
       |SELECT query_id, corpus_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
       |FROM s QUALIFY rank <= 10""".stripMargin
  }

  /** DuckDB mirror of Similarity.ivfPqTopK (nCells=16, nProbe=4, dim=64,
    * nSub=8, codesPerSub=16, k=10, no refine): anchor cells (the 16
    * lowest-vec_id rows, Lloyd omitted) assign by argmax cosine (ties →
    * smallest cell); the PQ codebook comes from the SAME anchors;
    * candidates = probed cells' members, scored by ADC with the engine's
    * division order.
    */
  private def embIvfPqOracle: String = {
    val sub = "(SELECT unnest(generate_series(0, 7)) AS m)"
    s"""WITH a0 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
       |a AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j, embedding AS av FROM a0),
       |cb AS (SELECT m, j, av[m*8+1 : m*8+8] AS cent FROM a CROSS JOIN $sub),
       |cbn AS (SELECT m, j, cent,
       |    list_reduce(list_transform(cent, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y) AS n2
       |  FROM cb),
       |centt AS (SELECT vec_id::BIGINT AS cell, embedding AS centroid
       |    FROM embeddings ORDER BY vec_id LIMIT 16),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
       |asg AS (SELECT corpus_id, cell FROM (
       |  SELECT corpus_id, cell,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cell, ${duckCosine("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN centt)) WHERE rn = 1),
       |enc0 AS (SELECT corpus_id, m, j,
       |    list_reduce(list_transform(list_zip(cv[m*8+1 : m*8+8], cent),
       |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
       |      (x, y) -> x + y) AS d
       |  FROM c CROSS JOIN cbn),
       |codes AS (SELECT corpus_id, m, j AS code FROM (
       |  SELECT corpus_id, m, j, row_number() OVER (PARTITION BY corpus_id, m ORDER BY d ASC, j) AS rn
       |  FROM enc0) WHERE rn = 1),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
       |pr AS (SELECT query_id, cell FROM (
       |  SELECT query_id, cell,
       |    row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT query_id, cell, ${duckCosine("qv", "centroid")} AS csim
       |        FROM q0 CROSS JOIN centt)) WHERE rn <= 4),
       |cand AS (SELECT pr.query_id, asg.corpus_id FROM asg JOIN pr USING (cell)
       |  WHERE asg.corpus_id <> pr.query_id),
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

  /** DuckDB mirror of Similarity.ivfPqTopK(residual = true) (nCells=16,
    * nProbe=4, dim=64, nSub=8, codesPerSub=16, k=10, lloydIters=0):
    * Faiss-IndexIVFPQ-style — each corpus row PQ-encodes its RESIDUAL
    * against its assigned cell's centroid. The mirror re-derives every
    * deployed literal in SQL: the 16 anchor centroids; the residual
    * anchors (rows 17–32 by id, argmax-cosine-assigned, centroid-
    * subtracted); the residual codebook (subspace slices of those
    * residuals); the per-(m, j) ‖cb‖² and the per-cell norm-correction
    * table w(cell, m, j) = 2·dot(centroidₘ, cb(m, j)) + ‖cb(m, j)‖².
    * Scoring reassembles cosine exactly like the engine:
    * (q·c + Σ lut) / (√(‖c‖² + Σ w) · ‖q‖), 0 when the reconstructed
    * norm² ≤ 0. sim itself is excluded from the compared columns (rank
    * only), the same policy as every ANN row.
    */
  private def embIvfPqResidualOracle: String =
    embIvfPqResidualOracleSql(stream = false)

  /** The stream variant (`AnnStream.ivfPqAnnStream(residual = true)`
    * through the id-ordered replay): every vector is a query, candidates
    * are earlier arrivals (corpus_id < query_id) — same full-set deployed
    * literals, so no prefix-model divergence exists to account for.
    */
  private def embIvfPqResidualStreamOracle: String =
    embIvfPqResidualOracleSql(stream = true)

  private def embIvfPqResidualOracleSql(stream: Boolean): String = {
    val sub = "(SELECT unnest(generate_series(0, 7)) AS m)"
    val qFilter = if (stream) "" else " WHERE vec_id < 20"
    val candRestrict = if (stream) "<" else "<>"
    s"""WITH centt AS (SELECT vec_id::BIGINT AS cell, embedding AS centroid
       |    FROM embeddings ORDER BY vec_id LIMIT 16),
       |cn2 AS (SELECT cell,
       |    list_reduce(list_transform(centroid, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y) AS cn2
       |  FROM centt),
       |ra AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j, embedding AS av
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16 OFFSET 16)),
       |rasg AS (SELECT j, av, centroid FROM (
       |  SELECT j, av, centroid,
       |    row_number() OVER (PARTITION BY j ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT ra.j, ra.av, centt.cell, centt.centroid,
       |          ${duckCosine("av", "centroid")} AS csim
       |        FROM ra CROSS JOIN centt)) WHERE rn = 1),
       |rv AS (SELECT j, list_transform(list_zip(av, centroid),
       |    z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS resid FROM rasg),
       |cb AS (SELECT m, j, resid[m*8+1 : m*8+8] AS cent FROM rv CROSS JOIN $sub),
       |rn2 AS (SELECT m, j,
       |    list_reduce(list_transform(cent, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y) AS n2
       |  FROM cb),
       |w AS (SELECT centt.cell, cb.m, cb.j,
       |    2.0 * list_reduce(list_transform(list_zip(centt.centroid[cb.m*8+1 : cb.m*8+8], cb.cent),
       |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (x, y) -> x + y) + rn2.n2 AS w
       |  FROM centt CROSS JOIN cb JOIN rn2 ON rn2.m = cb.m AND rn2.j = cb.j),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
       |asg AS (SELECT corpus_id, cell, cv, centroid FROM (
       |  SELECT corpus_id, cell, cv, centroid,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cell, cv, centroid, ${duckCosine("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN centt)) WHERE rn = 1),
       |crv AS (SELECT corpus_id, cell, list_transform(list_zip(cv, centroid),
       |    z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS rvv FROM asg),
       |enc0 AS (SELECT corpus_id, cell, cb.m, cb.j,
       |    list_reduce(list_transform(list_zip(rvv[cb.m*8+1 : cb.m*8+8], cb.cent),
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
       |  FROM (SELECT query_id, cell, ${duckCosine("qv", "centroid")} AS csim,
       |          list_reduce(list_transform(list_zip(qv, centroid),
       |            z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (x, y) -> x + y) AS qdotc
       |        FROM q0 CROSS JOIN centt)) WHERE rn <= 4),
       |lut AS (SELECT query_id, m, j,
       |    list_reduce(list_transform(list_zip(qv[m*8+1 : m*8+8], cent),
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
       |    CASE WHEN (cn2.cn2 + cw) <= 0 THEN 0.0
       |         ELSE (qdotc + adc) / (sqrt(cn2.cn2 + cw) * qn.qn) END AS sim
       |  FROM s0 JOIN qn ON qn.query_id = s0.query_id
       |          JOIN cn2 ON cn2.cell = s0.cell)
       |SELECT query_id, corpus_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
       |FROM s QUALIFY rank <= 10""".stripMargin
  }

  /** DuckDB mirror of AnnStream.ivfPqAnnStream (nCells=16, nProbe=4,
    * dim=64, nSub=8, codesPerSub=16, k=10): the embIvfPqOracle machinery
    * with EVERY vector as a query and candidates restricted to earlier
    * arrivals (corpus_id < query_id — the id-ordered replay's "arrived
    * so far"), scores divided in the engine's exact order.
    */
  private def embIvfPqStreamOracle: String = {
    val sub = "(SELECT unnest(generate_series(0, 7)) AS m)"
    s"""WITH a0 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
       |a AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j, embedding AS av FROM a0),
       |cb AS (SELECT m, j, av[m*8+1 : m*8+8] AS cent FROM a CROSS JOIN $sub),
       |cbn AS (SELECT m, j, cent,
       |    list_reduce(list_transform(cent, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y) AS n2
       |  FROM cb),
       |centt AS (SELECT vec_id::BIGINT AS cell, embedding AS centroid
       |    FROM embeddings ORDER BY vec_id LIMIT 16),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
       |asg AS (SELECT corpus_id, cell FROM (
       |  SELECT corpus_id, cell,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cell, ${duckCosine("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN centt)) WHERE rn = 1),
       |enc0 AS (SELECT corpus_id, m, j,
       |    list_reduce(list_transform(list_zip(cv[m*8+1 : m*8+8], cent),
       |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
       |      (x, y) -> x + y) AS d
       |  FROM c CROSS JOIN cbn),
       |codes AS (SELECT corpus_id, m, j AS code FROM (
       |  SELECT corpus_id, m, j, row_number() OVER (PARTITION BY corpus_id, m ORDER BY d ASC, j) AS rn
       |  FROM enc0) WHERE rn = 1),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings),
       |pr AS (SELECT query_id, cell FROM (
       |  SELECT query_id, cell,
       |    row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT query_id, cell, ${duckCosine("qv", "centroid")} AS csim
       |        FROM q0 CROSS JOIN centt)) WHERE rn <= 4),
       |cand AS (SELECT pr.query_id, asg.corpus_id FROM asg JOIN pr USING (cell)
       |  WHERE asg.corpus_id < pr.query_id),
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

  /** DuckDB mirror of AnnStream.pqAnnStream (dim=64, nSub=8,
    * codesPerSub=16, nPlanes=8, k=10): the embPqOracle codebook/encode/
    * LUT machinery with EVERY vector as a query, candidates restricted
    * to the query's 9 probe buckets AND earlier arrivals
    * (corpus_id < query_id — the id-ordered replay's "arrived so far"),
    * scores divided in the engine's exact order ((adc/√cn2)/‖q‖).
    */
  private def embPqStreamOracle: String = {
    val ps = llm.Similarity.planes(8, 64)
    def bucketExpr(v: String): String = ps.zipWithIndex.map { case (p, i) =>
      val arr = p.map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"""CASE WHEN list_reduce(list_transform(list_zip($v, $arr::DOUBLE[]),
         |    p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y) >= 0
         |  THEN (1::BIGINT << $i) ELSE 0::BIGINT END""".stripMargin
    }.mkString("\n + ")
    val probes = "b0" +: (0 until 8).map(i => s"xor(b0, ${1L << i}::BIGINT)")
    val sub = "(SELECT unnest(generate_series(0, 7)) AS m)"
    s"""WITH a0 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
       |a AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j, embedding AS av FROM a0),
       |cb AS (SELECT m, j, av[m*8+1 : m*8+8] AS cent FROM a CROSS JOIN $sub),
       |cbn AS (SELECT m, j, cent,
       |    list_reduce(list_transform(cent, x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y) AS n2
       |  FROM cb),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv,
       |    ${bucketExpr("embedding")} AS bucket FROM embeddings),
       |enc0 AS (SELECT corpus_id, m, j,
       |    list_reduce(list_transform(list_zip(cv[m*8+1 : m*8+8], cent),
       |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
       |      (x, y) -> x + y) AS d
       |  FROM c CROSS JOIN cbn),
       |codes AS (SELECT corpus_id, m, j AS code FROM (
       |  SELECT corpus_id, m, j, row_number() OVER (PARTITION BY corpus_id, m ORDER BY d ASC, j) AS rn
       |  FROM enc0) WHERE rn = 1),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv,
       |    ${bucketExpr("embedding")} AS b0 FROM embeddings),
       |pr AS (SELECT query_id, unnest([${probes.mkString(", ")}]) AS bucket FROM q0),
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

  /** DuckDB mirror of Similarity.ivfTopK (nCells=16, nProbe=4, k=10,
    * lloydIters=1): anchor centroids = the 16 lowest-vec_id rows; corpus
    * assigned to the argmax-cosine cell (ties to the smallest cell,
    * matching the engine's (csim, -cell) max_by); ONE Lloyd pass
    * recomputes each centroid as its cell's element-wise mean on
    * floor(x·2^20) longs (exact order-free sums — the cross-engine
    * determinism trick, see ivfTopK's scaladoc) and reassigns; queries
    * probe the 4 nearest refined cells; rank-compared like emb_knn_brute.
    */
  /** DuckDB mirror of CorpusOps.lmPerplexity's integer sufficient
    * statistics (self-trained, α irrelevant to the hashed columns):
    * unigram/bigram train counts, the per-(doc, bigram-type)
    * multiplicity relation, both probe lookups, and the per-doc sums.
    * Bigrams = the doc_repetition mirror's inclusive-slice idiom;
    * HUGEINT sums cast back to BIGINT for schema parity.
    */
  private def docLmPplOracle: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |uni AS (SELECT tok, count(*) AS c1
      |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
      |bg AS (SELECT doc_id, toks,
      |  list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
      |    i -> array_to_string(toks[i:i+1], ' ')) AS grams
      |  FROM t),
      |bi AS (SELECT gr, count(*) AS c12
      |  FROM (SELECT unnest(grams) AS gr FROM bg) GROUP BY gr),
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

  /** DuckDB mirror of CorpusOps.dsirWeights' integer surface (target =
    * doc_id%10=0, raw pool = the rest, gramNs = (1,2), hexChars = 2):
    * re-derives the tokenize → unigram+bigram → md5-prefix bucket chain,
    * both corpus bucket-count relations, the per-(doc, bucket)
    * multiplicities, the probe joins, and the per-doc integer folds. The
    * ln-based `logw` is excluded like doc_lm_ppl's `ppl` (doubles are
    * not correctly-rounded across engines; fixture-pinned in sbt).
    */
  /** DuckDB mirror of CorpusOps.qualityClfScore's integer surface over
    * the lang='en'-vs-rest labeled split (gramNs = 1,2, hexChars = 2,
    * md5 family): re-derives tokenize, the unigram+bigram md5 feature
    * buckets, both class count relations, and the per-doc probe-join
    * folds. The NB log-odds score + pred are closed forms of these
    * integers and the class totals — pinned by the plain-Scala
    * re-derivation in LlmOpsSpec, not hashed (doubles).
    */
  private def docQualityClfOracle: String =
    """WITH t AS (SELECT doc_id, lang,
      |  list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '') AS toks
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

  private def docDsirOracle: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, list_concat(toks,
      |    list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
      |      i -> array_to_string(toks[i:i+1], ' '))) AS grams
      |  FROM t),
      |occ AS (SELECT doc_id, substr(md5(gr), 1, 2) AS bucket
      |  FROM (SELECT doc_id, unnest(grams) AS gr FROM g)),
      |tgt AS (SELECT bucket, count(*) AS c_tgt FROM occ
      |  WHERE doc_id % 10 = 0 GROUP BY bucket),
      |raw AS (SELECT bucket, count(*) AS c_raw FROM occ
      |  WHERE doc_id % 10 <> 0 GROUP BY bucket),
      |db AS (SELECT doc_id, bucket, count(*) AS m FROM occ
      |  WHERE doc_id % 10 <> 0 GROUP BY doc_id, bucket),
      |j AS (SELECT db.doc_id, db.m,
      |    coalesce(tgt.c_tgt, 0) AS c_tgt, coalesce(raw.c_raw, 0) AS c_raw
      |  FROM db LEFT JOIN tgt ON db.bucket = tgt.bucket
      |    LEFT JOIN raw ON db.bucket = raw.bucket),
      |a AS (SELECT doc_id, sum(m) AS n_grams,
      |    sum(CASE WHEN c_tgt = 0 THEN m ELSE 0 END) AS oov_tgt,
      |    sum(CASE WHEN c_raw = 0 THEN m ELSE 0 END) AS oov_raw,
      |    sum(c_tgt * m) AS hit_tgt, sum(c_raw * m) AS hit_raw
      |  FROM j GROUP BY doc_id)
      |SELECT t.doc_id,
      |  CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(coalesce(a.oov_tgt, 0) AS BIGINT) AS oov_tgt,
      |  CAST(coalesce(a.oov_raw, 0) AS BIGINT) AS oov_raw,
      |  CAST(coalesce(a.hit_tgt, 0) AS BIGINT) AS hit_tgt,
      |  CAST(coalesce(a.hit_raw, 0) AS BIGINT) AS hit_raw
      |FROM t LEFT JOIN a ON t.doc_id = a.doc_id
      |WHERE t.doc_id % 10 <> 0""".stripMargin

  /** DuckDB mirror of TextSearch.bm25Stats' integer surface (corpus =
    * doc_id%10<>0, queries = the eval split, maxDfFrac = 0.5):
    * re-derives tokenize, the (term, doc) postings with doc length, the
    * document-frequency relation with the stopword pruning HAVING, the
    * distinct query terms, and both probe joins + the per-(query, doc)
    * integer folds. The ln-based idf/score/rank live in bm25TopK and are
    * spec-pinned (doubles aren't correctly-rounded across engines).
    */
  private def docBm25Oracle: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |corp AS (SELECT doc_id, len(toks) AS dl, toks FROM t WHERE doc_id % 10 <> 0),
      |post0 AS (SELECT tok, doc_id, dl, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM corp)
      |  GROUP BY tok, doc_id, dl),
      |dfa AS (SELECT tok, count(*) AS df_t FROM post0 GROUP BY tok
      |  HAVING count(*) <= 0.5 * (SELECT count(*) FROM corp)),
      |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS tok
      |  FROM t WHERE doc_id % 10 = 0),
      |qtd AS (SELECT qt.query_id, qt.tok, dfa.df_t FROM qt
      |  JOIN dfa ON qt.tok = dfa.tok)
      |SELECT qtd.query_id, post0.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_match,
      |  CAST(sum(post0.tf) AS BIGINT) AS tf_sum,
      |  CAST(sum(post0.tf * qtd.df_t) AS BIGINT) AS tfdf_sum,
      |  CAST(min(post0.dl) AS BIGINT) AS dl
      |FROM qtd JOIN post0 ON qtd.tok = post0.tok
      |GROUP BY qtd.query_id, post0.doc_id""".stripMargin

  /** DuckDB mirror of Bm25IngestStream's earlier-arrivals retrieval
    * (tagged id-ordered feed: corpus = doc_id%10<>0, queries = %10=0,
    * maxDf = 250): the STORED postings are each term's first-by-id
    * maxDf docs (`rnk <= 250` — the online Zipf-head saturation), a
    * query sees exactly the stored postings with doc_id < query_id, and
    * the at-probe df counts those same rows; the per-(query, doc) fold
    * matches the consumer-side fold in the SparkEntry row.
    */
  private def docBm25IngestOracle: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(str_split_regex(lower(text), '[^\p{L}\p{Nd}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |corp AS (SELECT doc_id, len(toks) AS dl, toks FROM t WHERE doc_id % 10 <> 0),
      |post0 AS (SELECT tok, doc_id, dl, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM corp)
      |  GROUP BY tok, doc_id, dl),
      |kept AS (SELECT * FROM (
      |  SELECT tok, doc_id, dl, tf,
      |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rnk
      |  FROM post0) WHERE rnk <= 250),
      |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS tok
      |  FROM t WHERE doc_id % 10 = 0),
      |probe AS (SELECT qt.query_id, k.doc_id, k.tok, k.tf, k.dl,
      |    count(*) OVER (PARTITION BY qt.query_id, k.tok) AS df_p
      |  FROM qt JOIN kept k ON k.tok = qt.tok AND k.doc_id < qt.query_id)
      |SELECT query_id, doc_id,
      |  CAST(count(*) AS BIGINT) AS n_match,
      |  CAST(sum(tf) AS BIGINT) AS tf_sum,
      |  CAST(sum(tf * df_p) AS BIGINT) AS tfdf_sum,
      |  CAST(min(dl) AS BIGINT) AS dl
      |FROM probe GROUP BY query_id, doc_id""".stripMargin

  /** DuckDB mirror of Similarity.semDedup (dim=64, eps=0.3, nCells=16,
    * lloydIters=1): the emb_ann_ivf centroid chain (anchor init + one
    * quantized-mean Lloyd pass — bit-identical across engines), the
    * final assignment KEEPING each row's winning csim, the within-cell
    * ε-pair self-join, the min-label closure (recursive CTE, same
    * pattern as the near-dup cluster oracles), and the keep rank
    * (csim ASC, id ASC per component; rn > 1 members are dropped).
    */
  private def embSemDedupOracle: String =
    s"""WITH RECURSIVE cent0 AS (SELECT vec_id::BIGINT AS cell, embedding AS centroid
       |    FROM embeddings ORDER BY vec_id LIMIT 16),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
       |asg0 AS (SELECT corpus_id, cv, cell FROM (
       |  SELECT corpus_id, cv, cell,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cv, cell, ${duckCosine("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN cent0)) WHERE rn = 1),
       |el AS (SELECT cell, generate_subscripts(cv, 1) AS pos, unnest(cv) AS x FROM asg0),
       |cm AS (SELECT cell, pos,
       |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
       |      / (count(*) * 1048576.0) AS m
       |  FROM el GROUP BY cell, pos),
       |cent AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cm GROUP BY cell),
       |asg AS (SELECT corpus_id, cv, cell, csim FROM (
       |  SELECT corpus_id, cv, cell, csim,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cv, cell, ${duckCosine("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN cent)) WHERE rn = 1),
       |ep AS (SELECT a.corpus_id AS id_a, b.corpus_id AS id_b
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.corpus_id < b.corpus_id
       |  WHERE ${duckCosine("a.cv", "b.cv")} >= 0.3),
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
       |SELECT vec_id FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM rk WHERE rn > 1)""".stripMargin

  /** The HOT-CELL-CAPPED mirror (nCells=4, eps=0.3125, lloydIters=1,
    * maxCell=130): identical chain, plus the occupancy relation `csz`
    * and the ok-cell filter on the ε-pair scan — cells above the cap
    * produce no pairs, so their members all survive. The shared WITH
    * prefix also serves the dropped-cells telemetry row.
    */
  private def embSemDedupCappedWith: String =
    s"""WITH RECURSIVE cent0 AS (SELECT vec_id::BIGINT AS cell, embedding AS centroid
       |    FROM embeddings ORDER BY vec_id LIMIT 4),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
       |asg0 AS (SELECT corpus_id, cv, cell FROM (
       |  SELECT corpus_id, cv, cell,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cv, cell, ${duckCosine("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN cent0)) WHERE rn = 1),
       |el AS (SELECT cell, generate_subscripts(cv, 1) AS pos, unnest(cv) AS x FROM asg0),
       |cm AS (SELECT cell, pos,
       |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
       |      / (count(*) * 1048576.0) AS m
       |  FROM el GROUP BY cell, pos),
       |cent AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cm GROUP BY cell),
       |asg AS (SELECT corpus_id, cv, cell, csim FROM (
       |  SELECT corpus_id, cv, cell, csim,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cv, cell, ${duckCosine("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN cent)) WHERE rn = 1),
       |csz AS (SELECT cell, count(*) AS n FROM asg GROUP BY cell)""".stripMargin

  private def embSemDedupCappedOracle: String =
    s"""$embSemDedupCappedWith,
       |ok AS (SELECT cell FROM csz WHERE n <= 130),
       |ep AS (SELECT a.corpus_id AS id_a, b.corpus_id AS id_b
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.corpus_id < b.corpus_id
       |  JOIN ok ON ok.cell = a.cell
       |  WHERE ${duckCosine("a.cv", "b.cv")} >= 0.3125),
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
       |SELECT vec_id FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM rk WHERE rn > 1)""".stripMargin

  private def embSemDedupDroppedCellsOracle: String =
    s"""$embSemDedupCappedWith
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(n AS BIGINT) AS size
       |FROM csz WHERE n > 130""".stripMargin

  private def embIvfOracle: String =
    s"""WITH cent0 AS (SELECT vec_id::BIGINT AS cell, embedding AS centroid
       |    FROM embeddings ORDER BY vec_id LIMIT 16),
       |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
       |asg0 AS (SELECT corpus_id, cv, cell FROM (
       |  SELECT corpus_id, cv, cell,
       |    row_number() OVER (PARTITION BY corpus_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT corpus_id, cv, cell, ${duckCosine("cv", "centroid")} AS csim
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
       |  FROM (SELECT corpus_id, cv, cell, ${duckCosine("cv", "centroid")} AS csim
       |        FROM c CROSS JOIN cent)) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
       |pr AS (SELECT query_id, qv, cell FROM (
       |  SELECT query_id, qv, cell,
       |    row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cell) AS rn
       |  FROM (SELECT query_id, qv, cell, ${duckCosine("qv", "centroid")} AS csim
       |        FROM q CROSS JOIN cent)) WHERE rn <= 4),
       |s AS (SELECT query_id, corpus_id, ${duckCosine("qv", "cv")} AS sim
       |  FROM asg JOIN pr USING (cell) WHERE corpus_id <> query_id)
       |SELECT query_id, corpus_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INTEGER) AS rank
       |FROM s QUALIFY rank <= 10""".stripMargin

  /** DuckDB mirror of Multimodal.extractFeaturesChecked over media built
    * with mirrorableDims: payload = UTF-8 bytes of text, so n_bytes =
    * strlen(text); lane j sums the code points at 1-based char positions
    * j+1, j+9, ... (unicode(ch)); width = len %% 512 + 32 folds into f0,
    * height = (len*7) %% 512 + 32 into f1.
    */
  private def mmFeaturesOracle: String = {
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
