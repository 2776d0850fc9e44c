package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Multimodal, Similarity, TextDedup, TextAnalysis}

/** Self-consistency tests for the LLM-pipeline operators that have no SQL
  * oracle: near-dup recall vs exact Jaccard, ANN recall vs brute force,
  * language-ID accuracy vs the labeled corpus, multimodal plumbing shape.
  * Corpus = driver-provided sf0.001 tables (read-only).
  */
class LlmOpsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, sf).cache()
  private lazy val embs = Tables.embeddings(spark, sf).cache()

  test("exactDedup keeps one row per distinct text, lowest id") {
    val dup = docs.select("doc_id", "text")
      .union(docs.select(col("doc_id") + 10000, col("text"))) // forced dupes
    val r = TextDedup.exactDedup(dup, Seq("text"), "doc_id")
    assert(r.count() === docs.count())
    assert(r.agg(max("doc_id")).as[Long].head() < 10000) // lowest id won
  }

  test("minhash signature is identical for identical texts") {
    val two = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val pairs = TextDedup.minhashPairs(two, "text", "doc_id", threshold = 0.99)
    assert(pairs.count() === 1)
    assert(pairs.select("jaccard").as[Double].head() === 1.0)
  }

  test("minhashPairs recall: finds every exact-Jaccard>=0.5 pair found by brute force") {
    // brute-force ground truth on the 500-doc corpus (fine at sf0.001)
    val withSh = docs.select(col("doc_id").as("id"),
        TextDedup.shingles(TextDedup.tokenize(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = withSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = withSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), TextDedup.jaccard(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = TextDedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "corpus should contain near-dup pairs")
    // banded minhash is probabilistic on candidate GENERATION; with 8 bands
    // of 4 rows, P(candidate | j=0.5) per band ≈ 0.94 overall — demand full
    // recall at this threshold on this corpus and exact verify → no false positives
    assert(found === truth)
  }

  test("crossMinhashPairs: equals brute-force cross pairs; never emits within-side pairs") {
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val eval = docs.filter(col("doc_id") % 10 === 0)
    // brute-force cross ground truth at the high-similarity threshold
    def withSh(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").as("id"),
          TextDedup.shingles(TextDedup.tokenize(col("text")), 3).as("sh"))
        .filter(size(col("sh")) > 0)
    val truth = withSh(train).select(col("id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(withSh(eval).select(col("id").as("id_b"), col("sh").as("sh_b")))
      .select(col("id_a"), col("id_b"), TextDedup.jaccard(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = TextDedup.crossMinhashPairs(train, eval, "text", "doc_id",
        bands = 8, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "corpus should contain cross-split near-dup pairs")
    assert(found === truth)
    // side discipline: id_a is always train, id_b always eval
    found.foreach { case (a, b) =>
      assert(a % 10 != 0, s"id_a $a is an eval doc")
      assert(b % 10 == 0, s"id_b $b is a train doc")
    }
    // fuzzy decontamination = train minus pairs' train side
    val survivors = TextDedup.fuzzyDecontaminate(train, eval, "doc_id", "text",
        bands = 8, rowsPerBand = 4, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val contaminated = truth.map(_._1)
    val trainIds = train.select("doc_id").as[Long].collect().toSet
    assert(survivors === (trainIds -- contaminated))
  }

  test("capPerGroup: keeps exactly the cap lowest-priority rows per group") {
    val capped = llm.CorpusOps.capPerGroup(docs, "source", "doc_id", 7)
    val bySrc = capped.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc.values.forall(_ <= 7), s"a source exceeds the cap: $bySrc")
    // deterministic keep set: the 7 lowest doc_ids per source
    val expect = docs.select("doc_id", "source").as[(Long, String)].collect()
      .groupBy(_._2).values.flatMap(rows => rows.map(_._1).sorted.take(7)).toSet
    val got = capped.select("doc_id").as[Long].collect().toSet
    assert(got === expect)
    // cap larger than any group is the identity
    assert(llm.CorpusOps.capPerGroup(docs, "source", "doc_id", 1000000).count() === docs.count())
  }

  // The next four tests are regression guards on the declarative plan:
  // rounds 12-13 hand-built a partition-local pre-cap here (first
  // mapPartitions, then a stateful predicate) whose admission comparator
  // and state bounds each had edge-case bugs; the hot-group probe then
  // showed Catalyst's InferWindowGroupLimit already provides the
  // two-level shape natively and the hand-built level was deleted.
  // These pin the behaviors any future pre-filter MUST preserve.

  test("capPerGroup: supplementary-character string order follows the window (UTF-8), not UTF-16") {
    // U+1F600 (😀, UTF-16 lead surrogate 0xD83D) vs U+FF21 (Ａ): Java
    // String order says 😀 < Ａ; Spark's UTF8String binary order says
    // Ａ < 😀. A pre-filter admitting under Java order would reject Ａ
    // after seeing 😀 at cap=1 — dropping the row the window keeps.
    val rows = Seq((1L, "g", "😀"), (2L, "g", "Ａ"))
      .toDF("id", "grp", "ord").repartition(1) // same partition: one local group-limit sees both
    val kept = llm.CorpusOps.capPerGroup(rows, "grp", "ord", 1)
      .select("id").as[Long].collect().toSeq
    assert(kept === Seq(2L), s"expected the UTF-8-smaller Ａ row, got ids $kept")
  }

  test("capPerGroup: tie-heavy order column keeps exactly cap rows") {
    // 50 rows, ONE order value: boundary ties must not over- or
    // under-admit through the partial group-limit
    val ties = spark.range(50).select(col("id"), lit("g").as("grp"), lit(7).as("ord"))
    assert(llm.CorpusOps.capPerGroup(ties, "grp", "ord", 5).count() === 5L)
  }

  test("capPerGroup: array order column ranks lexicographically") {
    // array<bigint> order values exercise the orderable-but-not-
    // Comparable-at-runtime representation the deleted pre-cap had to
    // special-case; the declarative window handles it natively
    val arr = spark.range(20).select((col("id") % 4).cast("string").as("grp"),
      array(col("id"), col("id") * 2).as("ord"), col("id"))
    val capped = llm.CorpusOps.capPerGroup(arr, "grp", "ord", 2)
    assert(capped.groupBy("grp").count().as[(String, Long)].collect().forall(_._2 === 2L))
    // lowest array values (lexicographic = lowest ids here) are the kept set
    val keptIds = capped.select("id").as[Long].collect().toSet
    assert(keptIds === Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("capPerGroup: 64k+ distinct groups in one partition stay exact") {
    // high group cardinality in a single partition — the regime where
    // the deleted pre-cap's heap map needed an explicit bound; the
    // window group-limit's per-partition state is the sort itself
    val n = (1 << 16) + 500
    val wide = spark.range(n * 2).select(
      (col("id") % n).cast("string").as("grp"), col("id")).repartition(1)
    val capped = llm.CorpusOps.capPerGroup(wide, "grp", "id", 1)
    assert(capped.count() === n.toLong)
    // each group's survivor is its minimum id (ids i and i+n share group i)
    assert(capped.agg(max("id")).as[Long].head() < n.toLong)
  }

  test("capPerGroup plan: partial WindowGroupLimit runs below the exchange") {
    // the scale mechanism is Catalyst's, so pin it: the physical plan
    // must pre-filter each partition to cap rows per group BEFORE the
    // group-keyed exchange (a regression here re-opens the hot-group
    // shuffle the operator exists to avoid)
    val plan = llm.CorpusOps.capPerGroup(docs, "source", "doc_id", 7)
      .queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("WindowGroupLimit")
    assert(partialIdx >= 0 && plan.indexOf("Partial", partialIdx) >= 0,
      s"no partial WindowGroupLimit in plan:\n$plan")
    assert(plan.indexOf("Exchange") >= 0 &&
      plan.indexOf("Exchange") < plan.lastIndexOf("WindowGroupLimit"),
      "partial group-limit is not below the exchange")
  }

  test("mixByTokenBudget plan: the text column never enters the exchange " +
      "(token count computed below it)") {
    // the 100 TB shape: only (id, group, n_tok) shuffle to the window;
    // a regression that shuffles the payload text re-opens a corpus-
    // sized exchange for a three-small-column window
    val plan = llm.CorpusOps.mixByTokenBudget(docs, "doc_id", "text",
        "source", defaultBudget = 500L)
      .queryExecution.executedPlan.toString
    val exIdx = plan.indexOf("Exchange")
    assert(exIdx >= 0, s"no exchange in plan:\n$plan")
    val aboveExchange = plan.substring(0, exIdx)
    assert(!aboveExchange.contains("text#"),
      s"text column crossed the exchange:\n$plan")
    assert(plan.indexOf("regexp_extract_all") > exIdx,
      s"token count must be computed below the exchange:\n$plan")
  }

  test("mixByTokenBudgetSegmented plan: per-doc window keyed by (group, " +
      "range); text scanned once (ReusedExchange); text never shuffles") {
    // the hot-source fix: the per-doc cumsum window must partition on
    // (group, __rng_lo) — a window partitioned on the group alone
    // re-opens the single-task sort of a hot group's full corpus share
    // UNCACHED read — the 100 TB shape is a parquet scan, and AQE's
    // stage-reuse cache matches on the canonicalized exchange subtree
    // (a cached relation inserts per-branch TableCacheQueryStage nodes
    // that defeat the match). CacheManager substitutes the suite's
    // cached `docs` into ANY matching sub-plan, so the cache must be
    // cleared for this test (re-registered below for the later tests).
    spark.catalog.clearCache()
    val plan = try {
      val freshDocs = Tables.documents(spark, sf)
      val df = llm.CorpusOps.mixByTokenBudgetSegmented(freshDocs, "doc_id",
        "text", "source", defaultBudget = 500L, rangeWidth = 64L)
      df.collect() // AQE resolves exchange reuse at runtime — read the FINAL plan
      df.queryExecution.executedPlan.toString
    } finally { docs.cache(); docs.count() } // restore the suite's cache
    // the per-doc window's spec names source, the range key, AND the
    // doc order — the offsets window (source + range order, no doc_id)
    // must not satisfy this
    val specs = "windowspecdefinition\\([^)]*\\)".r
      .findAllIn(plan).toList
    assert(specs.exists(s => s.contains("source#") &&
        s.contains("__rng_lo#") && s.contains("doc_id#")),
      s"per-doc window not range-keyed (hot group would serialize):\n$plan")
    // one text scan: the (group, range) exchange feeds both the local
    // window and the subtotal branch via ReusedExchange
    assert(plan.contains("ReusedExchange"),
      s"subtotal branch re-scans the corpus (no ReusedExchange):\n$plan")
    // the mixByTokenBudget payload-pruning property carries over
    val exIdx = plan.indexOf("Exchange")
    assert(exIdx >= 0 && !plan.substring(0, exIdx).contains("text#"),
      s"text column crossed the exchange:\n$plan")
  }

  test("nearDupClusters: min-label CC equals an in-memory union-find closure") {
    // chain 1-2-3 (transitive: 1~3 never paired), clique 10/11/12,
    // isolated pair 20-21, and a 4-hop path 30..34 (exercises >1 round)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L))
      .toDF("id_a", "id_b")
    val got = TextDedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    // ground truth: union-find over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    assert(got === want)
    assert(got(3L) === 1L, "transitive chain must collapse to the min id")
    assert(got(34L) === 30L, "4-hop path must converge")
  }

  test("nearDupClusters: driver fast path equals the distributed loop") {
    // long chains (the worst case for round counts — and where union-by-
    // min could diverge from propagation if either were wrong), a clique,
    // shared-member merges, and an int-typed id variant
    val es = (30L to 60L).sliding(2).map(w => (w(0), w(1))).toSeq ++
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (100L, 3L), (100L, 101L))
    val pairs = es.toDF("id_a", "id_b")
    val fast = TextDedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = TextDedup.nearDupClusters(pairs, driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast === dist)
    assert(fast(60L) === 30L, "31-node chain collapses to its min")
    assert(fast(101L) === 1L, "shared member merges components")
    // int ids: fast path must preserve the input id type in its schema
    val intPairs = Seq((5, 6), (6, 7)).toDF("id_a", "id_b")
    val intOut = TextDedup.nearDupClusters(intPairs)
    assert(intOut.schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(intOut.as[(Int, Int)].collect().toMap === Map(5 -> 5, 6 -> 5, 7 -> 5))
  }

  test("nearDupClusters of an empty pairs relation is empty; dedupByPairs drops losers only") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(TextDedup.nearDupClusters(empty).isEmpty)
    // dedup: docs with a duplicated text — survivors = exactDedup's set
    val dup = docs.select(col("doc_id"), col("text"))
      .union(docs.select(col("doc_id") + 10000, col("text")))
    val pairs = TextDedup.minhashPairs(dup, "text", "doc_id", threshold = 0.99)
    val kept = TextDedup.dedupByPairs(dup, "doc_id", pairs)
    assert(kept.filter(col("doc_id") >= 10000).isEmpty,
      "every high-id clone loses to its low-id original")
    assert(kept.count() === docs.count())
  }

  test("simhash of identical token streams is identical; disjoint texts differ") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "completely different words entirely")).toDF("doc_id", "text")
    val h = df.select(col("doc_id"), TextDedup.simhash(TextDedup.tokenize(col("text"))).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) === h(2L))
    assert(h(1L) !== h(3L))
  }

  test("simhashDf (explode+agg) equals the expression-form simhash") {
    val viaDf = TextDedup.simhashDf(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val viaExpr = docs.select(col("doc_id"),
        TextDedup.simhash(TextDedup.tokenize(col("text"))))
      .as[(Long, Long)].collect().toMap
    assert(viaDf === viaExpr.filter { case (k, _) => viaDf.contains(k) })
    assert(viaDf.size === docs.count()) // every doc has tokens in this corpus
  }

  test("simhashPairs finds near-identical docs via chunk buckets") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (3L, "astronomy telescopes observe distant galaxies through clear mountain air"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.simhashPairs(df, "text", "doc_id", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("ngramJaccardPairs agrees with exact jaccard on its own candidates") {
    val pairs = TextDedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.1)
    assert(pairs.count() > 0)
    assert(pairs.filter(col("jaccard") < 0.1 || col("jaccard") > 1.0).count() === 0)
  }

  test("minhashPairsMd5: identical docs pair at jaccard 1.0, unrelated docs don't") {
    val three = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely unrelated words about astronomy and telescopes tonight"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.minhashPairsMd5(three, "text", "doc_id", threshold = 0.99)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(pairs === Set((1L, 2L, 1.0)))
  }

  test("ngramJaccardPairsMd5 jaccard equals the xxhash pipeline's on shared pairs") {
    // set-Jaccard over distinct shingle hashes is hash-invariant (absent
    // collisions), so any pair both pipelines surface must agree exactly
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val md5 = toMap(TextDedup.ngramJaccardPairsMd5(docs, "text", "doc_id", threshold = 0.1))
    val xx = toMap(TextDedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.1))
    val shared = md5.keySet intersect xx.keySet
    assert(shared.nonEmpty, "pipelines should surface overlapping candidate pairs")
    assert(shared.forall(k => md5(k) === xx(k)))
  }

  test("simhashDfMd5 of a single-token doc equals the 60-bit md5-prefix parse") {
    // single token: every bit count is 1 of 1 → simhash == the token hash,
    // pinning Spark's conv(md5[1..15], 16, 10) against an independent parse
    val got = TextDedup.simhashDfMd5(Seq((1L, "tok")).toDF("doc_id", "text"),
      "doc_id", "text").select("simhash_md5").as[Long].head()
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("tok".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === java.lang.Long.parseLong(hex.substring(0, 15), 16))
  }

  test("extractFeaturesChecked: integer lane sums + mirrorable dims, multi-byte safe") {
    val df = Seq((7L, "abé")).toDF("doc_id", "text") // 3 code points, 4 UTF-8 bytes
    val media = Multimodal.withSyntheticMedia(df, "doc_id", "text", mirrorableDims = true)
    val r = Multimodal.extractFeaturesChecked(media, "doc_id").head()
    assert(r.getAs[Long]("n_bytes") === 4L)
    assert(r.getAs[Long]("f0") === 97L + (3 % 512) + 32)      // 'a' + width
    assert(r.getAs[Long]("f1") === 98L + ((3 * 7) % 512) + 32) // 'b' + height
    assert(r.getAs[Long]("f2") === 233L)                       // 'é'
    assert((3 to 7).forall(j => r.getAs[Long](s"f$j") === 0L))
  }

  test("langId identifies real-language sentences") {
    // the driver corpus's `lang` labels are synthetic (text is identical
    // keyword soup for every label), so accuracy is asserted on real
    // sentences instead
    val df = Seq(
      (1L, "en", "the cat sat on the mat and it was happy with the sun"),
      (2L, "de", "der Hund und die Katze sind nicht mit dem Mann im Haus"),
      (3L, "fr", "le chat est dans la maison et les enfants sont pour la plage"),
      (4L, "es", "el perro y la casa son para los hombres y es una buena idea"),
      (5L, "zh", "今天天气很好我们一起去公园散步吧然后吃晚饭")).toDF("id", "lang", "text")
    val scored = df.select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
    assert(scored.filter(col("lang") =!= col("pred")).count() === 0)
  }

  test("quality score is in [0,1] and empty text scores low") {
    val df = Seq((1L, "The quick brown fox jumps over the lazy dog and runs far away into the woods."),
      (2L, ""), (3L, "!!! ??? *** !!! ??? ***")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityColumns(df, "text")
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    assert(q.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(q(1L) > q(2L) && q(1L) > q(3L))
  }

  test("tokenCounts: BPE-ish count >= whitespace count on punctuated text") {
    val df = Seq((1L, "Hello, world! It's a test.")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(df, "text")
      .select("ws_tokens", "bpeish_tokens").as[(Int, Int)].head()
    assert(r._1 === 5)
    assert(r._2 === 10) // Hello , world ! It ' s a test .
  }

  test("fingerprint: identical normalized texts share both fingerprints") {
    val df = Seq((1L, "Hello World"), (2L, "hello, world!"), (3L, "other text entirely"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(df, "text")
      .select("doc_id", "fp_min_gram", "fp_full").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("bruteForceTopK returns k ranked neighbors with sims in [-1,1]") {
    val r = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
    assert(r.groupBy("query_id").count().select("count").as[Long].collect().forall(_ === 10))
    assert(r.filter(col("sim") > 1.001 || col("sim") < -1.001).count() === 0)
  }

  test("annTopK recall@10 vs brute force is reasonable for 8-plane LSH") {
    val queries = embs.filter(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    def recallOf(probe: Int): Double = {
      val ann = Similarity.annTopK(embs, queries, "vec_id", "embedding", 10,
        nPlanes = 4, probeHamming = probe)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      (truth intersect ann).size.toDouble / truth.size
    }
    val r0 = recallOf(0); val r1 = recallOf(1)
    // the synthetic embeddings are near-random, so recall is bounded by
    // bucket coverage: multi-probe hamming≤1 touches 5/16 ≈ 31% of buckets —
    // recall must beat that coverage baseline (signal, not luck) and
    // probing more buckets must strictly help
    assert(r1 > 0.31, s"ANN recall@10 $r1 at or below coverage baseline")
    assert(r1 > r0, s"multi-probe recall $r1 not above single-probe $r0")
  }

  test("semDedup keeps the LEAST-centroid-similar member per ε-component") {
    // one cell (nCells=1, lloydIters=0 → centroid = v0): component
    // {0,1,3} under eps=0.95 (v2 orthogonal, unpaired). csims: v0 = 1,
    // v1 ≈ 0.99875, v3 ≈ 0.995 — SemDeDup's keep-farthest policy must
    // pick id 3, NOT the min id 0 (which is what dedupByPairs would do)
    val vs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.05, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(1.0, 0.1, 0.0, 0.0))).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(vs, "vec_id", "embedding",
        dim = 4, eps = 0.95, nCells = 1, lloydIters = 0)
      .as[Long].collect().toSet
    assert(kept === Set(2L, 3L), s"expected edge member 3 + singleton 2, got $kept")
  }

  test("semDedup: equal centroid-similarity ties break to the smallest id") {
    // v1/v2 mirror around the centroid axis → bit-identical csims; the
    // component {0,1,2} must keep exactly one member, id 1
    val vs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.05, 0.0, 0.0)),
      (2L, Seq(1.0, -0.05, 0.0, 0.0))).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(vs, "vec_id", "embedding",
        dim = 4, eps = 0.95, nCells = 1, lloydIters = 0)
      .as[Long].collect().toSet
    assert(kept === Set(1L), s"expected the csim-tie to keep min id 1, got $kept")
  }

  test("semDedup: survivor count equals n − (members − components) on the corpus") {
    // drops = ε-pair members minus one survivor per connected component;
    // recompute both sides from the operator's own verified ingredients
    val n = embs.count()
    val kept = Similarity.semDedup(embs, "vec_id", "embedding",
      dim = 64, eps = 0.3, nCells = 16, lloydIters = 1).count()
    val c = embs.select(col("vec_id").as("corpus_id"),
      col("embedding").cast("array<double>").as("cv"))
    val asg = Similarity.lloydAssign(c, nCells = 16, lloydIters = 1)._2.cache()
    val pairs = asg.as("x").join(asg.as("y"),
        col("x.cell") === col("y.cell") && col("x.corpus_id") < col("y.corpus_id"))
      .filter(Similarity.cosine(col("x.cv"), col("y.cv")) >= 0.3)
      .select(col("x.corpus_id").as("id_a"), col("y.corpus_id").as("id_b"))
    val cc = TextDedup.nearDupClusters(pairs)
    val members = cc.count()
    val comps = cc.select("cluster_id").distinct().count()
    asg.unpersist()
    assert(kept === n - (members - comps),
      s"kept $kept != $n - ($members - $comps)")
  }

  test("semDedup: the hot-cell cap drops the over-cap cell from the pair " +
      "scan, its members survive, and the telemetry names it") {
    // nCells=1, lloydIters=0 → ONE 4-member cell holding the ε-component
    // {0,1,3}. maxCell=3 excludes the cell from the pair scan entirely:
    // everyone survives, and droppedCells reports (cell, size=4).
    val vs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.05, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(1.0, 0.1, 0.0, 0.0))).toDF("vec_id", "embedding")
    val r = Similarity.semDedupStats(vs, "vec_id", "embedding",
      dim = 4, eps = 0.95, nCells = 1, lloydIters = 0, maxCell = 3)
    assert(r.survivors.as[Long].collect().toSet === Set(0L, 1L, 2L, 3L),
      "over-cap cell members must all survive (conservative drop)")
    val dropped = r.droppedCells.select(col("size").cast("long"))
      .as[Long].collect().toSeq
    assert(dropped === Seq(4L), s"expected one dropped cell of size 4, got $dropped")
    // a non-binding cap leaves the uncapped result and empty telemetry
    val r2 = Similarity.semDedupStats(vs, "vec_id", "embedding",
      dim = 4, eps = 0.95, nCells = 1, lloydIters = 0, maxCell = 4)
    assert(r2.survivors.as[Long].collect().toSet === Set(2L, 3L))
    assert(r2.droppedCells.isEmpty, "non-binding cap must report no drops")
  }

  test("pqTopK: anchors encode to their own codes; self-similarity is exact") {
    // anchor j's subspace slice is at L2 distance 0 from centroid (m, j),
    // so its code vector must be [j] * nSub; its ADC score against its own
    // LUT reconstructs the vector exactly, so approx cosine == 1.0
    val r = Similarity.pqTopK(embs, embs.filter(col("vec_id") < 16),
      "vec_id", "embedding", 10)
    // rank-1 neighbor of every anchor query must score exactly like brute
    // rank-1 when that neighbor is itself an anchor clone; cheaper crisp
    // check: every anchor query's own id is EXCLUDED (self-filter) and its
    // top-10 exists
    assert(r.groupBy("query_id").count().filter(col("count") =!= 10).isEmpty)
    // direct expression check: encode the 16 anchor rows, expect codes = own index
    val anchors = embs.orderBy("vec_id").limit(16)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")).cache()
    val cb = {
      val avs = anchors.orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
      for (m <- 0 until 8; j <- 0 until 16) yield avs(j).slice(m * 8, (m + 1) * 8).toSeq
    }
    val enc = anchors.select(col("vec_id"),
      org.apache.spark.sql.GraftColumnBridge.column(graft.functions.PqEncode(
        org.apache.spark.sql.GraftColumnBridge.expression(col("v")), cb, 8, 16)).as("codes"))
      .orderBy("vec_id").collect()
    enc.zipWithIndex.foreach { case (row, j) =>
      assert(row.getSeq[Int](1) === Seq.fill(8)(j),
        s"anchor $j did not encode to its own centroid index")
    }
  }

  test("pqTopK recall@10 floor on the planted-clique corpus") {
    // Same deterministic 5-clique construction as the IVF gate below: PQ's
    // regime is high-similarity retrieval, where the reconstructed
    // neighbors dominate the ranking despite 32x compression. Seed-free
    // and anchor-deterministic, so the measured recall is stable — a
    // gate, not a sample.
    val copies = 5
    val maxVec = embs.agg(max(col("vec_id")).cast("long")).head().getLong(0) + 1
    val corpus = (0 until copies).map { i =>
      embs.select(
        (col("vec_id") + lit(i * maxVec)).as("vec_id"),
        (if (i == 0) col("embedding")
         else transform(col("embedding"), (x, p) =>
           when(p === lit((i - 1) % 64), (x * lit(1.0 + 0.05 * i)).cast("float"))
             .otherwise(x))).as("embedding"))
    }.reduce(_ unionByName _).cache()
    val queries = corpus.filter(col("vec_id") % 97 === 0).cache()
    val truth = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val recall = (truth intersect pq).size.toDouble / truth.size
    // pure-ADC with the oracle-mirrorable anchor codebook measures 0.419
    // here — the deterministic baseline the hash-oracle row gates; floor
    // 0.40 catches a real scoring/encode regression without overclaiming
    // what anchor codebooks deliver (production k-means codebooks and/or
    // the refine stage below are the recall levers)
    assert(recall >= 0.40, s"PQ ADC recall@10 $recall below the quality floor")
    val refined = Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 10,
        refine = 100)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val rRecall = (truth intersect refined).size.toDouble / truth.size
    assert(rRecall > recall,
      s"exact re-rank recall $rRecall not above pure-ADC $recall")
    assert(rRecall >= 0.60, s"refined PQ recall@10 $rRecall below the quality floor")
    // the composed IVF×PQ shape (anchor cells, nProbe=8 of 64): recall is
    // bounded by cell coverage × ADC quality; the refined two-stage form
    // must recover at least the coverage the probes allow
    val ivfpq = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding", 10,
        nCells = 64, nProbe = 8, refine = 100)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val cRecall = (truth intersect ivfpq).size.toDouble / truth.size
    assert(cRecall >= 0.30, s"IVF-PQ refined recall@10 $cRecall below the floor")
    // TRAINED codebook (per-subspace Lloyd on the deterministic sample,
    // VERDICT r10 ask #3). Deterministic (quantized means, fixed sample),
    // so all of these are gates, not samples. Two claims:
    // (1) at the DEFAULT 8×16 geometry (8 B/vector), training lifts
    //     pure-ADC above the anchor baseline (measured 0.419 → 0.450;
    //     the near-random planted corpus caps 8-subspace ADC well below
    //     0.6 regardless of codebook quality — 5 iters × full-corpus
    //     sample measured 0.489);
    val tPq8 = Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 10,
        lloydIters = 2, trainSampleN = 2048)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val t8Recall = (truth intersect tPq8).size.toDouble / truth.size
    info(s"trained 8x16 pure-ADC recall@10 = $t8Recall (anchor $recall)")
    assert(t8Recall > recall,
      s"trained ADC recall $t8Recall not above anchor $recall")
    // (2) the trained 16-subspace geometry (16 B/vector, still 16×
    //     compression) clears the raised floors: measured 0.6346 pure /
    //     0.9500 refined (vs 0.4846 / 0.9154 untrained-16 / 1-iter) —
    //     floors 0.60 / 0.80 catch a real training or scoring regression.
    val tPq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 10,
        nSub = 16, lloydIters = 2, trainSampleN = 2048)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val tRecall = (truth intersect tPq).size.toDouble / truth.size
    info(s"trained 16x16 pure-ADC recall@10 = $tRecall")
    assert(tRecall >= 0.60, s"trained PQ ADC recall@10 $tRecall below the 0.60 floor")
    val tRef = Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 10,
        nSub = 16, refine = 100, lloydIters = 2, trainSampleN = 2048)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val trRecall = (truth intersect tRef).size.toDouble / truth.size
    info(s"trained 16x16 refined recall@10 = $trRecall (anchor-refined $rRecall)")
    assert(trRecall >= 0.80, s"trained refined PQ recall@10 $trRecall below the 0.80 floor")
    corpus.unpersist(); queries.unpersist()
  }

  test("residual IVF-PQ: residual anchors encode to their own codes; recall beats direct encoding") {
    // Crisp exactness pin first: with lloydIters=0 the residual codebook's
    // anchor j IS row (16 + j)'s residual, so encoding that row's residual
    // must yield codes = [j] * nSub (PqEncode distance 0, ties impossible
    // on distinct anchors).
    val model = Similarity.residualPqModel(embs, "vec_id", "embedding",
      dim = 64, nCells = 16, nSub = 8, codesPerSub = 16)
    val cents = model.cells.map { case (cell, c, _, _) => cell -> c.toArray }.toMap
    val anchorRows = embs.orderBy("vec_id").limit(32)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().drop(16)
    anchorRows.zipWithIndex.foreach { case (row, j) =>
      val v = row.getSeq[Double](1).toArray
      // assign exactly like the engine: argmax cosine, ties → smallest cell
      val (_, cBest) = model.cells
        .map { case (cell, c, _, _) =>
          val ca = c.toArray
          var dot = 0.0; var na = 0.0; var nb = 0.0
          for (i <- v.indices) { dot += v(i) * ca(i); na += v(i) * v(i); nb += ca(i) * ca(i) }
          val s = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
          (cell, ca, s)
        }
        .sortBy { case (cell, _, s) => (-s, cell) }
        .headOption.map { case (cell, ca, _) => (cell, ca) }.get
      val rv = Array.tabulate(64)(i => v(i) - cBest(i))
      val enc = spark.range(1).select(
        org.apache.spark.sql.GraftColumnBridge.column(graft.functions.PqEncode(
          org.apache.spark.sql.GraftColumnBridge.expression(
            lit(rv).cast("array<double>")), model.codebook, 8, 16)).as("codes"))
        .head().getSeq[Int](0)
      assert(enc === Seq.fill(8)(j),
        s"residual anchor $j did not encode to its own centroid index")
    }
    // Recall A/B on the planted-clique corpus (same construction as the
    // PQ gate above): residuals against 64 Lloyd-less anchor cells are
    // far tighter than the raw vectors, so the same 8×16 codebook budget
    // must lift pure-ADC recall. Deterministic end to end — a gate.
    val copies = 5
    val maxVec = embs.agg(max(col("vec_id")).cast("long")).head().getLong(0) + 1
    val corpus = (0 until copies).map { i =>
      embs.select(
        (col("vec_id") + lit(i * maxVec)).as("vec_id"),
        (if (i == 0) col("embedding")
         else transform(col("embedding"), (x, p) =>
           when(p === lit((i - 1) % 64), (x * lit(1.0 + 0.05 * i)).cast("float"))
             .otherwise(x))).as("embedding"))
    }.reduce(_ unionByName _).cache()
    val queries = corpus.filter(col("vec_id") % 97 === 0).cache()
    val truth = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    def recallOf(residual: Boolean, nProbe: Int, refine: Int = 0,
                 lloydIters: Int = 0): Double = {
      val got = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding", 10,
          nCells = 64, nProbe = nProbe, refine = refine, lloydIters = lloydIters,
          residual = residual)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      (truth intersect got).size.toDouble / truth.size
    }
    // FULL probe (nProbe = nCells): coverage is 1.0, so recall isolates
    // pure ADC ranking quality — the claim residual encoding makes.
    val directFull = recallOf(residual = false, nProbe = 64)
    val resFull = recallOf(residual = true, nProbe = 64)
    info(s"full-probe pure-ADC recall@10: direct = $directFull, residual = $resFull")
    assert(resFull > directFull,
      s"residual encoding recall $resFull not above direct $directFull")
    // measured 0.4846 residual vs 0.4192 direct (deterministic); floor
    // 0.46 catches a real residual-scoring regression
    assert(resFull >= 0.46, s"residual ADC recall@10 $resFull below the 0.46 floor")
    // Composed shape (nProbe = 8 of 64): recall is coverage-bounded —
    // both encodings retrieve every probed true neighbor on this corpus,
    // so the gate here is only that residual never loses to direct.
    val direct = recallOf(residual = false, nProbe = 8)
    val res = recallOf(residual = true, nProbe = 8)
    info(s"nProbe=8 pure-ADC recall@10: direct = $direct, residual = $res")
    assert(res >= direct,
      s"composed residual recall $res below direct $direct")
    val resRefined = recallOf(residual = true, nProbe = 8, refine = 100)
    info(s"residual IVF-PQ refined recall@10 = $resRefined")
    assert(resRefined >= res, s"refined residual recall $resRefined below pure-ADC $res")
    // training composes with residuals: measured 0.55 (vs 0.450 for
    // trained-direct in the PQ gate above — residual + Lloyd is the best
    // 8-byte-per-vector configuration in the tier)
    val resTrained = recallOf(residual = true, nProbe = 64, lloydIters = 2)
    info(s"full-probe residual+trained pure-ADC recall@10 = $resTrained")
    assert(resTrained >= 0.52,
      s"residual+trained ADC recall@10 $resTrained below the 0.52 floor")
    corpus.unpersist(); queries.unpersist()
  }

  test("ivfTopK recall@20 floor — the quality gate a refactor must not break") {
    // Deterministic planted-clique corpus (the BASELINE.md "Round-6: 10×
    // scale measurement" construction at spec scale): 5 copies of the 500 sf0.001 vectors,
    // one coordinate scaled per copy, so each original vector becomes a
    // near-identical 5-clique (the high-similarity regime) while the
    // truth tail holds genuine low-similarity neighbors. Everything is
    // seed-free and the Lloyd pass is fixed-point-deterministic, so the
    // measured recall is STABLE — this is a gate, not a flaky sample:
    // measured 0.735 at 64 cells / 8 probes (~1/8 of the corpus scanned
    // per query; the 10× config, which measured 0.757 there: BASELINE.md
    // "Round-6 builder bench record").
    // Floor 0.70: any dip below is a real quality change in cell
    // assignment/Lloyd/probing, not sampling noise.
    val copies = 5
    val maxVec = embs.agg(max(col("vec_id")).cast("long")).head().getLong(0) + 1
    val corpus = (0 until copies).map { i =>
      embs.select(
        (col("vec_id") + lit(i * maxVec)).as("vec_id"),
        (if (i == 0) col("embedding")
         else transform(col("embedding"), (x, p) =>
           when(p === lit((i - 1) % 64), (x * lit(1.0 + 0.05 * i)).cast("float"))
             .otherwise(x))).as("embedding"))
    }.reduce(_ unionByName _).cache()
    val queries = corpus.filter(col("vec_id") % 97 === 0).cache()
    val truth = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 20)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 20,
      nCells = 64, nProbe = 8, lloydIters = 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val recall = (truth intersect ivf).size.toDouble / truth.size
    assert(recall >= 0.70, s"IVF recall@20 $recall below the 0.70 quality floor")
    info(s"measured IVF recall@20 = $recall")
  }

  test("embeddingNearDupPairs: exact verify (subset of truth), banded recall, clone detection") {
    // ground truth: all pairs with cosine >= 0.4 (brute force on 500 vecs)
    val a = embs.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = embs.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Similarity.cosine(col("va"), col("vb")).as("c"))
      .filter(col("c") >= 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    val found = Similarity.embeddingNearDupPairs(embs, "vec_id", "embedding",
      threshold = 0.4, groups = 8, planesPerGroup = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the cosine verify makes precision exact: found pairs are true pairs
    assert(found.subsetOf(truth), "verify stage must eliminate false positives")
    // banded-LSH recall at s>=0.4 with 8 bands × 4 planes:
    // 1-(1-(1-acos(s)/pi)^4)^8 >= 0.75 — assert well below, the planes are
    // deterministic so the measured value is stable
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.5, s"banded recall $recall below expectation")
    // clones (the production >=0.99 regime, default 8×8 config): a copied
    // vector lands in every band's same bucket — always found
    val cloned = embs.union(embs.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 1000))
    val clonePairs = Similarity.embeddingNearDupPairs(cloned, "vec_id", "embedding",
      threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((0L until 5L).forall(i => clonePairs.contains((i, i + 1000))))
    // degenerate corpus telemetry: identical vectors over-cap their buckets
    val many = embs.limit(1).crossJoin(spark.range(30).select(col("id").as("nid")))
      .select(col("nid").as("vec_id"), col("embedding"))
    val stats = Similarity.embeddingNearDupPairsWithStats(many, "vec_id", "embedding",
      threshold = 0.99, maxBucket = 10)
    assert(stats.droppedBuckets.count() > 0, "over-cap buckets must be reported")
    assert(stats.pairs.count() === 0)
  }

  test("ivfTopK: probing all cells equals brute force; partial probes recall beats coverage") {
    val queries = embs.filter(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    // law: nProbe = nCells scores the whole corpus — identical to brute force
    val full = Similarity.ivfTopK(embs, queries, "vec_id", "embedding", 10,
      nCells = 16, nProbe = 16)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(full === truth)
    // partial probes: 4/16 cells ≈ 25% of the corpus per query; probing the
    // NEAREST cells must beat that coverage baseline (signal, not luck)
    val part = Similarity.ivfTopK(embs, queries, "vec_id", "embedding", 10,
      nCells = 16, nProbe = 4)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    // independent in-memory oracle: every partial-probe result's corpus row
    // must be assigned (argmax cosine, ties to smallest cell) to one of
    // its query's 4 nearest cells — plain Scala math over collected
    // vectors, no reuse of the operator's own joins
    locally {
      val vecs = embs.select("vec_id", "embedding").as[(Long, Array[Float])]
        .collect().toMap.view.mapValues(_.map(_.toDouble)).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val cents = vecs.keys.toSeq.sorted.take(16).map(id => id -> vecs(id))
      def rankedCells(v: Array[Double]): Seq[Long] =
        cents.map { case (cid, cv) => (cid, cos(v, cv)) }.sortBy { case (cid, s) => (-s, cid) }.map(_._1)
      val assignedCell = vecs.map { case (id, v) => id -> rankedCells(v).head }
      part.foreach { case (q, cid) =>
        assert(rankedCells(vecs(q)).take(4).contains(assignedCell(cid)),
          s"corpus $cid surfaced for query $q outside its probed cells")
      }
    }
    val recall = (truth intersect part).size.toDouble / truth.size
    assert(recall > 0.25, s"IVF recall@10 $recall at or below coverage baseline")
  }

  test("ivfTopK Lloyd pass matches an independent in-memory k-means iteration") {
    val queries = embs.filter(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val refined = Similarity.ivfTopK(embs, queries, "vec_id", "embedding", 10,
      nCells = 16, nProbe = 4, lloydIters = 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    // independent in-memory Lloyd pass: anchor assign → quantized
    // element-wise mean (floor(x·2^20) longs — the engine's exact
    // arithmetic) → reassign; every refined result's corpus row must be
    // assigned to one of its query's 4 nearest REFINED cells
    val vecs = embs.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toMap.view.mapValues(_.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def argCell(cents: Seq[(Long, Array[Double])])(v: Array[Double]): Long =
      cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .minBy { case (cid, s) => (-s, cid) }._1
    val anchors = vecs.keys.toSeq.sorted.take(16).map(id => id -> vecs(id))
    val cells0 = vecs.map { case (id, v) => id -> argCell(anchors)(v) }
    val scale = 1048576.0
    val refinedCents = cells0.groupBy(_._2).map { case (cell, members) =>
      val vs = members.keys.toSeq.map(vecs)
      cell -> Array.tabulate(vs.head.length) { p =>
        vs.map(v => math.floor(v(p) * scale).toLong).sum.toDouble / (vs.size * scale)
      }
    }.toSeq.sortBy(_._1)
    val assigned1 = vecs.map { case (id, v) => id -> argCell(refinedCents)(v) }
    def probed(q: Long): Seq[Long] =
      refinedCents.map { case (cid, cv) => (cid, cos(vecs(q), cv)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(4).map(_._1)
    refined.foreach { case (q, cid) =>
      assert(probed(q).contains(assigned1(cid)),
        s"refined IVF surfaced corpus $cid for query $q outside its probed cells")
    }
    // recall still beats the 4/16 coverage baseline. (On this synthetic
    // corpus — no real cluster structure, max cosine ~0.48 — one Lloyd
    // pass moves recall by about one pair in either direction: measured
    // 0.825 refined vs 0.830 anchor. The refinement's value is the
    // tighter cells it builds when structure EXISTS; this corpus can't
    // show that, so the assertion pins correctness, not superiority.)
    val recallRefined = (truth intersect refined).size.toDouble / truth.size
    assert(recallRefined > 0.25,
      s"refined IVF recall@10 $recallRefined at or below coverage baseline")
  }

  test("lshBucket/embeddingNearDupPairs raise loudly on mismatched embedding width") {
    // a wrong-width corpus would otherwise null-pad through zip_with and
    // silently collapse every row into band code 0 (ADVICE r5)
    val wrong = embs.select(col("vec_id"), slice(col("embedding"), 1, 32).as("embedding"))
    val ex = intercept[Exception] {
      Similarity.embeddingNearDupPairs(wrong, "vec_id", "embedding",
        threshold = 0.3, groups = 4, planesPerGroup = 4).count()
    }
    assert(ex.getMessage.contains("dimension mismatch")
      || Option(ex.getCause).exists(_.getMessage.contains("dimension mismatch")))
  }

  test("pairs pipelines release their persisted relations via unpersist()") {
    val none = org.apache.spark.storage.StorageLevel.NONE
    // a bystander cache entry proves the unpersist is SCOPED, not global
    val bystander = docs.select("doc_id").persist()
    bystander.count()
    try {
      val r = TextDedup.minhashPairsWithStats(docs, "text", "doc_id", threshold = 0.5)
      r.pairs.count()
      assert(r.cached.nonEmpty && r.cached.forall(_.storageLevel != none),
        "pipeline-internal relation must be cached while in use")
      r.unpersist()
      assert(r.cached.forall(_.storageLevel == none),
        "unpersist() must drop the pipeline-internal cache entries")
      assert(bystander.storageLevel != none,
        "scoped unpersist must not touch unrelated cache entries")
      val r2 = Similarity.embeddingNearDupPairsWithStats(embs, "vec_id", "embedding",
        threshold = 0.3, groups = 4, planesPerGroup = 4)
      r2.pairs.count()
      assert(r2.cached.forall(_.storageLevel != none))
      r2.unpersist()
      assert(r2.cached.forall(_.storageLevel == none))
    } finally bystander.unpersist()
  }

  test("embeddingNearDupPairs plans bucket-local equi-joins, never a cartesian product") {
    val plan = Similarity.embeddingNearDupPairs(embs, "vec_id", "embedding",
      threshold = 0.4, groups = 8, planesPerGroup = 4)
      .queryExecution.executedPlan.toString
    // candidate generation must be the (band, code) equi-join — an
    // all-pairs shape would surface as a cartesian / nested-loop join
    assert(!plan.contains("CartesianProduct"), "near-dup candidates must be bucket-local")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "near-dup candidates must be bucket-local")
  }

  test("ivfTopK plan: centroid expansion is broadcast; scoring joins corpus cells to broadcast probes") {
    val queries = embs.filter(col("vec_id") < 20)
    val plan = Similarity.ivfTopK(embs, queries, "vec_id", "embedding", 10)
      .queryExecution.executedPlan.toString
    // the only nested-loop joins are the tiny-centroid broadcasts; the
    // corpus-side scoring join must be a broadcast HASH join on the cell
    assert(plan.contains("BroadcastHashJoin"), "cell join should broadcast the probe side")
    assert(!plan.contains("CartesianProduct"), "no un-broadcast cartesian anywhere")
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nlj <= 2, s"only the two centroid broadcasts may nested-loop, saw $nlj")
  }

  test("multimodal plumbing: schema, determinism, batch shape") {
    val media = Multimodal.withSyntheticMedia(docs, "doc_id", "text")
    assert(media.schema("media").dataType.typeName === "binary")
    assert(media.schema("media_meta").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    val f1 = Multimodal.extractFeatures(media, "doc_id").orderBy("id").collect()
    val f2 = Multimodal.extractFeatures(media.repartition(7), "doc_id").orderBy("id").collect()
    assert(f1.length === docs.count())
    assert(f1.map(_.getSeq[Float](1)).forall(_.length === 8))
    // partition layout must not change results
    assert(f1.map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq ===
      f2.map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq)
  }

  test("native codegen hash expressions are bit-identical to the HOF construction") {
    // the generic (lambda) forms the native expressions replaced, built
    // inline: th = transform(xxhash64), shingle fold = zip_with(xxhash64),
    // rehash_i = xxhash64(base, i)
    val toks = TextDedup.tokenize(col("text"))
    val thHof = transform(toks, t => xxhash64(t))
    val m = greatest(size(thHof) - 2, lit(0))
    val shHof = (1 until 3).foldLeft(slice(thHof, lit(1), m)) { (acc, j) =>
      zip_with(acc, slice(thHof, lit(j + 1), m), (x, y) => xxhash64(x, y))
    }
    val strSh = TextDedup.shingles(toks, 3)
    val sigHof = array((0 until 8).map(i =>
      array_min(transform(strSh, s => xxhash64(xxhash64(s), lit(i))))): _*)
    val mism = docs.select(
        TextDedup.shingleHashes(toks, 3).as("sh_native"), shHof.as("sh_hof"),
        TextDedup.minhashSignature(strSh, 8).as("sig_native"), sigHof.as("sig_hof"))
      .filter(col("sh_native") =!= col("sh_hof") || col("sig_native") =!= col("sig_hof"))
      .count()
    assert(mism === 0L, "native expressions must reproduce the HOF values exactly")
    // and the plan is codegen'd — the native expression appears inside a
    // WholeStageCodegen project, not a lambda evaluator
    val plan = docs.select(TextDedup.shingleHashes(toks, 3)).queryExecution
      .executedPlan.toString
    assert(plan.contains("xx_shingle_hashes"))
  }

  test("VecBandCodes is bit-identical to the HOF sign-code construction") {
    // the HOF form VecBandCodes replaced: per-plane aggregate(zip_with)
    // left-fold dot, >= 0 sign, bit index local to the band, when/otherwise
    val ps = Similarity.planes(16, 64) // 4 bands × 4 planes
    def hofCode(v: org.apache.spark.sql.Column, slice: Array[Array[Double]]) =
      slice.zipWithIndex.map { case (p, i) =>
        val dot = aggregate(zip_with(v, typedLit(p.toSeq), (x, y) => x * y),
          lit(0.0d), (acc, x) => acc + x)
        when(dot >= 0, shiftleft(lit(1L), i)).otherwise(0L)
      }.reduce(_ + _)
    val v = col("embedding").cast("array<double>")
    val hof = array((0 until 4).map(g => hofCode(v, ps.slice(g * 4, (g + 1) * 4))): _*)
    val native = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.VecBandCodes(
        org.apache.spark.sql.GraftColumnBridge.expression(v),
        ps.map(_.toSeq).toSeq, 4))
    val mism = embs.select(native.as("n"), hof.as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(mism === 0L, "VecBandCodes must reproduce the HOF sign codes exactly")
    val plan = embs.select(native).queryExecution.executedPlan.toString
    assert(plan.contains("vec_band_codes"))
  }

  test("near-dup pipelines report dropped buckets instead of silently capping") {
    // degenerate corpus: 30 identical docs + 2 genuine near-dups. With
    // maxBucket = 10 every bucket the identical docs share is over-cap —
    // dropped (and REPORTED), so the identical family yields no pairs
    // while the small bucket still verifies.
    val boiler = (1L to 30L).map(i => (i, "the same boilerplate footer text repeated everywhere"))
    val dups = Seq((100L, "completely different unique alpha beta gamma delta content"),
      (101L, "completely different unique alpha beta gamma delta content"))
    val df = (boiler ++ dups).toDF("doc_id", "text")
    val r = TextDedup.minhashPairsWithStats(df, "text", "doc_id",
      threshold = 0.9, maxBucket = 10)
    val dropped = r.droppedBuckets.collect()
    assert(dropped.nonEmpty, "over-cap buckets must be reported")
    assert(dropped.map(_.getAs[Long]("size")).max === 30L)
    assert(r.pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet === Set((100L, 101L)))
    val rn = TextDedup.ngramJaccardPairsWithStats(df, "text", "doc_id",
      threshold = 0.9, maxBucket = 10)
    assert(rn.droppedBuckets.count() > 0)
    assert(rn.pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet === Set((100L, 101L)))
    val rs = TextDedup.simhashPairsWithStats(df, "text", "doc_id",
      maxHamming = 3, maxBucket = 10)
    assert(rs.droppedBuckets.count() > 0)
    assert(rs.pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet === Set((100L, 101L)))
    // an uncapped run reports nothing dropped
    assert(TextDedup.minhashPairsWithStats(df, "text", "doc_id",
      threshold = 0.9, maxBucket = 1000).droppedBuckets.count() === 0)
  }

  test("extractFeatures decodes real PNG/BMP payloads via javax.imageio (exact pixel stats)") {
    // 2×2 PNG: red, green, blue, white — means are exact in float
    def imageBytes(fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF0000); img.setRGB(1, 0, 0x00FF00)
      img.setRGB(0, 1, 0x0000FF); img.setRGB(1, 1, 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    for (fmt <- Seq("png", "bmp")) {
      val df = Seq((1L, imageBytes(fmt))).toDF("doc_id", "media")
        .withColumn("media_meta", struct(lit("image").as("kind"),
          lit(2).as("width"), lit(2).as("height"),
          lit(null).cast("int").as("sample_rate_hz"), lit(null).cast("int").as("n_frames")))
      val f = Multimodal.extractFeatures(df, "doc_id").head().getSeq[Float](1)
      // [w, h, meanR, meanG, meanB, meanLuma, minLuma, maxLuma]
      assert(f(0) === 2.0f && f(1) === 2.0f, fmt)
      assert(f(2) === 127.5f && f(3) === 127.5f && f(4) === 127.5f, s"$fmt channel means")
      assert(f(5) === 127.5f, s"$fmt mean luma")
      assert(f(6) === 85.0f, s"$fmt min luma (pure channels: 255/3)")
      assert(f(7) === 255.0f, s"$fmt max luma (white)")
    }
    // non-image payloads still go through the deterministic signature path
    val raw = Seq((2L, "plain text payload".getBytes("UTF-8"))).toDF("doc_id", "media")
      .withColumn("media_meta", struct(lit("image").as("kind"),
        lit(5).as("width"), lit(7).as("height"),
        lit(null).cast("int").as("sample_rate_hz"), lit(null).cast("int").as("n_frames")))
    val g = Multimodal.extractFeatures(raw, "doc_id").head().getSeq[Float](1)
    assert(g.length === 8 && g.forall(v => !v.isNaN))
  }

  test("extractFeatures decodes real WAV payloads via javax.sound (exact sample stats)") {
    // 4-sample 16-bit mono PCM WAV at 8 kHz with known samples
    val samples = Array[Short](0, 1000, -1000, 2000)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(pcm.putShort)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm.array()), fmt, samples.length)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val df = Seq((1L, bos.toByteArray)).toDF("doc_id", "media")
      .withColumn("media_meta", struct(lit("audio").as("kind"),
        lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
        lit(8000).as("sample_rate_hz"), lit(null).cast("int").as("n_frames")))
    val f = Multimodal.extractFeatures(df, "doc_id").head().getSeq[Float](1)
    // [sample_rate, channels, n_samples, mean, mean_abs, rms, min, max]
    assert(f(0) === 8000f && f(1) === 1f && f(2) === 4f)
    assert(f(3) === 500f, "mean")       // (0+1000-1000+2000)/4
    assert(f(4) === 1000f, "mean abs")  // 4000/4
    assert(math.abs(f(5) - 1224.7449f) < 0.01f, s"rms, got ${f(5)}") // sqrt(1.5e6)
    assert(f(6) === -1000f && f(7) === 2000f)
  }

  test("resizeImages: real decode → bilinear scale → PNG re-encode; non-images pass null") {
    // 64×48 PNG, left half pure red, right half pure blue
    val img = new java.awt.image.BufferedImage(64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 48; x <- 0 until 64)
      img.setRGB(x, y, if (x < 32) 0xFF0000 else 0x0000FF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq((1L, bos.toByteArray), (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val out = Multimodal.resizeImages(df, "doc_id", 16, 12)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(2), "non-image must pass through null")
    assert(out(1L).getInt(2) === 16 && out(1L).getInt(3) === 12)
    val resized = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).getAs[Array[Byte]](1)))
    assert(resized.getWidth === 16 && resized.getHeight === 12)
    // halves survive the scale: sample wholly inside each half
    val left = resized.getRGB(3, 6); val right = resized.getRGB(12, 6)
    assert(((left >> 16) & 0xFF) > 200 && (left & 0xFF) < 50, "left stays red")
    assert((right & 0xFF) > 200 && ((right >> 16) & 0xFF) < 50, "right stays blue")
    // and the resized payload feeds straight back into feature extraction
    val feats = Multimodal.extractFeatures(
      Multimodal.resizeImages(df.limit(1), "doc_id", 16, 12)
        .withColumn("media_meta", struct(lit("image").as("kind"),
          col("width"), col("height"),
          lit(null).cast("int").as("sample_rate_hz"), lit(null).cast("int").as("n_frames"))),
      "id").head().getSeq[Float](1)
    assert(feats(0) === 16.0f && feats(1) === 12.0f)
  }

  test("resizeChecked: solid-color BMP round-trip yields exact dims + one color") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").select("doc_id")
    val got = Multimodal.resizeChecked(docs, "doc_id", 16, 16)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    val expected = docs.as[Long].collect().map { id =>
      (id, 16L, 16L, 1L, id % 256, (id * 7) % 256, (id * 13) % 256)
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("withSyntheticVideoMeta + sampleFrames mirrors the stepped-grid formula") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").select("doc_id")
    val got = Multimodal.sampleFrames(
        Multimodal.withSyntheticVideoMeta(docs, "doc_id"), "doc_id", everyK = 7)
      .select($"doc_id", $"frame_idx".cast("long"))
      .as[(Long, Long)].collect().toSet
    val expected = docs.as[Long].collect().flatMap { id =>
      (0L to id % 40 by 7L).map(f => (id, f))
    }.toSet
    assert(got == expected)
  }

  test("sampleFrames fans a video row out to every k-th frame") {
    val vid = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "media")
      .withColumn("media_meta", struct(lit("video").as("kind"),
        lit(0).as("width"), lit(0).as("height"),
        lit(null).cast("int").as("sample_rate_hz"), lit(10).as("n_frames")))
    val frames = Multimodal.sampleFrames(vid, "doc_id", 3)
    assert(frames.select("frame_idx").as[Int].collect().sorted.toSeq === Seq(0, 3, 6, 9))
  }
}
