package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max_by, min, sum, timestamp_seconds}
import graft.UniqueOracles._
import graft.TextOracles._
import graft.EmbeddingOracles._
import graft.MediaOracles._
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
  * produces, so the standard compare closes the loop. The oracles come
  * from the one definition per tier that the fixed registry rows in
  * `SparkEntry.registry` also call: `graft.UniqueOracles` (the unique
  * windows), `graft.TextOracles`, `graft.EmbeddingOracles` and
  * `graft.MediaOracles` (the curation tiers); this tool only draws the
  * parameters and runs the engine:
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
            sourceCapSql(gcol, cap),
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
            docLmPplSql(Some(mod)),
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
          (graft.llm.Similarity.semDedup(
            graft.llm.Multimodal.imageLumaFeatures(
              graft.llm.Multimodal.withSyntheticPatternImages(docs, "doc_id",
                gridW = 8, gridH = 8, baseMod = bm),
              "doc_id").filter(col("features").isNotNull),
            "id", "features", dim = 64, eps = epsQ, nCells = nc,
            lloydIters = ll, maxCell = mc)
            .select(col("id").as("doc_id")),
            embSemDedupSql(nc, ll, epsQ, mc,
              srcSql = patternVectorSql(bm),
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
          (graft.llm.TextDedup.sharedKeyPairs(
            graft.llm.Multimodal.imageTileHashes(
              graft.llm.Multimodal.withSyntheticCropImages(docs, "doc_id",
                baseMod = bm),
              "doc_id"),
            "id", "thash", minShared = ms, maxBucket = mb),
            imageTilePairsSql(bm, ms, mb),
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
            tokenMixSql(db, Seq("src1" -> b1)),
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
            docBpeEncodeOracleFor(sd, sc, nm, ec, rel),
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
            ("fix", bpeBytesMergesLines),
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
            docBpeEncodeBytesOracleFor(lines, ec),
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
            docBpeEncodeDistOracleFor(sd, 240, nm, ec,
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
            heavyHittersSql(kc, wSql, hk),
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
            hotKeysSql(kc2, wSql2, thr),
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
