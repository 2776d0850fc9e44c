package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** N×-scale measurement harness (VERDICT r5 stretch #8): the driver only
  * ships up to sf0.1, so the 100×-design claims rest on plan shape alone.
  * This tool materializes an N×-scaled synthetic set
  * (SPARK_GRAFT_SCALE_COPIES copies, default 10, of the
  * sf0.1 events/documents tables — event ids and timestamps shifted per
  * copy to stay unique and ts-monotone; document texts suffixed per copy
  * so cross-copy pairs are NEAR-duplicates, not exact, multiplying the
  * near-dup workload ~copies² in the dup-heavy buckets; embeddings get
  * one coordinate perturbed per copy so each original vector becomes a
  * near-identical `copies`-clique) and measures the global-order fold
  * (lengthBatch), the keyed tier (ever, deduplicate), the text and
  * vector near-dup pipelines, and IVF recall@20 vs brute force (anchor
  * centroids vs one Lloyd pass), reporting wall time and total
  * shuffle-write bytes per query. SPARK_GRAFT_SCALE_QUERIES (comma
  * -separated names) restricts the run — e.g. the 100×-copies run
  * measures only the ~linear keyed tier, skipping the near-dup pipelines
  * whose planted-clique workload grows ~copies². Results:
  * BASELINE.md §round-6.
  *
  *   sbt "runMain graft.tools.ScaleBench [outDir]"   # default /tmp/graft_sf1
  */
object ScaleBench {
  /** The editdist monolith-vs-sharded streaming A/B over `src`
    * (doc_id, text): monolith editNearDupStream, band-sharded stage A +
    * union-find stage B, batch dedup as ground truth; records rates and
    * the three-way survivor sym-diff under `name`. Round 15 measured the
    * CLIQUE regime (copies corpus — the monolith's connectivity shortcut
    * wins); round 16 adds the PLANTED-PAIRS regime (salted corpus — no
    * shortcut exists, candidates mostly fail verify, and stage A's
    * distributed verify is the scale path). Regime rule (also on
    * editShardedEdges' scaladoc): monolith when one bucket family
    * dominates and components are dense; sharded when candidates spread
    * across band families and mostly fail verify.
    */
  private def editShardedAB(spark: SparkSession,
                            parts: scala.collection.mutable.ArrayBuffer[String],
                            src0: org.apache.spark.sql.DataFrame,
                            name: String): Unit = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      val src = src0.select(col("doc_id"), col("text"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val encA: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      val rows = src.orderBy("doc_id").collect()
      val nDocs = rows.length
      val nInc = 10
      val per = nDocs / nInc
      def feedAll[T](ms: MemoryStream[Row], q: org.apache.spark.sql.streaming.StreamingQuery): Double = {
        val t0 = System.nanoTime()
        (0 until nInc).foreach { i =>
          ms.addData(rows.slice(i * per, if (i == nInc - 1) nDocs else (i + 1) * per).toSeq)
          q.processAllAvailable()
        }
        (System.nanoTime() - t0) / 1e9
      }
      // monolith arm
      val msM = MemoryStream[Row]
      val qM = graft.streaming.NearDupStream.editNearDupStream(
          msM.toDF(), "doc_id", "text", maxDist = 5, shingleN = 5)
        .writeStream.format("memory").queryName("ed_mono_" + name)
        .outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_edM").toString)
        .start()
      val secM = feedAll(msM, qM)
      val monoKept = spark.table("ed_mono_" + name)
        .groupBy(col("doc_id"))
        .agg(max_by(col("change"), col("upd_seq")).as("change"))
        .filter(col("change") === "keep")
        .select("doc_id").cache()
      val nMono = monoKept.count()
      qM.stop()
      // sharded arm: stage A band-sharded lev edges, stage B union-find
      val msA = MemoryStream[Row]
      val qA = graft.streaming.NearDupStream.editShardedEdges(
          msA.toDF(), "doc_id", "text", maxDist = 5, shingleN = 5)
        .writeStream.format("memory").queryName("ed_edges_" + name)
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_edA").toString)
        .start()
      val secA = feedAll(msA, qA)
      val edges = spark.table("ed_edges_" + name)
        .select(col("a"), col("b")).as[(Long, Long)](Encoders.product[(Long, Long)])
        .collect()
      qA.stop()
      implicit val encB: org.apache.spark.sql.Encoder[(Long, Long)] =
        Encoders.product[(Long, Long)]
      val msB = MemoryStream[(Long, Long)]
      val qB = graft.streaming.NearDupStream.unionFindStage(
          msB.toDF().toDF("a", "b"))
        .writeStream.format("memory").queryName("ed_verdicts_" + name)
        .outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_edB").toString)
        .start()
      val t1 = System.nanoTime()
      msB.addData(rows.map(r => (r.getLong(0), r.getLong(0))).toSeq)
      msB.addData(edges.toSeq)
      qB.processAllAvailable()
      val secB = (System.nanoTime() - t1) / 1e9
      val shardKept = spark.table("ed_verdicts_" + name)
        .groupBy(col("doc_id"))
        .agg(max_by(col("change"), col("upd_seq")).as("change"))
        .filter(col("change") === "keep")
        .select("doc_id").cache()
      val nShard = shardKept.count()
      qB.stop()
      val batchKept = graft.llm.TextDedup.dedupByPairs(src, "doc_id",
          graft.llm.TextDedup.editDistancePairs(src, "text", "doc_id",
            maxDist = 5, shingleN = 5).select("id_a", "id_b"))
        .select("doc_id").cache()
      val nBatch = batchKept.count()
      val symDiff = shardKept.exceptAll(batchKept).count() +
        batchKept.exceptAll(shardKept).count() +
        monoKept.exceptAll(batchKept).count() +
        batchKept.exceptAll(monoKept).count()
      monoKept.unpersist(); shardKept.unpersist(); batchKept.unpersist()
      parts += (f""""$name":{"docs":$nDocs,"edges":${edges.length},""" +
        f""""mono_sec":$secM%.2f,"mono_docs_per_sec":${nDocs / secM}%.0f,""" +
        f""""stage_a_sec":$secA%.2f,"stage_a_docs_per_sec":${nDocs / secA}%.0f,""" +
        f""""stage_b_sec":$secB%.2f,""" +
        f""""pipelined_docs_per_sec":${nDocs / math.max(secA, secB)}%.0f,""" +
        f""""survivors_mono":$nMono,"survivors_sharded":$nShard,"survivors_batch":$nBatch,"sym_diff":$symDiff}""")
      }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val evPath = s"$out/events.parquet"
    val docPath = s"$out/documents.parquet"
    val embPath = s"$out/embeddings.parquet"

    if (!new java.io.File(evPath).exists()) {
      val ev = graft.Tables.events(spark, base)
      val b = ev.agg(max(col("event_id")).cast("long"),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (maxId, tsMin, tsMax) = (b.getLong(0) + 1, b.getLong(1), b.getLong(2))
      val spanUs = tsMax - tsMin + 86400000000L // +1 day gap keeps ts monotone in event_id
      (0 until copies).map { i =>
        ev.select(ev.columns.map {
          case "event_id" => (col("event_id") + lit(i * maxId)).as("event_id")
          case "ts" => timestamp_micros(unix_micros(col("ts")) + lit(i * spanUs)).as("ts")
          case c => col(c)
        }: _*)
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(evPath)
    }
    if (!new java.io.File(docPath).exists()) {
      val docs = graft.Tables.documents(spark, base)
      val maxDoc = docs.agg(max(col("doc_id")).cast("long")).head().getLong(0) + 1
      (0 until copies).map { i =>
        docs.select(docs.columns.map {
          case "doc_id" => (col("doc_id") + lit(i * maxDoc)).as("doc_id")
          case "text" => concat(col("text"), lit(s" copyvariant$i")).as("text")
          case c => col(c)
        }: _*)
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(docPath)
    }

    if (!new java.io.File(embPath).exists()) {
      // per-copy perturbation of ONE coordinate makes cross-copy pairs
      // NEAR-duplicates (cosine ~0.999, pairwise distinct vectors): each
      // original row becomes a `copies`-clique under a 0.9 threshold —
      // the production high-similarity regime the synthetic sf0.1 corpus
      // (max pairwise cosine ~0.48) cannot exercise.
      val em = graft.Tables.embeddings(spark, base)
      val maxVec = em.agg(max(col("vec_id")).cast("long")).head().getLong(0) + 1
      (0 until copies).map { i =>
        em.select(em.columns.map {
          case "vec_id" => (col("vec_id") + lit(i * maxVec)).as("vec_id")
          case "embedding" if i > 0 =>
            transform(col("embedding"), (x, p) =>
              when(p === lit((i - 1) % 64), (x * lit(1.0 + 0.05 * i)).cast("float"))
                .otherwise(x)).as("embedding")
          case c => col(c)
        }: _*)
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(embPath)
    }

    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    def timed(name: String)(rows: => Long): String = {
      spark.catalog.clearCache()
      shuffleWrite.set(0)
      val t0 = System.nanoTime()
      val n = rows
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are posted asynchronously (listenerBus is
      // private[spark]); a short settle keeps the tallies complete
      Thread.sleep(500)
      f""""$name":{"sec":$sec%.2f,"rows":$n,"shuffle_write_mb":${shuffleWrite.get / 1048576.0}%.1f}"""
    }

    // optional subset (comma-separated query names): lets the 100×-copies
    // run target the ~linear keyed tier without paying the quadratic
    // near-dup workload the copy construction deliberately plants
    val knownQueries = Set("lengthbatch_current", "ever_current", "deduplicate",
      "doc_minhash_pairs", "doc_neardup_dedup", "emb_neardup_pairs",
      "emb_ann_ivf_recall", "pair_verify_skew", "incremental_neardup",
      "neardup_stream_soak", "lengthbatch_distinct_keys", "neardup_sharded",
      "emb_neardup_stream_soak", "neardup_stream_shuffled",
      "emb_ann_stream_soak", "emb_ann_pq_stream_soak", "corpus_curation", "dup_spans",
      "dupspan_stream_soak", "dupspan_sharded", "linededup_sharded",
      "decontam_large_eval", "lengthbatch_phaseb", "cutspans_adversarial",
      "fuzzy_decontam_scale", "source_cap_hotgroup", "fuzzy_stream_soak",
      "emb_ann_sharded_stream_soak", "semdedup_scale", "dsir_bm25_scale",
      "semdedup_hotcell", "dsir_scale", "bm25_scale", "emb_ann_lsh_sharded_soak", "bm25_ingest_scale",
      "editdist_scale", "editdist_sharded", "editdist_sharded_mixed",
      "token_mix_hotgroup", "image_hash_scale", "video_seq_scale",
      "audio_seg_scale", "image_tiles_scale", "heavy_hitters_scale")
    val only = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names => // a misspelled name must fail loudly, not skip silently
      val unknown = names -- knownQueries
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SCALE_QUERIES names unknown queries: ${unknown.mkString(", ")} " +
          s"(known: ${knownQueries.toSeq.sorted.mkString(", ")})")
    }
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]

    val evSf1 = spark.read.parquet(evPath)
    val docsSf1 = spark.read.parquet(docPath)
    if (wanted("lengthbatch_current")) parts += timed("lengthbatch_current") {
      graft.operators.UniqueOps.lengthBatch(evSf1, Seq("user_id"), "event_id", 40)
        .current.count()
    }
    // the keyed-operator tier at scale: `ever` (pure window-rank, the shape
    // every keyed op shares) and `deduplicate` (keyed secondary-sort
    // fold, the heaviest) — both should scale ~linearly, unlike the
    // global-order lengthBatch above whose phase B is inherently serial
    // lengthBatch phase split (VERDICT r9 ask #8): how much of the wall is
    // the inherently serial phase-B automaton? Phase A (parallel chunk
    // compression) is timed to a cached summary; phase B (SinglePartition
    // fold over that cached summary) is timed alone. A parallel-prefix
    // replacement for phase B is a measured non-starter — the segment
    // state is a function of the carried-in key-set, exponential to
    // represent (see lengthBatchSummary scaladoc) — so the serial share
    // below is the operator's true sequential depth.
    if (wanted("lengthbatch_phaseb")) {
      // hand-timed (timed() clears the cache, which would re-run phase A
      // inside the phase-B measurement)
      spark.catalog.clearCache()
      val summary = graft.operators.UniqueOps
        .lengthBatchSummary(evSf1, Seq("user_id"), "event_id", 40)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tA = System.nanoTime()
      val nSummary = summary.count()
      val secA = (System.nanoTime() - tA) / 1e9
      val tB = System.nanoTime()
      val nBatches = graft.operators.UniqueOps
        .lengthBatchIntervalsFromSummary(summary, 1, 40).count()
      val secB = (System.nanoTime() - tB) / 1e9
      summary.unpersist()
      parts += (f""""lengthbatch_phaseb":{"summary_rows":$nSummary,""" +
        f""""batches":$nBatches,"phase_a_sec":$secA%.2f,""" +
        f""""phase_b_serial_sec":$secB%.2f,""" +
        f""""serial_share":${secB / (secA + secB)}%.3f}""")
    }
    if (wanted("ever_current")) parts += timed("ever_current") {
      graft.operators.UniqueOps.everCurrent(evSf1, Seq("user_id"), "event_id").count()
    }
    if (wanted("deduplicate")) parts += timed("deduplicate") {
      graft.operators.UniqueOps.deduplicate(evSf1, Seq("user_id"), "event_id",
        "ts", 86400000L).current.count()
    }
    if (wanted("doc_minhash_pairs")) parts += timed("doc_minhash_pairs") {
      graft.llm.TextDedup.minhashPairs(docsSf1, "text", "doc_id", threshold = 0.2).count()
    }
    // edit-distance pairs at N×: the copy construction plants a DUP-HEAVY
    // regime on purpose — " copyvariant$i" suffixes of the same base doc
    // sit at lev ≤ 2 of each other, so the verified relation grows
    // ~copies² per base doc (the operator's target shape) while the
    // banding/bucket machinery stays capped; count(dist) forces the lev
    // evaluation (the count-star elision trap)
    if (wanted("editdist_scale")) parts += timed("editdist_pairs_scale") {
      graft.llm.TextDedup.editDistancePairs(docsSf1, "text", "doc_id",
          maxDist = 5, shingleN = 5, bands = 8, rowsPerBand = 4)
        .agg(count(col("dist"))).head().getLong(0)
    }
    if (wanted("doc_neardup_dedup")) parts += timed("doc_neardup_dedup") {
      graft.llm.TextDedup.dedupByPairs(docsSf1, "doc_id",
        graft.llm.TextDedup.minhashPairs(docsSf1, "text", "doc_id", threshold = 0.2))
        .count()
    }
    // corpus-curation tier at N×: every op is explode+partial-agg,
    // broadcast join, window-per-shard, or pure projection — all expected
    // ~linear in docs. Measured wall + shuffle MB each; the decontam eval
    // side (ids % 50 == 0) grows with the corpus but stays broadcast-sized
    // at any realistic eval:train ratio.
    // Round-13 retrieval/selection tier at 10× (50k docs): DSIR train →
    // weigh → Gumbel-top-k over the 90% raw pool, and BM25 index → score
    // → rank with the 10% eval split as queries (~5k queries probing 45k
    // docs). Aggregates run over output VALUE columns so Catalyst cannot
    // elide the ordered selection / the rank window (the count-star
    // trap the decontam arm documents).
    // dsir_scale / bm25_scale run the halves separately: the 100× probe
    // wants dsir (linear) WITHOUT the bm25 broadcast arm, whose candidate
    // relation is queries × corpus under the synthetic 31-token vocab
    // (every term matches ~every doc) — quadratic by data shape at 100×
    if (wanted("dsir_bm25_scale") || wanted("dsir_scale")) {
      parts += timed("dsir_select_scale") {
        val tgt = docsSf1.filter(col("doc_id") % 10 === 0)
        val raw = docsSf1.filter(col("doc_id") % 10 =!= 0)
        val model = graft.llm.CorpusOps.dsirTrain(tgt, "text", raw, "text")
        graft.llm.CorpusOps.dsirSelect(raw, "doc_id", "text", model, 1000)
          .agg(count(col("gumbel_key")) + count(col("doc_id")))
          .head().getLong(0)
      }
    }
    if (wanted("dsir_bm25_scale") || wanted("bm25_scale")) {
      parts += timed("bm25_topk_scale") {
        val corp = docsSf1.filter(col("doc_id") % 10 =!= 0)
        val qs = docsSf1.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("query_id"), col("text"))
        val idx = graft.llm.TextSearch.bm25Index(corp, "doc_id", "text")
        graft.llm.TextSearch.bm25TopK(qs, "query_id", "text", idx, k = 10)
          .agg(count(col("score")) + count(col("rank"))).head().getLong(0)
      }
      // the SHUFFLE-join regime (broadcastQueries = false; spec-pinned
      // output-equal, previously unpriced — VERDICT r13 #4): first at the
      // same eval-split batch as the broadcast arm above (direct A/B at
      // N×), then at a CORPUS-SIZED query batch — the regime's actual
      // target. The corpus-sized arms run at BASE scale in BOTH regimes:
      // the synthetic 31-token vocabulary gives every term df ≈ 0.75·N,
      // so every query matches nearly every doc and a corpus-sized batch
      // is inherently quadratic IN THIS CORPUS (≈ 2×10⁹ folded (query,
      // doc) rows at 10× — a data-shape artifact, not an operator cost;
      // a real 100 TB vocabulary bounds candidates per query). The base-
      // scale A/B prices the broadcast-vs-shuffle crossover where the
      // fold is payable either way.
      parts += timed("bm25_topk_shuffle_evalq") {
        val corp = docsSf1.filter(col("doc_id") % 10 =!= 0)
        val qs = docsSf1.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("query_id"), col("text"))
        val idx = graft.llm.TextSearch.bm25Index(corp, "doc_id", "text")
        graft.llm.TextSearch.bm25TopK(qs, "query_id", "text", idx, k = 10,
            broadcastQueries = false)
          .agg(count(col("score")) + count(col("rank"))).head().getLong(0)
      }
      val baseDocs = graft.Tables.documents(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
      Seq(("bm25_topk_corpusq_shuffle_1x", false),
          ("bm25_topk_corpusq_broadcast_1x", true)).foreach { case (nm, bc) =>
        parts += timed(nm) {
          val corp = baseDocs.filter(col("doc_id") % 10 =!= 0)
          val qs = corp.select(col("doc_id").as("query_id"), col("text"))
          val idx = graft.llm.TextSearch.bm25Index(corp, "doc_id", "text")
          graft.llm.TextSearch.bm25TopK(qs, "query_id", "text", idx, k = 10,
              broadcastQueries = bc)
            .agg(count(col("score")) + count(col("rank"))).head().getLong(0)
        }
      }
    }
    if (wanted("corpus_curation")) {
      parts += timed("doc_repetition_scale") {
        graft.llm.CorpusOps.repetitionColumns(docsSf1, "doc_id", "text").count()
      }
      parts += timed("doc_boilerplate_phrases_scale") {
        graft.llm.CorpusOps.boilerplatePhrases(docsSf1, "doc_id", "text",
          n = 3, minDf = 5).count()
      }
      parts += timed("doc_decontam_scale") {
        // aggregate over the hit columns: a bare count() lets Catalyst
        // drop the unique-keyed contamination join entirely (the same
        // count-star elision the round-9 bench harness fix caught)
        graft.llm.CorpusOps.decontaminate(docsSf1, "doc_id", "text",
          evalMod = 50L, n = 5)
          .agg(sum(col("n_hit_grams")) + sum(col("n_eval_docs"))).head().getLong(0)
      }
      parts += timed("doc_pack_scale") {
        graft.llm.CorpusOps.packSequences(docsSf1, "doc_id", "text",
          "source", budget = 512).count()
      }
      parts += timed("doc_sample_scale") {
        graft.llm.CorpusOps.sampleByHash(docsSf1, "doc_id", "text", "lang",
          Map("en" -> "1999"), "3333").count()
      }
      parts += timed("doc_pii_redact_scale") {
        graft.llm.CorpusOps.redactPii(
          graft.llm.CorpusOps.withSyntheticPii(docsSf1, "doc_id", "text"),
          "doc_id", "pii_text").count()
      }
      parts += timed("doc_line_dedup_scale") {
        // aggregate over the payload (count-star would prune the rebuild)
        graft.llm.CorpusOps.lineDedup(
          graft.llm.CorpusOps.withSyntheticLines(docsSf1, "doc_id", "text"),
          "doc_id", "lines_text", minDf = 3, hashedKeys = true)
          .agg(sum(length(col("clean_text"))) + sum(col("n_dropped"))).head().getLong(0)
      }
    }
    // Decontamination past the broadcast regime (VERDICT r9 ask #5):
    // evalMod=3 makes the "eval set" a third of the N× corpus — far past
    // anything broadcastable — and broadcastEval=false plans the gram
    // join as a key-partitioned shuffle join whose exchanges carry only
    // (id, gram) pairs, never the text payload (the plan invariant is
    // asserted in CorpusOpsSpec; this row prices it at scale). The
    // broadcast default at the same evalMod is measured alongside where
    // it still fits, so the crossover cost is on record.
    if (wanted("decontam_large_eval")) {
      // aggregate over the hit columns — count() elides the join (see
      // doc_decontam_scale note)
      parts += timed("decontam_large_eval_shuffle") {
        graft.llm.CorpusOps.decontaminate(docsSf1, "doc_id", "text",
          evalMod = 3L, n = 5, broadcastEval = false)
          .agg(sum(col("n_hit_grams")) + sum(col("n_eval_docs"))).head().getLong(0)
      }
      parts += timed("decontam_large_eval_broadcast") {
        graft.llm.CorpusOps.decontaminate(docsSf1, "doc_id", "text",
          evalMod = 3L, n = 5)
          .agg(sum(col("n_hit_grams")) + sum(col("n_eval_docs"))).head().getLong(0)
      }
    }
    // fuzzy decontamination at 10×: the REALISTIC scaling shape — the
    // TRAIN side is the 10×-copies corpus, the EVAL side stays the
    // base-corpus eval split (eval sets don't grow with training data).
    // Cost should scale ~linearly in train size: the eval band index is
    // fixed, the bipartite bucket products are bounded by the fixed eval
    // occupancy × train occupancy, and the verify join is candidate-
    // sized. Compared against the base-corpus run of the same op.
    if (wanted("fuzzy_decontam_scale")) {
      val base = graft.Tables.documents(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
      val evalSide = base.filter(col("doc_id") % 10 === 0)
      // untimed warmup: absorbs JVM/codegen/parquet-footer cost so the
      // 1× vs 10× comparison isolates the operator's scaling
      graft.llm.TextDedup.fuzzyDecontaminate(
        base.filter(col("doc_id") % 10 =!= 0), evalSide,
        "doc_id", "text").count()
      parts += timed("fuzzy_decontam_1x") {
        graft.llm.TextDedup.fuzzyDecontaminate(
          base.filter(col("doc_id") % 10 =!= 0), evalSide,
          "doc_id", "text").count()
      }
      parts += timed("fuzzy_decontam_10x_train") {
        // docsSf1 ids are shifted per copy, so the eval split still
        // comes from the BASE corpus — train grows 10×, eval fixed
        graft.llm.TextDedup.fuzzyDecontaminate(docsSf1, evalSide,
          "doc_id", "text").count()
      }
    }
    // capPerGroup hot-group probe (VERDICT r12 owed measurement): plant
    // ONE group holding 50% of the N× corpus — exactly the skew a bare
    // per-group window was feared to concentrate on one task. The probe
    // settled the round-12 design question: Catalyst's
    // InferWindowGroupLimit plants a PARTIAL group-limit below the
    // exchange, so the declarative window ALREADY ships only
    // partitions × cap rows per group — the hand-built pre-cap levels
    // were redundant and are deleted (capPerGroup scaladoc). The A/B
    // here is native rule vs the rule EXCLUDED: the shuffled-row delta
    // is what the optimizer saves at the hot group, and the probe
    // guards the rule staying effective on this plan shape.
    if (wanted("source_cap_hotgroup")) {
      val hot = docsSf1.withColumn("source",
        when(col("doc_id") % 2 === 0, lit("hotdomain")).otherwise(col("source")))
      val nPart = hot.rdd.getNumPartitions
      // per-plan shuffle ROWS via a section-local listener (the byte
      // tally rounds to 0 at this pruned-column scale; the row count is
      // the bound under test)
      val shufRecords = new java.util.concurrent.atomic.AtomicLong(0)
      val recListener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
          shufRecords.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      spark.sparkContext.addSparkListener(recListener)
      def timedRows(name: String)(rows: => Long): String = {
        spark.catalog.clearCache()
        shufRecords.set(0)
        val t0 = System.nanoTime()
        val n = rows
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // async listener settle
        f""""$name":{"sec":$sec%.2f,"rows":$n,"shuffled_rows":${shufRecords.get}}"""
      }
      def run(): Long =
        graft.llm.CorpusOps.capPerGroup(hot, "source", "doc_id", 10)
          .select("doc_id", "source").count()
      run() // untimed warm-up (codegen/scan classes), as fuzzy_decontam_scale does
      parts += timedRows("source_cap_hotgroup")(run())
      val exKey = "spark.sql.optimizer.excludedRules"
      val prevEx = spark.conf.getOption(exKey)
      spark.conf.set(exKey,
        "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit")
      try parts += timedRows("source_cap_hotgroup_no_grouplimit")(run())
      finally prevEx match {
        case Some(v) => spark.conf.set(exKey, v)
        case None => spark.conf.unset(exKey)
      }
      spark.sparkContext.removeSparkListener(recListener)
      parts += (s""""source_cap_hotgroup_bound":{"input_partitions":$nPart,""" +
        s""""cap":10,"hot_group_shuffled_rows_bound":${nPart * 10}}""")
    }
    // IMAGE near-dup at N×: the full decode → dHash → banded-hamming
    // pairs → CC dedup chain over N× id-derived pattern BMPs with a
    // WIDE pattern space (baseMod 4096 — the oracle's 32-pattern space
    // is deliberately tiny for mirroring and degenerates to all-over-cap
    // buckets at scale; a real image corpus looks like the wide one).
    // The decode projection is the dominant cost and scales linearly
    // with docs; the pair stage ships (id, hash) only.
    if (wanted("image_hash_scale")) {
      val ids = docsSf1.select(col("doc_id"))
      val t0 = System.nanoTime()
      val hashes = graft.llm.Multimodal.imageHashes(
        graft.llm.Multimodal.withSyntheticPatternImages(ids, "doc_id",
          baseMod = 4096L), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nH = hashes.count()
      val hashSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val pairs = graft.llm.TextDedup.hammingHashPairs(hashes, "id", "dhash",
        chunkBits = 16, maxHamming = 3, maxBucket = 1000)
      val nP = pairs.count()
      val pairSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val nS = graft.llm.TextDedup.dedupByPairs(ids, "doc_id",
        pairs.select("id_a", "id_b")).count()
      val dedupSec = (System.nanoTime() - t2) / 1e9
      hashes.unpersist()
      parts += (f""""image_hash_scale":{"docs":$nH,"hash_sec":$hashSec%.2f,""" +
        f""""hash_docs_per_sec":${nH / hashSec}%.0f,"pairs":$nP,""" +
        f""""pair_sec":$pairSec%.2f,"survivors":$nS,"dedup_sec":$dedupSec%.2f}""")
    }
    // VIDEO sequence near-dup at N×: the full container-decode →
    // per-frame dHash → shingled sequence-match → CC dedup chain over
    // N× id-derived packed-frame clips with a WIDE pattern space
    // (baseMod 4096 — same honesty argument as image_hash_scale: the
    // oracle's 32-family space degenerates to over-cap buckets at
    // scale). The fixture PLANTS the two regimes that matter
    // (re-encoded frame at v=1, trimmed head at v=2), so the measured
    // pair relation is exactly the trimmed/re-encoded recall path. The
    // per-frame decode projection dominates and scales with total
    // frames; the sequence stage ships (id, shingle-string) rows only.
    if (wanted("video_seq_scale")) {
      val ids = docsSf1.select(col("doc_id"))
      val t0 = System.nanoTime()
      val frames = graft.llm.Multimodal.videoFrameHashes(
        graft.llm.Multimodal.withSyntheticVideoClips(ids, "doc_id",
          baseMod = 4096L), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nF = frames.count()
      val hashSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val pws = graft.llm.TextDedup.frameSequencePairsWithStats(frames, "id",
        "frame_idx", "fhash", shingleK = 2, threshold = 0.5)
      val nP = pws.pairs.count()
      val pairSec = (System.nanoTime() - t1) / 1e9
      // the no-silent-caps witness at scale: how many shingle buckets
      // (and the largest one) the cap excluded from the candidate join
      val nDropped = pws.droppedBuckets.count()
      val maxDropped = if (nDropped == 0) 0L
        else pws.droppedBuckets.agg(max(col("size"))).head().getLong(0)
      val t2 = System.nanoTime()
      val nS = graft.llm.TextDedup.dedupByPairs(ids, "doc_id",
        pws.pairs.select("id_a", "id_b")).count()
      val dedupSec = (System.nanoTime() - t2) / 1e9
      pws.unpersist()
      frames.unpersist()
      parts += (f""""video_seq_scale":{"frames":$nF,"decode_sec":$hashSec%.2f,""" +
        f""""decode_frames_per_sec":${nF / hashSec}%.0f,"pairs":$nP,""" +
        f""""dropped_buckets":$nDropped,"max_dropped_bucket":$maxDropped,""" +
        f""""pair_sec":$pairSec%.2f,"survivors":$nS,"dedup_sec":$dedupSec%.2f}""")
    }
    // AUDIO segment tier at N×: decode → per-segment hashes → shared-key
    // pairs over the offset fixture at a wide family space — the planted
    // v=2 offset duplicates are the recall path being priced.
    if (wanted("audio_seg_scale")) {
      val ids = docsSf1.select(col("doc_id"))
      val t0 = System.nanoTime()
      val segs = graft.llm.Multimodal.audioSegmentHashes(
        graft.llm.Multimodal.withSyntheticOffsetWavs(ids, "doc_id",
          baseMod = 4096L), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nSeg = segs.count()
      val hashSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val pws = graft.llm.TextDedup.sharedKeyPairsWithStats(segs, "id", "shash",
        minShared = 3)
      val nP = pws.pairs.count()
      val pairSec = (System.nanoTime() - t1) / 1e9
      // at 100× the 15-bit key space saturates and the cap converts the
      // pair stage to silent recall loss — this is the telemetry that
      // makes the loss visible (audioSegmentHashes' saturation scaladoc)
      val nDropped = pws.droppedBuckets.count()
      val maxDropped = if (nDropped == 0) 0L
        else pws.droppedBuckets.agg(max(col("size"))).head().getLong(0)
      pws.unpersist()
      segs.unpersist()
      parts += (f""""audio_seg_scale":{"segments":$nSeg,"decode_sec":$hashSec%.2f,""" +
        f""""decode_segs_per_sec":${nSeg / hashSec}%.0f,"pairs":$nP,""" +
        f""""dropped_buckets":$nDropped,"max_dropped_bucket":$maxDropped,""" +
        f""""pair_sec":$pairSec%.2f}""")
    }
    // IMAGE-TILE crop-tolerant tier at N×: decode (no resize) →
    // fixed-grid overlapping tile aHashes → shared-key pairs → CC
    // dedup over the crop fixture at a wide family space. Rows scale
    // 49× the image count (7×7 tiles at 32×32/hop 4); the pair stage
    // ships (id, tile-hash) only — the tile analog of audio_seg_scale,
    // with the same dropped-bucket telemetry.
    if (wanted("image_tiles_scale")) {
      val ids = docsSf1.select(col("doc_id"))
      val t0 = System.nanoTime()
      val tiles = graft.llm.Multimodal.imageTileHashes(
        graft.llm.Multimodal.withSyntheticCropImages(ids, "doc_id",
          baseMod = 4096L), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nT = tiles.count()
      val hashSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val pws = graft.llm.TextDedup.sharedKeyPairsWithStats(tiles, "id", "thash",
        minShared = 10)
      val nP = pws.pairs.count()
      val pairSec = (System.nanoTime() - t1) / 1e9
      val nDropped = pws.droppedBuckets.count()
      val maxDropped = if (nDropped == 0) 0L
        else pws.droppedBuckets.agg(max(col("size"))).head().getLong(0)
      val t2 = System.nanoTime()
      val nS = graft.llm.TextDedup.dedupByPairs(ids, "doc_id",
        pws.pairs.select("id_a", "id_b")).count()
      val dedupSec = (System.nanoTime() - t2) / 1e9
      pws.unpersist()
      tiles.unpersist()
      parts += (f""""image_tiles_scale":{"tiles":$nT,"decode_sec":$hashSec%.2f,""" +
        f""""decode_tiles_per_sec":${nT / hashSec}%.0f,"pairs":$nP,""" +
        f""""dropped_buckets":$nDropped,"max_dropped_bucket":$maxDropped,""" +
        f""""pair_sec":$pairSec%.2f,"survivors":$nS,"dedup_sec":$dedupSec%.2f}""")
    }
    // heavy hitters at scale, on the distribution shape the operator
    // exists for: a handful of genuinely hot keys over a sea of
    // NEAR-UNIQUE keys (the URL-host shape — ~3% of rows land on 20 hot
    // source keys, the rest are one-per-row synthetic hosts). The arm
    // times the two-phase Misra-Gries operator against the naive full
    // groupBy answer and reports BOTH shuffle-write tallies — the
    // operator's claim is not wall-clock at sf0.1 (both are seconds) but
    // the exchange staying candidate-sized while the naive plan shuffles
    // the whole key distribution; at 100 TB that distribution does not
    // fit an exchange comfortably, and the ratio here is the evidence.
    if (wanted("heavy_hitters_scale")) {
      val skewed = docsSf1.select(
        when(col("doc_id") % 10 < 4, col("lang"))
          .otherwise(concat(lit("host"), col("doc_id"))).as("k"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nRows = skewed.count()
      shuffleWrite.set(0)
      val t0 = System.nanoTime()
      val hh = graft.llm.SkewOps.heavyHitters(skewed, "k", k = 30)
      val nHH = hh.count()
      val mgSec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val mgShuffleMb = shuffleWrite.get / 1048576.0
      shuffleWrite.set(0)
      val t1 = System.nanoTime()
      val total = skewed.agg(count(lit(1))).head().getLong(0)
      val nNaive = skewed.groupBy("k").agg(count(lit(1)).as("w"))
        .filter(col("w") * 31L > total).count()
      val naiveSec = (System.nanoTime() - t1) / 1e9
      Thread.sleep(500)
      val naiveShuffleMb = shuffleWrite.get / 1048576.0
      skewed.unpersist()
      require(nHH == nNaive,
        s"heavy_hitters_scale: two-phase ($nHH) != naive ($nNaive)")
      parts += (f""""heavy_hitters_scale":{"rows":$nRows,"hitters":$nHH,""" +
        f""""mg_sec":$mgSec%.2f,"mg_shuffle_mb":$mgShuffleMb%.2f,""" +
        f""""naive_sec":$naiveSec%.2f,"naive_shuffle_mb":$naiveShuffleMb%.2f}""")
    }
    // TOKEN-MIX hot-source A/B (round-15 VERDICT's one `weak`): ONE
    // source holding 50% of the N× corpus, window form (running sum —
    // Catalyst has NO InferWindowGroupLimit analog for SUM, so the hot
    // group's full share sorts in ONE window task) vs the segmented
    // prefix-sum form (one (group, range) exchange — the hot group
    // spreads across span/rangeWidth tasks; range offsets from a tiny
    // subtotal relation). Both admission sets are asserted IDENTICAL
    // (sym-diff 0) before timing; the recorded delta is the hot-group
    // serialization cost the segmentation removes.
    if (wanted("token_mix_hotgroup")) {
      // Run under default AQE (coalescing on): at this probe scale AQE
      // merges near-empty partitions, so max_task_shuffle_read_rows
      // understates the segmented form's structural spread (the plan
      // pin in LlmOpsSpec carries the partitioning proof); the window
      // form's max task is structural at ANY scale — the hot group's
      // full share plus whatever hashes with it.
      val hot = docsSf1.withColumn("source",
        when(col("doc_id") % 2 === 0, lit("hotdomain")).otherwise(col("source")))
      val budget = 100000L // admits a few hundred docs/group; the hot group rejects ~all
      val rangeWidth = 4096L
      val shufRecords = new java.util.concurrent.atomic.AtomicLong(0)
      // max shuffle rows READ by any single task — the machine-speed-
      // independent witness: the window form funnels the hot group's
      // full share into ONE task's sort+cumsum; the segmented form's
      // ceiling is its range granularity
      val maxTaskRead = new java.util.concurrent.atomic.AtomicLong(0)
      val recListener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
          shufRecords.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val r = Option(te.taskMetrics).map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)
          maxTaskRead.accumulateAndGet(r, Math.max(_, _))
        }
      }
      spark.sparkContext.addSparkListener(recListener)
      def timedRows(name: String)(rows: => Long): String = {
        spark.catalog.clearCache()
        shufRecords.set(0)
        maxTaskRead.set(0)
        val t0 = System.nanoTime()
        val n = rows
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // async listener settle
        f""""$name":{"sec":$sec%.2f,"rows":$n,"shuffled_rows":${shufRecords.get},""" +
          f""""max_task_shuffle_read_rows":${maxTaskRead.get}}"""
      }
      def winDf() = graft.llm.CorpusOps.mixByTokenBudget(
        hot, "doc_id", "text", "source", budget)
      def segDf() = graft.llm.CorpusOps.mixByTokenBudgetSegmented(
        hot, "doc_id", "text", "source", budget, rangeWidth = rangeWidth)
      val symDiff = winDf().exceptAll(segDf()).count() +
        segDf().exceptAll(winDf()).count()
      require(symDiff == 0,
        s"segmented token mix diverged from the window form: sym-diff $symDiff")
      winDf().count(); segDf().count() // untimed warm-up
      parts += timedRows("token_mix_window")(winDf().count())
      parts += timedRows("token_mix_segmented")(segDf().count())
      spark.sparkContext.removeSparkListener(recListener)
      parts += s""""token_mix_hotgroup_symdiff":$symDiff"""
    }
    // FuzzyDecontamStream state soak (VERDICT r12 owed measurement): the
    // watermark-bounded pair dedup's state must track the RETENTION
    // WINDOW, not the lifetime log. Train side = copies 0-2 of the N×
    // corpus (the copy construction makes every eval text's copies
    // cross-side near-dups, so the pair log is dense — the regime where
    // lifetime pair state would actually hurt); retention = 2 seconds
    // with real wall-time gaps between increments. Bounded = the state-
    // rows trajectory plateaus (evictions keep pace with emissions)
    // instead of tracking the cumulative emitted-pair count.
    if (wanted("fuzzy_stream_soak")) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      val baseDocs = graft.Tables.documents(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
      val evalSide = baseDocs.filter(col("doc_id") % 10 === 0)
      val maxDoc = baseDocs.agg(max(col("doc_id")).cast("long")).head().getLong(0) + 1
      val src = docsSf1
        .filter(col("doc_id") % 10 =!= 0 && col("doc_id") < lit(3L * maxDoc))
        .select(col("doc_id"), col("text"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      val stream = MemoryStream[Row]
      val cs = graft.streaming.FuzzyDecontamStream.contaminationLogStats(
        stream.toDF(), evalSide, "doc_id", "text", dedupRetention = "2 seconds")
      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_fuzzy_soak")
      val q = cs.log.writeStream.format("memory").queryName("soak_fuzzy")
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .start()
      val all = src.orderBy("doc_id").collect()
      val nInc = 20
      val per = math.max(1, all.length / nInc)
      val traj = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t0 = System.nanoTime()
      all.grouped(per).foreach { chunk =>
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
        traj += Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum)
          .getOrElse(-1L)
        Thread.sleep(400) // real wall-time gap so the watermark advances
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val emitted = spark.table("soak_fuzzy").count()
      q.stop(); cs.unpersist()
      parts += (f""""fuzzy_stream_soak":{"train_docs":${all.length},""" +
        f""""increments":$nInc,"retention_sec":2,"sec":$sec%.1f,""" +
        f""""emitted_pairs":$emitted,""" +
        f""""state_rows_max":${traj.max},"state_rows_final":${traj.last},""" +
        s""""state_rows_trajectory":${traj.mkString("[", ",", "]")}}""")
    }
    // span dedup at N×: the copy construction duplicates every doc body
    // N times (copies differ only in the appended variant token), so
    // nearly every 5-window is duplicated — the WORST-case regime for
    // this operator (hit stream ≈ gram stream). Linear-ish wall here
    // means the pipeline has no duplication-fraction-sensitive blowup.
    if (wanted("dup_spans")) {
      parts += timed("doc_dup_spans_xx_scale") {
        graft.llm.TextDedup.duplicateSpans(docsSf1, "doc_id", "text", k = 5,
          minCount = 2, hashedKeys = true).count()
      }
      parts += timed("doc_dup_span_removal_xx_scale") {
        // NOT count(): the spans side is unique on the join key, so
        // Catalyst legally eliminates the whole left join (and with it
        // the entire span computation) under a bare count(*) — aggregate
        // over the rewritten text so the op actually runs
        graft.llm.TextDedup.removeDuplicateSpans(docsSf1, "doc_id", "text", k = 5,
          minCount = 2, hashedKeys = true)
          .agg(sum(length(col("clean_text")))).head().getLong(0)
      }
    }
    // Adversarial CutSpans probe (VERDICT r10 ask #7): the kernel's
    // documented bound is O(tokens + spans log spans) per doc; its worst
    // case is the FULLY-FRAGMENTED doc — a disjoint single-token span at
    // every other position, so spans ≈ tokens/2 and nothing merges away.
    // Feed that span relation straight into removeSpans (the public API
    // the bound is attached to) at 1× and 10× doc length with the doc
    // count fixed: a ~10× wall ratio pins the linear-ish bound; the
    // pre-r10 HOF (per-token `exists` over the span array) would go
    // ~100× here. Spans are synthesized, not detected — the probe
    // isolates the kernel from the gram pipeline measured above.
    if (wanted("cutspans_adversarial")) {
      val nDocs = 20000L
      // range-derived inputs carry rows-only stats, so Catalyst would
      // broadcast a multi-GB generated side at the bigger sizes; at the
      // operator's real scale neither side of the span join broadcasts
      val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      def run(tokensPerDoc: Int): Long = {
        val corpus = spark.range(nDocs).select(col("id").as("doc_id"),
          array_join(transform(sequence(lit(0), lit(tokensPerDoc - 1)),
            i => concat(lit("t"), pmod(i, lit(7)).cast("string"))), " ").as("text"))
        val spans = spark.range(nDocs).select(col("id").as("doc_id"),
            explode(sequence(lit(0L), lit(tokensPerDoc - 1L), lit(2L))).as("span_start"))
          .withColumn("span_end", col("span_start"))
        graft.llm.TextDedup.removeSpans(corpus, "doc_id", "text", spans)
          .agg(sum(col("n_dup_tokens")) + sum(length(col("clean_text"))))
          .head().getLong(0)
      }
      // sizes via SPARK_GRAFT_CUTSPANS_TOKENS (comma-separated tokens/doc)
      sys.env.getOrElse("SPARK_GRAFT_CUTSPANS_TOKENS", "2000,20000")
        .split(",").map(_.trim.toInt).foreach { l =>
          parts += timed(s"cutspans_adversarial_${l}tok") { run(l) }
        }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    val embSf1 = spark.read.parquet(embPath)
    var embDropped = -1L
    if (wanted("emb_neardup_pairs")) parts += timed("emb_neardup_pairs") {
      val pws = graft.llm.Similarity.embeddingNearDupPairsWithStats(
        embSf1, "vec_id", "embedding", threshold = 0.9)
      val n = pws.pairs.count()
      embDropped = pws.droppedBuckets.count()
      pws.unpersist()
      n
    }
    // SemDeDup at 10×: the nCells knob IS the cost model (the ε-pair
    // self-join scans Σ|cell|² ≈ n²/nCells) — measure wall + within-cell
    // pair-scan size at a coarse and a √n-sized cell count against the
    // brute n²/2 the clustering avoids. The 10× corpus plants
    // cross-copy near-dup cliques (cosine ≈ 0.999), so ε = 0.9 runs the
    // production high-similarity regime.
    if (wanted("semdedup_scale")) {
      val nv = embSf1.count()
      Seq(16, math.max(16, math.sqrt(nv.toDouble).toInt)).foreach { nc =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val kept = graft.llm.Similarity.semDedup(embSf1, "vec_id", "embedding",
          dim = 64, eps = 0.9, nCells = nc, lloydIters = 1).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // the cell histogram prices the quadratic the self-join actually ran
        // `/` on longs yields double in Spark SQL — cast the sum back
        val cellPairs = graft.llm.Similarity.lloydAssign(
            embSf1.select(col("vec_id").as("corpus_id"),
              col("embedding").cast("array<double>").as("cv")), nc, 1)._2
          .groupBy("cell").count()
          .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"))
          .head().getLong(0)
        parts += (f""""semdedup_scale_c$nc":{"sec":$sec%.2f,"vecs":$nv,""" +
          f""""kept":$kept,"cell_pairs":$cellPairs,""" +
          f""""brute_pairs":${nv * (nv - 1) / 2}}""")
      }
    }
    // SemDeDup HOT-CELL probe (VERDICT r13 ask #1's "done" measurement):
    // PLANT one cell holding 50% of the corpus — every even vec_id is
    // replaced by ONE fixed e0-dominated vector (bit-identical exact
    // duplicates: every anchor sees the same csim, so the argmax
    // tie-break sends ALL of them to one cell — the duplicate-heavy skew
    // the operator targets). The uncapped pair scan is quadratic in the
    // planted cell AND single-task (one cell = one shuffle partition);
    // the capped run (maxCell between the normal cell size and the
    // planted size) drops exactly that cell, pays only the normal cells,
    // and reports it in droppedCells. A/B at BASE scale; at N× the
    // uncapped arm is the measured quadratic single-task cliff — run
    // capped-only there and report the avoided pair count.
    if (wanted("semdedup_hotcell")) {
      val baseEmb = graft.Tables.embeddings(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
      def plant(em: org.apache.spark.sql.DataFrame) =
        em.withColumn("embedding",
          when(col("vec_id") % 2 === 0,
            transform(col("embedding"), (x, p) =>
              when(p === 0, lit(1.0f)).otherwise(lit(1e-4f))))
            .otherwise(col("embedding")))
      def run(em: org.apache.spark.sql.DataFrame, tag: String, nv: Long,
              maxCell: Int): Unit = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val r = graft.llm.Similarity.semDedupStats(em, "vec_id", "embedding",
          dim = 64, eps = 0.9, nCells = 16, lloydIters = 1, maxCell = maxCell)
        val kept = r.survivors.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val dropped = r.droppedCells.select(col("size").cast("long"))
          .collect().map(_.getLong(0)).sorted.toSeq
        val avoided = dropped.map(s => s * (s - 1) / 2).sum
        parts += (f""""semdedup_hotcell_$tag":{"sec":$sec%.2f,"vecs":$nv,""" +
          f""""kept":$kept,"dropped_cells":${dropped.length},""" +
          f""""dropped_sizes":[${dropped.mkString(",")}],""" +
          f""""avoided_pairs":$avoided}""")
        println(s"[soak] PART ${parts.last}")
      }
      val nvBase = baseEmb.count()
      // cap: above the ~n/16 normal cell size, far below the n/2 plant
      val cap = math.max(64, (nvBase / 8).toInt)
      run(plant(baseEmb), "uncapped_1x", nvBase, Int.MaxValue)
      run(plant(baseEmb), "capped_1x", nvBase, cap)
      val nvN = embSf1.count()
      run(plant(embSf1), s"capped_${copies}x", nvN,
        math.max(64, (nvN / 8).toInt))
      // the cliff itself, opt-in (env) because it is deliberately
      // pathological: the N× planted cell's pair scan runs n²/8 pairs in
      // ONE task (single cell = single shuffle partition) — the
      // SPARK_GRAFT_SOAK_MONO_INCS pattern: measure the bad arm once,
      // bounded, not per round
      if (sys.env.get("SPARK_GRAFT_HOTCELL_UNCAPPED_NX").contains("1"))
        run(plant(embSf1), s"uncapped_${copies}x", nvN, Int.MaxValue)
    }
    // ANN quality at 10×: recall@20 of IVF (64 cells, 8 probes — each
    // query scans ~1/8 of the corpus) against brute-force ground truth on
    // a deterministic ~50-query sample, anchor centroids vs one Lloyd
    // pass. k=20 exceeds the planted 10-cliques (9 same-clique neighbors)
    // so the tail of each truth set holds genuine low-similarity
    // neighbors — the part cell assignment can actually lose.
    if (wanted("emb_ann_ivf_recall")) {
      val qs = embSf1.filter(col("vec_id") % 397 === 0).cache()
      val nq = qs.count()
      val truth = graft.llm.Similarity
        .bruteForceTopK(embSf1, qs, "vec_id", "embedding", 20)
        .select("query_id", "corpus_id").cache()
      val nTruth = truth.count()
      def recallOf(lloydIters: Int): (Double, Double) = {
        spark.catalog.clearCache(); qs.cache(); truth.cache()
        val t0 = System.nanoTime()
        val hits = graft.llm.Similarity
          .ivfTopK(embSf1, qs, "vec_id", "embedding", 20,
            nCells = 64, nProbe = 8, lloydIters = lloydIters)
          .select("query_id", "corpus_id")
          .join(truth, Seq("query_id", "corpus_id")).count()
        ((System.nanoTime() - t0) / 1e9, hits.toDouble / nTruth)
      }
      val (ivf0Sec, ivf0Rec) = recallOf(0)
      val (ivf1Sec, ivf1Rec) = recallOf(1)
      parts += (f""""emb_ann_ivf_recall":{"queries":$nq,"k":20,"n_cells":64,"n_probe":8,""" +
        f""""anchor":{"sec":$ivf0Sec%.2f,"recall":$ivf0Rec%.3f},""" +
        f""""lloyd1":{"sec":$ivf1Sec%.2f,"recall":$ivf1Rec%.3f}}""")
    }
    // Incremental corpus growth (VERDICT r6 stretch #8): feed the 10×
    // corpus to the STREAMING near-dup operator in 10 doc_id-ordered
    // increments (with the copy construction, increment i IS copy i, so
    // later increments are near-dups of earlier ones — real incremental
    // dup discovery) and record each increment's cost next to re-running
    // the BATCH dedup from scratch on the same cumulative prefix — the
    // number that sells the incremental operator: per-increment streaming
    // cost stays ~flat while batch re-run cost grows with the corpus.
    // The driver-side feed mirrors the Replay harness (verification/
    // measurement only; production reads a real source).
    if (wanted("incremental_neardup")) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      val src = docsSf1.select(col("doc_id"), col("text")).orderBy("doc_id")
      val rows = src.collect()
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      val stream = MemoryStream[Row]
      val out = graft.streaming.NearDupStream.nearDupStream(
        stream.toDF(), "doc_id", "text", threshold = 0.2)
      val q = out.writeStream.format("memory").queryName("inc_neardup")
        .outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_inc").toString)
        .start()
      val nInc = 10
      val incSize = rows.length / nInc
      val incJson = (0 until nInc).map { i =>
        val chunk = rows.slice(i * incSize, if (i == nInc - 1) rows.length else (i + 1) * incSize)
        val t0 = System.nanoTime()
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
        val ssec = (System.nanoTime() - t0) / 1e9
        val hi = chunk.last.getLong(0)
        val prefix = docsSf1.filter(col("doc_id") <= hi)
        val t1 = System.nanoTime()
        val kept = graft.llm.TextDedup.dedupByPairs(prefix, "doc_id",
          graft.llm.TextDedup.minhashPairs(prefix, "text", "doc_id", threshold = 0.2))
          .count()
        val bsec = (System.nanoTime() - t1) / 1e9
        spark.catalog.clearCache()
        f"""{"inc":$i,"stream_sec":$ssec%.2f,"batch_rerun_sec":$bsec%.2f,"batch_kept":$kept}"""
      }
      q.stop()
      // final-state cross-check: the stream's surviving set size must
      // equal the last batch re-run's (same pairs, same CC semantics)
      val survivors = spark.table("inc_neardup")
        .groupBy(col("doc_id"))
        .agg(max_by(col("change"), col("upd_seq")).as("change"))
        .filter(col("change") === "keep").count()
      parts += (s""""incremental_neardup":{"survivors_stream":$survivors,""" +
        s""""increments":[${incJson.mkString(",")}]}""")
    }
    // 100×-scale streaming parity + state soak (VERDICT r7 ask #3): feed
    // the FULL N× corpus (at copies=100: 500k docs, the r6 batch
    // flagship) through NearDupStream in doc_id-ordered increments and
    // record, per increment, docs/s and the growth of the RocksDB state
    // (stateOperators.numRowsTotal + checkpoint dir bytes) — does the
    // single-task index stage's throughput DRIFT as the index grows? —
    // then assert final-survivor parity against one batch dedupByPairs
    // run on the same corpus (set equality, not just counts).
    if (wanted("neardup_stream_soak")) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      val src = docsSf1.select(col("doc_id"), col("text"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      val stream = MemoryStream[Row]
      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_soak")
      val q = graft.streaming.NearDupStream.nearDupStream(
          stream.toDF(), "doc_id", "text", threshold = 0.2)
        .writeStream.format("memory").queryName("soak_neardup")
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .start()
      def ckptBytes: Long = {
        val s = java.nio.file.Files.walk(ckpt)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
      val ids = docsSf1.agg(min(col("doc_id")).cast("long"),
        max(col("doc_id")).cast("long")).head()
      val (lo, hi) = (ids.getLong(0), ids.getLong(1))
      val nInc = 20
      val span = (hi - lo + nInc) / nInc
      val incJson = (0 until nInc).map { i =>
        // collect per increment (not the whole 500k-doc corpus at once):
        // the driver-side feed mirrors the Replay harness — measurement
        // only; production reads a real source
        val chunk = src.filter(col("doc_id") >= lo + i * span &&
          col("doc_id") < lo + (i + 1) * span).orderBy("doc_id").collect()
        val t0 = System.nanoTime()
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val stateRows = Option(q.lastProgress)
          .flatMap(p => p.stateOperators.headOption)
          .map(_.numRowsTotal).getOrElse(-1L)
        f"""{"inc":$i,"docs":${chunk.length},"sec":$sec%.2f,""" +
          f""""docs_per_sec":${chunk.length / sec}%.0f,""" +
          f""""state_rows":$stateRows,"ckpt_mb":${ckptBytes / 1048576.0}%.1f}"""
      }
      val streamKept = spark.table("soak_neardup")
        .groupBy(col("doc_id"))
        .agg(max_by(col("change"), col("upd_seq")).as("change"))
        .filter(col("change") === "keep")
        .select("doc_id").cache()
      val nStream = streamKept.count()
      q.stop()
      val batchKept = graft.llm.TextDedup.dedupByPairs(docsSf1, "doc_id",
        graft.llm.TextDedup.minhashPairs(docsSf1, "text", "doc_id", threshold = 0.2))
        .select("doc_id").cache()
      val nBatch = batchKept.count()
      val symDiff = streamKept.exceptAll(batchKept).count() +
        batchKept.exceptAll(streamKept).count()
      streamKept.unpersist(); batchKept.unpersist()
      parts += (s""""neardup_stream_soak":{"survivors_stream":$nStream,""" +
        s""""survivors_batch":$nBatch,"sym_diff":$symDiff,""" +
        s""""increments":[${incJson.mkString(",")}]}""")
    }
    // Incremental span-detection soak at N×: docs/s drift as the gram
    // index grows + RocksDB state size per increment, closed by exact
    // set parity of the final (max-upd_seq) spans against the batch
    // operator on the same corpus — the DupSpanStream twin of the
    // near-dup soak above.
    if (wanted("dupspan_stream_soak")) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      val src = docsSf1.select(col("doc_id"), col("text"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      val stream = MemoryStream[Row]
      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_spansoak")
      val q = graft.streaming.DupSpanStream.dupSpanStream(
          stream.toDF(), "doc_id", "text", k = 5, hashedKeys = true)
        .writeStream.format("memory").queryName("soak_dupspan")
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .start()
      def ckptBytes: Long = {
        val s = java.nio.file.Files.walk(ckpt)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
      val ids = docsSf1.agg(min(col("doc_id")).cast("long"),
        max(col("doc_id")).cast("long")).head()
      val (lo, hi) = (ids.getLong(0), ids.getLong(1))
      val nInc = 20
      val span = (hi - lo + nInc) / nInc
      val incJson = (0 until nInc).map { i =>
        val chunk = src.filter(col("doc_id") >= lo + i * span &&
          col("doc_id") < lo + (i + 1) * span).orderBy("doc_id").collect()
        val t0 = System.nanoTime()
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val stateRows = Option(q.lastProgress)
          .flatMap(p => p.stateOperators.headOption)
          .map(_.numRowsTotal).getOrElse(-1L)
        f"""{"inc":$i,"docs":${chunk.length},"sec":$sec%.2f,""" +
          f""""docs_per_sec":${chunk.length / sec}%.0f,""" +
          f""""state_rows":$stateRows,"ckpt_mb":${ckptBytes / 1048576.0}%.1f}"""
      }
      val streamSpans = graft.streaming.DupSpanStream
        .latestSpans(spark.table("soak_dupspan"), "doc_id").cache()
      val nStream = streamSpans.count()
      q.stop()
      val batchSpans = graft.llm.TextDedup.duplicateSpans(docsSf1, "doc_id", "text",
        k = 5, hashedKeys = true).cache()
      val nBatch = batchSpans.count()
      val symDiff = streamSpans.exceptAll(batchSpans).count() +
        batchSpans.exceptAll(streamSpans).count()
      streamSpans.unpersist(); batchSpans.unpersist()
      parts += (s""""dupspan_stream_soak":{"spans_stream":$nStream,""" +
        s""""spans_batch":$nBatch,"sym_diff":$symDiff,""" +
        s""""increments":[${incJson.mkString(",")}]}""")
    }
    // Gram-sharded span-detection path (VERDICT r9 ask #1): the monolith
    // soak above serializes promotion AND merging in one task (~1,120
    // docs/s flat). The sharded split runs stage A (per-gram promotion)
    // across all cores and stage B (per-doc island merge) across all
    // cores, bridged by a replayable hit log — here a streaming PARQUET
    // sink (the N× hit log is tens of millions of rows; the memory sink
    // would hold them all on the driver). Parity is two-sided: stage-A
    // hits ≡ the batch duplicated-window relation (set equality), and
    // stage-B latestSpans ≡ batch duplicateSpans — both sym_diff-0 over
    // the full N× corpus. The honest local[32] question is whether the
    // sharded form's per-batch overhead (32 RocksDB stores committing
    // per micro-batch) eats the parallelism; docs/s per stage answers it.
    if (wanted("dupspan_sharded")) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      val src = docsSf1.select(col("doc_id"), col("text"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val encA: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      val hitsDir = java.nio.file.Files.createTempDirectory("sharded_hits").toString
      val msA = MemoryStream[Row](encA, sqlCtx)
      val qA = graft.streaming.DupSpanStream.shardedGramHits(
          msA.toDF(), "doc_id", "text", k = 5, hashedKeys = true)
        .writeStream.format("parquet").outputMode("append")
        .option("path", hitsDir)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_spanShardA").toString)
        .start()
      val ids = docsSf1.agg(min(col("doc_id")).cast("long"),
        max(col("doc_id")).cast("long")).head()
      val (lo, hi) = (ids.getLong(0), ids.getLong(1))
      val nInc = 20
      val span = (hi - lo + nInc) / nInc
      var nDocs = 0L
      val t0 = System.nanoTime()
      (0 until nInc).foreach { i =>
        val chunk = src.filter(col("doc_id") >= lo + i * span &&
          col("doc_id") < lo + (i + 1) * span).orderBy("doc_id").collect()
        nDocs += chunk.length
        msA.addData(chunk.toSeq)
        qA.processAllAvailable()
      }
      val secA = (System.nanoTime() - t0) / 1e9
      val stateRowsA = Option(qA.lastProgress)
        .flatMap(p => p.stateOperators.headOption).map(_.numRowsTotal).getOrElse(-1L)
      qA.stop()
      val hits = spark.read.parquet(hitsDir).cache()
      val nHits = hits.count()
      // parity 1: the hit set must equal the batch duplicated windows
      val toks = docsSf1.select(col("doc_id"),
        graft.llm.TextDedup.tokenize(col("text")).as("toks"))
      val grams = toks.select(col("doc_id"),
        posexplode(graft.llm.TextDedup.shingleHashes(col("toks"), 5)).as(Seq("pos", "g")))
      val dupG = grams.groupBy("g").count().filter(col("count") >= 2).select("g")
      val batchHits = grams.join(dupG, "g")
        .select(col("doc_id"), col("pos").cast("long").as("pos"))
      val hitDiff = hits.distinct().exceptAll(batchHits).count() +
        batchHits.exceptAll(hits.distinct()).count()
      // stage B: doc-keyed merge, fed the hit log in doc-range chunks
      // (order across chunks is irrelevant — the merge is a distinct
      // union; committed MemoryStream batches are dropped, so the
      // driver holds one chunk at a time)
      val encB: org.apache.spark.sql.Encoder[Row] = Encoders.row(hits.schema)
      val msB = MemoryStream[Row](encB, sqlCtx)
      val qB = graft.streaming.DupSpanStream.spanMergeStage(
          msB.toDF(), "doc_id", k = 5)
        .writeStream.format("memory").queryName("sharded_spans")
        .outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_spanShardB").toString)
        .start()
      val t1 = System.nanoTime()
      (0 until nInc).foreach { i =>
        val chunk = hits.filter(col("doc_id") >= lo + i * span &&
          col("doc_id") < lo + (i + 1) * span).collect()
        msB.addData(chunk.toSeq)
        qB.processAllAvailable()
      }
      val secB = (System.nanoTime() - t1) / 1e9
      val streamSpans = graft.streaming.DupSpanStream
        .latestSpans(spark.table("sharded_spans"), "doc_id").cache()
      val nStream = streamSpans.count()
      qB.stop()
      val batchSpans = graft.llm.TextDedup.duplicateSpans(docsSf1, "doc_id", "text",
        k = 5, hashedKeys = true).cache()
      val nBatch = batchSpans.count()
      val symDiff = streamSpans.exceptAll(batchSpans).count() +
        batchSpans.exceptAll(streamSpans).count()
      streamSpans.unpersist(); batchSpans.unpersist(); hits.unpersist()
      val pipelined = nDocs / math.max(secA, secB)
      parts += (f""""dupspan_sharded":{"docs":$nDocs,"hits":$nHits,""" +
        f""""stage_a_sec":$secA%.2f,"stage_a_docs_per_sec":${nDocs / secA}%.0f,""" +
        f""""stage_a_state_rows":$stateRowsA,"hit_sym_diff":$hitDiff,""" +
        f""""stage_b_sec":$secB%.2f,"stage_b_hits_per_sec":${nHits / secB}%.0f,""" +
        f""""pipelined_docs_per_sec":$pipelined%.0f,""" +
        f""""spans_stream":$nStream,"spans_batch":$nBatch,"sym_diff":$symDiff}""")
    }
    // Line-sharded line-dedup path — the single-stage twin: the
    // insert-only (doc, pos) log needs no merge stage, so the whole
    // operator shards by line key in one query. Runs over the SYNTHETIC
    // multi-line corpus (shared headers/footers + 12-word content lines
    // identical across the N copies — raw document text has no newlines,
    // which would make the parity target trivially empty), both the
    // monolith and the sharded form on the same feed: the honest
    // local[32] A/B. Parity: each accumulated log ≡ batch
    // duplicateLines over the N× corpus.
    if (wanted("linededup_sharded")) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      val src = graft.llm.CorpusOps.withSyntheticLines(docsSf1, "doc_id", "text")
        .select(col("doc_id"), col("lines_text"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      val ids = docsSf1.agg(min(col("doc_id")).cast("long"),
        max(col("doc_id")).cast("long")).head()
      val (lo, hi) = (ids.getLong(0), ids.getLong(1))
      val nInc = 20
      val span = (hi - lo + nInc) / nInc
      def runOne(name: String,
                 build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                 mode: String): (Long, Double, Long, org.apache.spark.sql.DataFrame) = {
        val ms = MemoryStream[Row](enc, sqlCtx)
        val q = build(ms.toDF())
          .writeStream.format("memory").queryName(name)
          .outputMode(mode)
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString)
          .start()
        var nDocs = 0L
        val t0 = System.nanoTime()
        (0 until nInc).foreach { i =>
          val chunk = src.filter(col("doc_id") >= lo + i * span &&
            col("doc_id") < lo + (i + 1) * span).orderBy("doc_id").collect()
          nDocs += chunk.length
          ms.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val stateRows = Option(q.lastProgress)
          .flatMap(p => p.stateOperators.headOption).map(_.numRowsTotal).getOrElse(-1L)
        q.stop()
        (nDocs, sec, stateRows,
          spark.table(name).select(col("doc_id"), col("pos")))
      }
      val (nDocsS, secS, stateS, droppedS0) = runOne("sharded_lines",
        sdf => graft.streaming.LineDedupStream.shardedLineDedupStream(
          sdf, "doc_id", "lines_text", minDf = 3, hashedKeys = true), "append")
      val (_, secM, stateM, droppedM0) = runOne("monolith_lines",
        sdf => graft.streaming.LineDedupStream.lineDedupStream(
          sdf, "doc_id", "lines_text", minDf = 3, hashedKeys = true), "update")
      val droppedS = droppedS0.cache(); val droppedM = droppedM0.cache()
      val nStream = droppedS.count()
      val nMono = droppedM.count()
      val batchDropped = graft.llm.CorpusOps.duplicateLines(
        src, "doc_id", "lines_text", minDf = 3, hashedKeys = true).cache()
      val nBatch = batchDropped.count()
      val symDiffS = droppedS.exceptAll(batchDropped).count() +
        batchDropped.exceptAll(droppedS).count()
      val symDiffM = droppedM.exceptAll(batchDropped).count() +
        batchDropped.exceptAll(droppedM).count()
      droppedS.unpersist(); droppedM.unpersist(); batchDropped.unpersist()
      parts += (f""""linededup_sharded":{"docs":$nDocsS,""" +
        f""""sharded_sec":$secS%.2f,"sharded_docs_per_sec":${nDocsS / secS}%.0f,""" +
        f""""sharded_state_rows":$stateS,"sharded_sym_diff":$symDiffS,""" +
        f""""monolith_sec":$secM%.2f,"monolith_docs_per_sec":${nDocsS / secM}%.0f,""" +
        f""""monolith_state_rows":$stateM,"monolith_sym_diff":$symDiffM,""" +
        f""""dropped_stream":$nStream,"dropped_monolith":$nMono,"dropped_batch":$nBatch}""")
    }
    // Band-sharded near-dup path (VERDICT r7 ask #4): can the split —
    // stage A candidate-gen+verify PARALLEL across band-code shards,
    // stage B a tiny ids-only union-find — beat the monolith's
    // single-task ceiling? The two stages run as two queries bridged by
    // the collected edge set (Spark doesn't chain two update-mode
    // transformWithState ops; production bridges via a replayable log).
    // Measured: per-stage wall time and docs/s on the N× corpus, and
    // final-survivor parity (set equality) against batch dedupByPairs.
    // The pipelined deployment rate is bounded by the slower stage:
    // docs/s_pipelined = nDocs / max(secA, secB).
    if (wanted("neardup_sharded")) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      // stage A runs 32 RocksDB stores (one per shuffle partition) that
      // each commit per micro-batch; the hook's changelog checkpointing
      // replaces the per-commit full snapshot with a delta — what matters
      // when state per batch grows ×bands
      val src = docsSf1.select(col("doc_id"), col("text"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val encA: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      // stage A: docs → verified ids-only edges, band-sharded
      val msA = MemoryStream[Row]
      val qA = graft.streaming.NearDupStream.shardedEdges(
          msA.toDF(), "doc_id", "text", threshold = 0.2)
        .writeStream.format("memory").queryName("shard_edges")
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_shardA").toString)
        .start()
      val rows = src.orderBy("doc_id").collect()
      val nDocs = rows.length
      val nInc = 10
      val per = nDocs / nInc
      val t0 = System.nanoTime()
      (0 until nInc).foreach { i =>
        msA.addData(rows.slice(i * per, if (i == nInc - 1) nDocs else (i + 1) * per).toSeq)
        qA.processAllAvailable()
      }
      val secA = (System.nanoTime() - t0) / 1e9
      val edges = spark.table("shard_edges")
        .select(col("a"), col("b")).as[(Long, Long)](Encoders.product[(Long, Long)])
        .collect()
      qA.stop()
      // stage B: markers + edges → keep/drop change log (ids only)
      implicit val encB: org.apache.spark.sql.Encoder[(Long, Long)] =
        Encoders.product[(Long, Long)]
      val msB = MemoryStream[(Long, Long)]
      val qB = graft.streaming.NearDupStream.unionFindStage(
          msB.toDF().toDF("a", "b"))
        .writeStream.format("memory").queryName("shard_verdicts")
        .outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_shardB").toString)
        .start()
      val markers = rows.map(r => (r.getLong(0), r.getLong(0)))
      val t1 = System.nanoTime()
      msB.addData(markers.toSeq)
      msB.addData(edges.toSeq)
      qB.processAllAvailable()
      val secB = (System.nanoTime() - t1) / 1e9
      val streamKept = spark.table("shard_verdicts")
        .groupBy(col("doc_id"))
        .agg(max_by(col("change"), col("upd_seq")).as("change"))
        .filter(col("change") === "keep")
        .select("doc_id").cache()
      val nKept = streamKept.count()
      qB.stop()
      val batchKept = graft.llm.TextDedup.dedupByPairs(docsSf1, "doc_id",
        graft.llm.TextDedup.minhashPairs(docsSf1, "text", "doc_id", threshold = 0.2))
        .select("doc_id").cache()
      val nBatch = batchKept.count()
      val symDiff = streamKept.exceptAll(batchKept).count() +
        batchKept.exceptAll(streamKept).count()
      streamKept.unpersist(); batchKept.unpersist()
      val pipelined = nDocs / math.max(secA, secB)
      parts += (f""""neardup_sharded":{"docs":$nDocs,"edges":${edges.length},""" +
        f""""stage_a_sec":$secA%.2f,"stage_a_docs_per_sec":${nDocs / secA}%.0f,""" +
        f""""stage_b_sec":$secB%.2f,"stage_b_rows_per_sec":${(markers.length + edges.length) / secB}%.0f,""" +
        f""""pipelined_docs_per_sec":$pipelined%.0f,""" +
        f""""survivors_stream":$nKept,"survivors_batch":$nBatch,"sym_diff":$symDiff}""")
    }
    // EDIT-DISTANCE sharded-vs-monolith A/B at N× (the neardup_sharded
    // contract applied to the character-level family): the N×-copies
    // corpus plants lev≤2 copy cliques, the sharded bridge's stage A
    // parallelizes the lev verifies across band shards while the
    // monolith serializes them in one task. Both reduce to the same
    // survivor set as batch dedupByPairs(editDistancePairs) — sym-diff
    // asserted 0.
    if (wanted("editdist_sharded")) {
      editShardedAB(spark, parts, docsSf1, "editdist_sharded")
    }
    // PLANTED-PAIRS (mixed) regime at N× — the half of the r15 regime
    // claim that was inferred, now measured: each even doc spawns a
    // (d, d+1) pair sharing text + a pair-keyed md5 salt, the partner
    // one edit away; every OTHER similarity (including the copy
    // construction's cliques) is pushed ≥ ~30 edits apart by the salts,
    // while char-shingle banding still buckets same-origin copies —
    // heavy candidate load, almost all failing verify, components of
    // size 2: no connectivity shortcut for the monolith to exploit.
    if (wanted("editdist_sharded_mixed")) {
      val mixed = docsSf1.filter(col("doc_id") % 2 === 0)
        .select(explode(array(lit(0L), lit(1L))).as("v"),
          col("doc_id"), col("text"))
        .select((col("doc_id") + col("v")).as("doc_id"),
          concat(col("text"), lit(" s"), md5(col("doc_id").cast("string")),
            when(col("v") === 1L, lit("Q")).otherwise(lit(""))).as("text"))
      editShardedAB(spark, parts, mixed, "editdist_sharded_mixed")
    }
    // Streaming EMBEDDING near-dup at N× — the vector twin of
    // neardup_stream_soak, in the production high-similarity regime the
    // copy construction plants (each original vector becomes a
    // `copies`-clique at cosine ~0.999 under the 0.9 threshold): feed
    // the N× embeddings through NearDupStream.embNearDupStream in
    // vec_id-ordered increments, record vecs/s + state growth, then
    // assert final-survivor set equality against batch
    // dedupByPairs(embeddingNearDupPairs) on the same corpus.
    // Arrival-order insensitivity AT SCALE (the NearDupStreamSpec claim,
    // pinned at fixture scale, measured here on the N× corpus): feed the
    // SAME corpus in a deterministic pseudo-random order — sorted by
    // xxhash64(doc_id), which interleaves the copies so clique members
    // arrive scattered — and assert the final survivor set still equals
    // the in-order batch pipeline's. Candidate pairs are discovered at
    // the SECOND member's arrival whichever that is, and min-rooted
    // unions make the final forest order-free (below the bucket cap);
    // retroactive demotions are exercised heavily on this order (a
    // clique's min id often arrives mid-clique).
    if (wanted("neardup_stream_shuffled")) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      val src = docsSf1.select(col("doc_id"), col("text"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      val stream = MemoryStream[Row]
      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_shuf")
      val q = graft.streaming.NearDupStream.nearDupStream(
          stream.toDF(), "doc_id", "text", threshold = 0.2)
        .writeStream.format("memory").queryName("shuf_neardup")
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .start()
      val all = src.orderBy(xxhash64(col("doc_id"))).collect()
      val t0 = System.nanoTime()
      val per = math.max(1, all.length / 20)
      all.grouped(per).foreach { chunk =>
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val streamKept = spark.table("shuf_neardup")
        .groupBy(col("doc_id"))
        .agg(max_by(col("change"), col("upd_seq")).as("change"))
        .filter(col("change") === "keep")
        .select("doc_id").cache()
      val nStream = streamKept.count()
      q.stop()
      val batchKept = graft.llm.TextDedup.dedupByPairs(docsSf1, "doc_id",
        graft.llm.TextDedup.minhashPairs(docsSf1, "text", "doc_id", threshold = 0.2))
        .select("doc_id").cache()
      val nBatch = batchKept.count()
      val symDiff = streamKept.exceptAll(batchKept).count() +
        batchKept.exceptAll(streamKept).count()
      streamKept.unpersist(); batchKept.unpersist()
      parts += (f""""neardup_stream_shuffled":{"docs":${all.length},"sec":$sec%.1f,""" +
        f""""docs_per_sec":${all.length / sec}%.0f,""" +
        f""""survivors_stream":$nStream,"survivors_batch":$nBatch,"sym_diff":$symDiff}""")
    }
    // Run at planesPerGroup=8 (the query default: ~n/256 collisions per
    // bucket — every arrival pays one verify per colliding component, so
    // the rate decays ~1/n) AND planesPerGroup=12 (the sizing lever the
    // scaladoc prescribes: ~n/4096 per bucket — same parity, collisions
    // and decay cut ~16×). Band-collision probability for a true
    // ~0.999-cosine clique pair stays ≈1 at both widths, so parity holds
    // at both; only the random-collision load changes.
    // Code widths via SPARK_GRAFT_EMB_SOAK_PPG (default "8,12"): the
    // 100×-copies run passes 16 — the scaladoc rule's width for 200k
    // vectors (~3 random collisions/bucket; clique-pair band recall at
    // cosine ~0.999 is ~0.795 per band, miss-all ~0.205^8 ≈ 3e-6, and
    // parity is exact at ANY width since stream and batch share the
    // same bucketing by construction).
    if (wanted("emb_neardup_stream_soak"))
      sys.env.getOrElse("SPARK_GRAFT_EMB_SOAK_PPG", "8,12")
        .split(",").map(_.trim.toInt).toSeq.foreach { ppg =>
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      val src = embSf1.select(col("vec_id"), col("embedding"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      val stream = MemoryStream[Row]
      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_embsoak")
      val sink = s"soak_emb_neardup_ppg$ppg"
      val q = graft.streaming.NearDupStream.embNearDupStream(
          stream.toDF(), "vec_id", "embedding", threshold = 0.9,
          planesPerGroup = ppg)
        .writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .start()
      val ids = embSf1.agg(min(col("vec_id")).cast("long"),
        max(col("vec_id")).cast("long")).head()
      val (lo, hi) = (ids.getLong(0), ids.getLong(1))
      val nInc = 10
      val span = (hi - lo + nInc) / nInc
      val incJson = (0 until nInc).map { i =>
        val chunk = src.filter(col("vec_id") >= lo + i * span &&
          col("vec_id") < lo + (i + 1) * span).orderBy("vec_id").collect()
        val t0 = System.nanoTime()
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val stateRows = Option(q.lastProgress)
          .flatMap(p => p.stateOperators.headOption)
          .map(_.numRowsTotal).getOrElse(-1L)
        f"""{"inc":$i,"vecs":${chunk.length},"sec":$sec%.2f,""" +
          f""""vecs_per_sec":${chunk.length / sec}%.0f,"state_rows":$stateRows}"""
      }
      val streamKept = spark.table(sink)
        .groupBy(col("vec_id"))
        .agg(max_by(col("change"), col("upd_seq")).as("change"))
        .filter(col("change") === "keep")
        .select("vec_id").cache()
      val nStream = streamKept.count()
      q.stop()
      val pws = graft.llm.Similarity.embeddingNearDupPairsWithStats(
        embSf1, "vec_id", "embedding", threshold = 0.9, planesPerGroup = ppg)
      val batchKept = graft.llm.TextDedup.dedupByPairs(embSf1, "vec_id", pws.pairs)
        .select("vec_id").cache()
      val nBatch = batchKept.count()
      val nDropped = pws.droppedBuckets.count()
      val symDiff = streamKept.exceptAll(batchKept).count() +
        batchKept.exceptAll(streamKept).count()
      streamKept.unpersist(); batchKept.unpersist(); pws.unpersist()
      parts += (s""""emb_neardup_stream_soak_ppg$ppg":{"survivors_stream":$nStream,""" +
        s""""survivors_batch":$nBatch,"sym_diff":$symDiff,""" +
        s""""batch_dropped_buckets":$nDropped,""" +
        s""""increments":[${incJson.mkString(",")}]}""")
    }
    // Continuous ANN retrieval throughput at N× (exactness is carried by
    // the emb_ann_stream_replay oracle row at three scales; this row
    // measures the rate and its nPlanes lever): per arrival the operator
    // scores ~(nPlanes+1)·n/2^nPlanes candidates, so nPlanes=8 on a 20k
    // corpus reads ~700 stored vectors per arrival while nPlanes=12
    // reads ~65 — the same corpus-splitting rule as the batch scaladoc.
    // Widths via SPARK_GRAFT_ANN_SOAK_PLANES (default "8,12").
    if (wanted("emb_ann_stream_soak"))
      sys.env.getOrElse("SPARK_GRAFT_ANN_SOAK_PLANES", "8,12")
        .split(",").map(_.trim.toInt).toSeq.foreach { nPlanes =>
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      val src = embSf1.select(col("vec_id"), col("embedding"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      val stream = MemoryStream[Row]
      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_annsoak")
      val sink = s"soak_ann_p$nPlanes"
      val q = graft.streaming.AnnStream.annStream(
          stream.toDF(), "vec_id", "embedding", nPlanes = nPlanes)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .start()
      val ids = embSf1.agg(min(col("vec_id")).cast("long"),
        max(col("vec_id")).cast("long")).head()
      val (lo, hi) = (ids.getLong(0), ids.getLong(1))
      val nInc = 10
      val span = (hi - lo + nInc) / nInc
      val incJson = (0 until nInc).map { i =>
        val chunk = src.filter(col("vec_id") >= lo + i * span &&
          col("vec_id") < lo + (i + 1) * span).orderBy("vec_id").collect()
        val t0 = System.nanoTime()
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        f"""{"inc":$i,"vecs":${chunk.length},"sec":$sec%.2f,""" +
          f""""vecs_per_sec":${chunk.length / sec}%.0f}"""
      }
      val nRows = spark.table(sink).count()
      q.stop()
      parts += (s""""emb_ann_stream_soak_p$nPlanes":{"result_rows":$nRows,""" +
        s""""increments":[${incJson.mkString(",")}]}""")
    }
    // PQ-compressed twin of the ANN stream soak (same increments, same
    // probe structure): the A/B is state SIZE at equal feed — the pq
    // index stores 8-int codes where annStream stores raw float vectors
    // — plus the per-increment rate. State bytes come from the query's
    // lastProgress state-operator metrics (RocksDB).
    if (wanted("emb_ann_pq_stream_soak")) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      val src = embSf1.select(col("vec_id"), col("embedding"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
      val (cb, _) = graft.llm.Similarity.anchorCodebook(embSf1, "vec_id", "embedding",
        dim = 64, nSub = 8, codesPerSub = 16)
      // third arm: the CELL-BUCKETED IVF-PQ stream (nCells=64, nProbe=4 —
      // each arrival probes 4/64 of the inverted file instead of the
      // hyperplane probes' ~9/256; same byte-packed code state as pq)
      val cent = graft.llm.Similarity.anchorCentroids(embSf1, "vec_id", "embedding",
        dim = 64, nCells = 64)
      // fourth arm: RESIDUAL state codes (same geometry as ivfpq) — the
      // A/B isolates the residual scoring overhead: one q·c dot per
      // probed cell per arrival, state bytes unchanged
      val model = graft.llm.Similarity.residualPqModel(embSf1, "vec_id",
        "embedding", dim = 64, nCells = 64, nSub = 8, codesPerSub = 16)
      val variants = Seq(
        "pq" -> ((df: org.apache.spark.sql.DataFrame) =>
          graft.streaming.AnnStream.pqAnnStream(df, "vec_id", "embedding",
            codebook = cb, codesPerSub = 16)),
        "ivfpq" -> ((df: org.apache.spark.sql.DataFrame) =>
          graft.streaming.AnnStream.ivfPqAnnStream(df, "vec_id", "embedding",
            centroids = cent, codebook = cb, codesPerSub = 16, nProbe = 4)),
        "ivfpq_res" -> ((df: org.apache.spark.sql.DataFrame) =>
          graft.streaming.AnnStream.ivfPqAnnStream(df, "vec_id", "embedding",
            centroids = model.cells.map { case (cell, c, _, _) => (cell, c) },
            codebook = model.codebook, codesPerSub = 16, nProbe = 4,
            residual = true)),
        "exact" -> ((df: org.apache.spark.sql.DataFrame) =>
          graft.streaming.AnnStream.annStream(df, "vec_id", "embedding")))
      // arm filter for the big-corpus runs: `exact` (and to a lesser
      // degree `pq`) score the FULL resident state per arrival, so at
      // 100× (200k vectors) those arms are quadratic by design — the
      // 200k soak targets the inverted-file arms whose per-arrival work
      // is nProbe/nCells of the corpus
      val armFilter = sys.env.get("SPARK_GRAFT_SOAK_ARMS")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      armFilter.foreach { names =>
        val unknown = names -- variants.map(_._1).toSet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_SOAK_ARMS names unknown arms: ${unknown.mkString(", ")}")
      }
      variants.filter(v => armFilter.forall(_.contains(v._1)))
        .foreach { case (tag, build) =>
        val stream = MemoryStream[Row]
        val ckpt = java.nio.file.Files.createTempDirectory(s"ckpt_annpq_$tag")
        val sink = s"soak_annpq_$tag"
        val q = build(stream.toDF())
          .writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .start()
        val ids = embSf1.agg(min(col("vec_id")).cast("long"),
          max(col("vec_id")).cast("long")).head()
        val (lo, hi) = (ids.getLong(0), ids.getLong(1))
        val nInc = 10
        // the single-task monolith's per-arrival cost grows linearly with
        // resident state (each arrival scans nProbe/nCells of it), so the
        // full-corpus run is quadratic BY DESIGN. For big corpora the
        // honest economical measurement is the RATE-VS-STATE TRAJECTORY
        // over a prefix (per-increment rates below), A/B-compared to the
        // sharded arm at equal state sizes; SPARK_GRAFT_SOAK_MONO_INCS
        // bounds the fed increments (default: all).
        val monoIncs = sys.env.get("SPARK_GRAFT_SOAK_MONO_INCS")
          .map(_.toInt).getOrElse(nInc).min(nInc)
        val span = (hi - lo + nInc) / nInc
        var nVecs = 0L
        val incSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
        val t0 = System.nanoTime()
        (0 until monoIncs).foreach { i =>
          val chunk = src.filter(col("vec_id") >= lo + i * span &&
            col("vec_id") < lo + (i + 1) * span).orderBy("vec_id").collect()
          nVecs += chunk.length
          val ti = System.nanoTime()
          stream.addData(chunk.toSeq)
          q.processAllAvailable()
          val incSec = (System.nanoTime() - ti) / 1e9
          incSecs += incSec
          println(f"[soak] annpq_$tag inc$i: ${chunk.length} vecs in " +
            f"$incSec%.1f s (${chunk.length / incSec}%.0f vecs/s, " +
            f"state ≈ ${nVecs - chunk.length} before)")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val prog = Option(q.lastProgress).flatMap(_.stateOperators.headOption)
        val stateRows = prog.map(_.numRowsTotal).getOrElse(-1L)
        val stateBytes = prog.map(_.memoryUsedBytes).getOrElse(-1L)
        val nRows = spark.table(sink).count()
        q.stop()
        val incJson = incSecs.map(s => f"$s%.1f").mkString("[", ",", "]")
        val part = (f""""emb_ann_pq_stream_soak_$tag":{"vecs":$nVecs,""" +
          f""""sec":$sec%.2f,"vecs_per_sec":${nVecs / sec}%.0f,""" +
          f""""fed_incs":$monoIncs,"inc_secs":$incJson,""" +
          f""""result_rows":$nRows,"state_rows":$stateRows,""" +
          f""""state_bytes":$stateBytes}""")
        parts += part
        println(s"[soak] PART $part") // survive a killed run
      }
    }
    // CELL-SHARDED streaming ANN A/B (VERDICT r12 top ask's scale
    // measurement): the shardedIvfPqCellHits → annMergeStage bridge on
    // the same corpus and geometry (nCells=64, nProbe=4, anchor
    // codebook) as the `ivfpq` monolith arm above. Stage A (cell-keyed
    // probe scoring, the former single-task bottleneck now spread over
    // 64 cell shards) and stage B (query-keyed merge) are timed
    // separately and combined as a pipelined rate like neardup_sharded;
    // parity = sym-diff vs the monolith arm's sink when both arms ran
    // in this invocation.
    // STREAMING BM25 INDEX INGESTION at N× (round 14): the 10×-copies
    // document corpus fed as a tagged id-ordered stream (every 1000th
    // arrival a query probing the ingested-so-far index), maxDf=1000
    // bounding both per-term postings state and per-(query, term) probe
    // fan-out. Per-increment [soak] rates expose the ingestion-rate
    // trajectory as the token-sharded state grows.
    if (wanted("bm25_ingest_scale")) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val tagged = docsSf1.select(col("doc_id"), col("text"),
        (col("doc_id") % 1000 === 0).as("is_query"))
      val ids = tagged.agg(min(col("doc_id")).cast("long"),
        max(col("doc_id")).cast("long")).head()
      val (lo, hi) = (ids.getLong(0), ids.getLong(1))
      val nInc = 10
      val span = (hi - lo + nInc) / nInc
      implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(tagged.schema)
      val ms = MemoryStream[Row]
      val q = graft.streaming.Bm25IngestStream
        .bm25IngestStream(ms.toDF(), "doc_id", "text", "is_query", maxDf = 1000)
        .writeStream.format("memory").queryName("soak_bm25_ingest")
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_bm25ingest").toString)
        .start()
      var nArr = 0L
      val t0 = System.nanoTime()
      (0 until nInc).foreach { i =>
        val chunk = tagged.filter(col("doc_id") >= lo + i * span &&
          col("doc_id") < lo + (i + 1) * span).orderBy("doc_id").collect()
        nArr += chunk.length
        val ti = System.nanoTime()
        ms.addData(chunk.toSeq)
        q.processAllAvailable()
        val incSec = (System.nanoTime() - ti) / 1e9
        println(f"[soak] bm25_ingest inc$i: ${chunk.length} arrivals in " +
          f"$incSec%.1f s (${chunk.length / incSec}%.0f/s)")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val (stRows, stBytes) = Option(q.lastProgress)
        .map(p => (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)).getOrElse((-1L, -1L))
      val emitted = spark.table("soak_bm25_ingest").count()
      q.stop()
      val part = (f""""bm25_ingest_scale":{"arrivals":$nArr,"sec":$sec%.2f,""" +
        f""""arrivals_per_sec":${nArr / sec}%.0f,"probe_rows":$emitted,""" +
        f""""state_rows":$stRows,"state_bytes":$stBytes}""")
      parts += part
      println(s"[soak] PART $part")
    }
    // BUCKET-SHARDED exact-ANN A/B (round 14 — the bucket-sharded twin of
    // the annStream monolith): same 10-increment id-ordered feed through
    // (a) the single-task monolith and (b) the LSH-bucket-keyed two-stage
    // bridge, with output parity (sym-diff) asserted between them. The
    // monolith's per-arrival candidate scan runs in ONE task; the bridge
    // spreads it over 2^nPlanes bucket shards.
    if (wanted("emb_ann_lsh_sharded_soak")) {
      import org.apache.spark.sql.{DataFrame, Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val src = embSf1.select(col("vec_id"), col("embedding"))
      val ids = embSf1.agg(min(col("vec_id")).cast("long"),
        max(col("vec_id")).cast("long")).head()
      val (lo, hi) = (ids.getLong(0), ids.getLong(1))
      val nInc = 10
      val span = (hi - lo + nInc) / nInc
      def chunks: Seq[Array[Row]] = (0 until nInc).map { i =>
        src.filter(col("vec_id") >= lo + i * span &&
          col("vec_id") < lo + (i + 1) * span).orderBy("vec_id").collect()
      }
      val allChunks = chunks
      val nVecs = allChunks.map(_.length.toLong).sum
      // arm filter for big-corpus runs: the monolith is 1/state-collapsing
      // by design (the 10× A/B prices it); at 100× only the sharded arm
      // is meaningful — SPARK_GRAFT_LSH_SOAK_ARMS=sharded skips the
      // monolith (and the parity check reports -1, like the prefix-
      // bounded cell-sharded soak)
      val lshArms = sys.env.get("SPARK_GRAFT_LSH_SOAK_ARMS")
        .map(_.split(",").map(_.trim).toSet)
      def lshWanted(a: String): Boolean = lshArms.forall(_.contains(a))
      // arm 1: the monolith
      var secMono = 0.0
      if (lshWanted("mono")) locally {
        implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
        val ms = MemoryStream[Row]
        val q = graft.streaming.AnnStream.annStream(ms.toDF(), "vec_id", "embedding")
          .writeStream.format("memory").queryName("soak_ann_lsh_mono")
          .outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("ckpt_lshmono").toString)
          .start()
        val t0 = System.nanoTime()
        allChunks.zipWithIndex.foreach { case (c, i) =>
          val ti = System.nanoTime()
          ms.addData(c.toSeq); q.processAllAvailable()
          println(f"[soak] ann_lsh_mono inc$i: ${c.length} vecs in " +
            f"${(System.nanoTime() - ti) / 1e9}%.1f s")
        }
        secMono = (System.nanoTime() - t0) / 1e9
        q.stop()
      }
      // arm 2: the bucket-sharded bridge (stage A + stage B)
      val hitBatches = scala.collection.mutable.ArrayBuffer.empty[Array[Row]]
      var hitsSchema: org.apache.spark.sql.types.StructType = null
      var secA = 0.0
      locally {
        implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
        val ms = MemoryStream[Row]
        val hitsDf = graft.streaming.AnnStream.shardedLshBucketHits(
          ms.toDF(), "vec_id", "embedding")
        hitsSchema = hitsDf.schema
        val q = hitsDf.writeStream.outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("ckpt_lshshard_a").toString)
          .foreachBatch((b: DataFrame, _: Long) => { hitBatches += b.collect(); () })
          .start()
        val t0 = System.nanoTime()
        allChunks.zipWithIndex.foreach { case (c, i) =>
          val ti = System.nanoTime()
          ms.addData(c.toSeq); q.processAllAvailable()
          println(f"[soak] ann_lsh_sharded stageA inc$i: ${c.length} vecs in " +
            f"${(System.nanoTime() - ti) / 1e9}%.1f s")
        }
        secA = (System.nanoTime() - t0) / 1e9
        q.stop()
      }
      var secB = 0.0
      locally {
        implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(hitsSchema)
        val ms = MemoryStream[Row]
        val q = graft.streaming.AnnStream.annMergeStage(ms.toDF(), nProbe = 9)
          .writeStream.format("memory").queryName("soak_ann_lsh_sharded")
          .outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("ckpt_lshshard_b").toString)
          .start()
        val t0 = System.nanoTime()
        hitBatches.foreach { b =>
          if (b.nonEmpty) { ms.addData(b.toSeq); q.processAllAvailable() }
        }
        secB = (System.nanoTime() - t0) / 1e9
        q.stop()
      }
      val symDiff =
        if (!lshWanted("mono")) -1L
        else {
          val mono = spark.table("soak_ann_lsh_mono")
            .select("query_id", "corpus_id", "rank")
          val sharded = spark.table("soak_ann_lsh_sharded")
            .select("query_id", "corpus_id", "rank")
          sharded.exceptAll(mono).count() + mono.exceptAll(sharded).count()
        }
      val monoRate = if (lshWanted("mono")) f"${nVecs / secMono}%.0f" else "-1"
      val part = (f""""emb_ann_lsh_sharded_soak":{"vecs":$nVecs,""" +
        f""""mono_sec":$secMono%.2f,"mono_vecs_per_sec":$monoRate,""" +
        f""""stage_a_sec":$secA%.2f,"stage_b_sec":$secB%.2f,""" +
        f""""pipelined_vecs_per_sec":${nVecs / math.max(secA, secB)}%.0f,""" +
        f""""sym_diff_vs_monolith":$symDiff}""")
      parts += part
      println(s"[soak] PART $part")
    }
    if (wanted("emb_ann_sharded_stream_soak")) {
      import org.apache.spark.sql.{DataFrame, Encoders, Row}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.streaming.UniqueStreams.useRocksDBStateStore(spark)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val src = embSf1.select(col("vec_id"), col("embedding"))
      val (cb, _) = graft.llm.Similarity.anchorCodebook(embSf1, "vec_id", "embedding",
        dim = 64, nSub = 8, codesPerSub = 16)
      val cent = graft.llm.Similarity.anchorCentroids(embSf1, "vec_id", "embedding",
        dim = 64, nCells = 64)
      val ids = embSf1.agg(min(col("vec_id")).cast("long"),
        max(col("vec_id")).cast("long")).head()
      val (lo, hi) = (ids.getLong(0), ids.getLong(1))
      val nInc = 10
      val span = (hi - lo + nInc) / nInc
      // stage A: MemoryStream feed in vec_id order, hit log collected
      // per micro-batch (the replayable bridge — files/kafka in
      // production, arrays here)
      val hitBatches = scala.collection.mutable.ArrayBuffer.empty[Array[Row]]
      var hitsSchema: org.apache.spark.sql.types.StructType = null
      var nVecs = 0L
      var secA = 0.0
      locally {
        implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(src.schema)
        val streamA = MemoryStream[Row]
        val hitsDf = graft.streaming.AnnStream.shardedIvfPqCellHits(
          streamA.toDF(), "vec_id", "embedding", centroids = cent,
          codebook = cb, codesPerSub = 16, nProbe = 4)
        hitsSchema = hitsDf.schema
        val qA = hitsDf.writeStream
          .outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("ckpt_ann_sharded_a").toString)
          .foreachBatch((b: DataFrame, _: Long) => { hitBatches += b.collect(); () })
          .start()
        val t0 = System.nanoTime()
        (0 until nInc).foreach { i =>
          val chunk = src.filter(col("vec_id") >= lo + i * span &&
            col("vec_id") < lo + (i + 1) * span).orderBy("vec_id").collect()
          nVecs += chunk.length
          val ti = System.nanoTime()
          streamA.addData(chunk.toSeq)
          qA.processAllAvailable()
          val incSec = (System.nanoTime() - ti) / 1e9
          println(f"[soak] ann_sharded stageA inc$i: ${chunk.length} vecs " +
            f"in $incSec%.1f s (${chunk.length / incSec}%.0f vecs/s, " +
            f"state ≈ ${nVecs - chunk.length} before)")
        }
        secA = (System.nanoTime() - t0) / 1e9
        qA.stop()
      }
      // stage B: each stage-A micro-batch replays as one increment (the
      // bridge preserves batch alignment; the merge state absorbs any
      // split — AnnStreamSpec pins the straddling case)
      var secB = 0.0
      locally {
        implicit val enc: org.apache.spark.sql.Encoder[Row] = Encoders.row(hitsSchema)
        val streamB = MemoryStream[Row]
        val qB = graft.streaming.AnnStream.annMergeStage(streamB.toDF(), nProbe = 4)
          .writeStream.format("memory").queryName("soak_ann_sharded")
          .outputMode("append")
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("ckpt_ann_sharded_b").toString)
          .start()
        val t0 = System.nanoTime()
        hitBatches.foreach { b =>
          if (b.nonEmpty) {
            streamB.addData(b.toSeq)
            qB.processAllAvailable()
          }
        }
        secB = (System.nanoTime() - t0) / 1e9
        val nRows = spark.table("soak_ann_sharded").count()
        val hitRows = hitBatches.map(_.length.toLong).sum
        // parity vs the monolith arm (same geometry) when it ran above;
        // if the monolith was prefix-bounded (SPARK_GRAFT_SOAK_MONO_INCS)
        // compare only the arrivals both arms processed. An EMPTY monolith
        // sink (SPARK_GRAFT_SOAK_MONO_INCS=0 fed zero increments) has a
        // NULL max(query_id) — skip the parity check rather than NPE.
        val symDiff =
          if (!spark.catalog.tableExists("soak_annpq_ivfpq")) -1L
          else if (spark.table("soak_annpq_ivfpq").isEmpty) -1L
          else {
            val maxMonoQ = spark.table("soak_annpq_ivfpq")
              .agg(max(col("query_id"))).head().getLong(0)
            val sharded = spark.table("soak_ann_sharded")
              .filter(col("query_id") <= maxMonoQ)
              .select("query_id", "corpus_id", "rank")
            val mono = spark.table("soak_annpq_ivfpq")
              .select("query_id", "corpus_id", "rank")
            sharded.exceptAll(mono).count() + mono.exceptAll(sharded).count()
          }
        qB.stop()
        val pipelined = nVecs / math.max(secA, secB)
        val part = (f""""emb_ann_sharded_stream_soak":{"vecs":$nVecs,""" +
          f""""stage_a_sec":$secA%.2f,"stage_a_vecs_per_sec":${nVecs / secA}%.0f,""" +
          f""""stage_b_sec":$secB%.2f,"stage_b_hit_rows":$hitRows,""" +
          f""""pipelined_vecs_per_sec":$pipelined%.0f,""" +
          f""""result_rows":$nRows,"sym_diff_vs_monolith":$symDiff}""")
        parts += part
        println(s"[soak] PART $part")
      }
    }
    // Adversarial lengthBatch regime (VERDICT r7 ask #6): with key
    // cardinality ≈ event count the boundary-interval summary does NOT
    // compress — every interval holds ~n distinct keys — so the serial
    // phase B walks ~events/n intervals × n keys, the documented worst
    // case that had never been measured. Same operator, same n=40, keys
    // rewritten to be (nearly) all-distinct; compare wall time to the
    // 150-key regime (the `lengthbatch_current` row above).
    if (wanted("lengthbatch_distinct_keys")) parts += timed("lengthbatch_distinct_keys") {
      val distinctKeyed = evSf1.withColumn("user_id",
        concat(lit("u"), col("event_id")))
      graft.operators.UniqueOps.lengthBatch(distinctKeyed, Seq("user_id"),
        "event_id", 40).current.count()
    }
    // Skew probe for the pair-verify joins (VERDICT r6 ask #7): the
    // verify joins key on id_a/id_b, so a doc with many candidate pairs
    // concentrates rows on one task. The bucket cap BOUNDS that load by
    // construction — a doc co-buckets with at most bands×(maxBucket-1)
    // partners — and this probe measures the worst constructible case: a
    // planted boilerplate family sized just under the default cap (999
    // near-identical docs → every member shares all 8 band buckets, the
    // family min-id carries ~998 verify rows under the id_a<id_b
    // orientation). Reported: the hot doc's pair count and the verify
    // job's max/median task time — balanced task times mean no salting
    // is needed while the cap stands; a deployment raising maxBucket
    // by 100× re-runs this probe before trusting the join layout.
    if (wanted("pair_verify_skew")) {
      val famSize = 999
      val baseWords = (0 until 70).map(i => s"boiler$i").mkString(" ")
      val maxDoc = docsSf1.agg(max(col("doc_id")).cast("long")).head().getLong(0) + 1
      val fam = spark.range(famSize).select(
        (col("id") + maxDoc).as("doc_id"),
        concat(lit(baseWords), lit(" variant"), col("id")).as("text"),
        lit("en").as("lang"), lit("planted").as("source"),
        (length(lit(baseWords)) + 9).cast("long").as("n_chars"))
      val corpus = docsSf1.unionByName(fam)
      val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
      val listener = new SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          taskMs.computeIfAbsent(te.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
            .add(te.taskInfo.duration)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val pws = graft.llm.TextDedup.minhashPairsWithStats(corpus, "text", "doc_id",
        threshold = 0.2)
      val t0 = System.nanoTime()
      val hot = pws.pairs.select(col("id_a").as("id"))
        .unionByName(pws.pairs.select(col("id_b").as("id")))
        .groupBy("id").count().agg(max("count")).head().getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      val nDropped = pws.droppedBuckets.count()
      pws.unpersist()
      Thread.sleep(500) // listener settle
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      // the verify job's heaviest stage: the one with the largest total
      // task time (the shuffling verify join), reported max vs median
      // per-stage balance for the top stages by total task time — the
      // hashing stage dominates; the verify-join shuffle stages are the
      // ones a hot key would skew, so report each stage's max vs median
      val stages = taskMs.asScala.map { case (sid, q) =>
        val ds = q.asScala.toSeq.sorted
        (sid, ds.sum, ds.max, ds(ds.size / 2), ds.size)
      }.toSeq.sortBy(-_._2).take(5)
      val stageJson = stages.map { case (sid, tot, mx, med, n) =>
        s"""{"stage":$sid,"tasks":$n,"total_ms":$tot,"max_task_ms":$mx,"median_task_ms":$med}"""
      }.mkString("[", ",", "]")
      parts += (f""""pair_verify_skew":{"sec":$sec%.2f,"hot_doc_pairs":$hot,""" +
        f""""dropped_buckets":$nDropped,"stages":$stageJson}""")
    }
    val counts = s""""events":${evSf1.count()},"documents":${docsSf1.count()}""" +
      s""","embeddings":${embSf1.count()},"emb_dropped_buckets":$embDropped"""
    // conditional separator: an empty parts list must not leave a trailing comma
    println(s"""{"metric":"scale${copies}x","copies":$copies,${(counts +: parts).mkString(",")}}""")
    spark.stop()
  }
}
