package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Streaming CONTINUOUS ANN retrieval — the incremental form of
  * `Similarity.annTopK`: per arriving vector, the top-k cosine neighbors
  * among the vectors arrived SO FAR, from the same multi-probe
  * hyperplane-LSH index the batch operator builds (nPlanes sign bits,
  * own bucket + all hamming-1 probes). The retrieval analog of what
  * `NearDupStream` is to `dedupByPairs`: the batch operator answers one
  * query set against a fixed corpus; this operator keeps the index warm
  * and answers every arrival against the growing corpus — the
  * "index continuously, retrieve at ingest" shape of a training-data
  * pipeline (near-dup lookup, retrieval-augmented filtering) without
  * re-running a batch job per increment.
  *
  * Architecture mirrors NearDupStream's split: the per-vector heavy work
  * (the dim×nPlanes sign-bit bucket, `Similarity.lshBucket` — fused
  * VecBandCodes) runs DISTRIBUTED upstream; the stateful stage holds
  *   bucketIdx : bucket code → vec-id list
  *   vecs      : vec-id → float vector (stored once; buckets carry ids)
  * and per arrival reads its ≤ nPlanes+1 probe buckets, scores the
  * candidates with the exact VecCosine double math (term-for-term: one
  * left-fold loop of double products; zero norm → 0.0), and emits
  * (query_id, corpus_id, rank) for the top k by (sim DESC, corpus_id) —
  * the batch operator's exact rank policy, so the replayed output
  * hash-matches a DuckDB oracle that restricts the batch ANN mirror to
  * corpus_id < query_id (`emb_ann_stream_replay`). The arriving vector
  * indexes itself AFTER scoring: a vec-id-ordered feed makes
  * "arrived so far" exactly corpus_id < query_id, batch-deterministic
  * regardless of micro-batch boundaries (in-batch arrivals are processed
  * in id order against the already-updated in-batch index).
  *
  * Scale: candidates per arrival ≈ (nPlanes+1) × n / 2^nPlanes — the
  * same per-query cost as the batch operator, governed by nPlanes (the
  * corpus splits into 2^nPlanes buckets; size nPlanes ≈ log2(n /
  * targetBucketSize) exactly like the batch scaladoc). The stateful
  * stage is single-keyed like NearDupStream — here not because of any
  * global merge (retrieval is per-arrival independent) but to keep one
  * authoritative index; sharding BY BUCKET CODE is semantically clean
  * for this operator (no cross-bucket state) and is the scale-out path
  * when one task's lookup rate is the ceiling.
  *
  * Null/empty vectors emit nothing and are not indexed (they have no
  * cosine to any query — the batch oracle's null rows fold out the same
  * way); wrong-width vectors raise loudly upstream (`requireDim`).
  */
object AnnStream {

  def annStream(sdf: DataFrame, idCol: String, vecCol: String,
                k: Int = 10, nPlanes: Int = 8, dim: Int = 64,
                seed: Long = 42L): DataFrame = {
    val v0 = coalesce(col(vecCol).cast("array<float>"),
      array().cast("array<float>"))
    val bucket = when(size(v0) === 0, lit(null).cast("long"))
      .otherwise(graft.llm.Similarity.lshBucket(v0, nPlanes, dim, seed))
    val prepared = sdf.select(col(idCol).cast("long").as("id"),
      v0.as("v"), bucket.as("bucket"))
      .where(col("id").isNotNull)
    val rowEnc = Encoders.row(prepared.schema)
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("query_id", "long").add("corpus_id", "long").add("rank", "integer")
    val outEnc = Encoders.row(outSchema)

    val processor = new StatefulProcessor[Int, Row, Row] {
      @transient private var bucketIdx: org.apache.spark.sql.streaming.MapState[Long, Array[Long]] = _
      @transient private var vecs: org.apache.spark.sql.streaming.MapState[Long, Array[Float]] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit = {
        bucketIdx = getHandle.getMapState[Long, Array[Long]]("bucketIdx",
          Encoders.scalaLong, Encoders.kryo[Array[Long]], TTLConfig.NONE)
        vecs = getHandle.getMapState[Long, Array[Float]]("vecs",
          Encoders.scalaLong, Encoders.kryo[Array[Float]], TTLConfig.NONE)
      }

      // VecCosine term-for-term (double products, one left-fold loop,
      // zero norm → 0.0) so ranks match the batch operator and oracle
      private def cosine(a: Array[Float], b: Array[Float]): Double = {
        val m = a.length
        if (m != b.length) return 0.0
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < m) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      }

      override def handleInputRows(key: Int, rows: Iterator[Row],
                                   timerValues: TimerValues): Iterator[Row] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        rows.toSeq.sortBy(_.getLong(0)).foreach { r =>
          val id = r.getLong(0)
          val myV = r.getSeq[Float](1).toArray
          if (myV.nonEmpty) {
            val own = r.getLong(2)
            // own bucket + every hamming-1 probe (distinct codes, so a
            // stored vector appears under exactly one probe — no dups)
            val scored = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
            var p = -1
            while (p < nPlanes) {
              val code = if (p < 0) own else own ^ (1L << p)
              val cur = bucketIdx.getValue(code)
              if (cur != null) {
                var i = 0
                while (i < cur.length) {
                  scored += ((cosine(myV, vecs.getValue(cur(i))), cur(i)))
                  i += 1
                }
              }
              p += 1
            }
            scored.sortBy { case (sim, cid) => (-sim, cid) }
              .take(k).zipWithIndex.foreach { case ((_, cid), rk) =>
                out += Row(id, cid, rk + 1)
              }
            val ownCur = bucketIdx.getValue(own)
            bucketIdx.updateValue(own,
              if (ownCur == null) Array(id) else ownCur :+ id)
            vecs.updateValue(id, myV)
          }
        }
        out.iterator
      }
    }

    implicit val outRowEnc: org.apache.spark.sql.Encoder[Row] = outEnc
    prepared.as(rowEnc)
      .groupByKey((_: Row) => 0)(Encoders.scalaInt)
      .transformWithState[Row](processor, TimeMode.None(), OutputMode.Append())
  }

  /** PQ-compressed continuous ANN — `annStream` with the vector store
    * replaced by PQ CODES: the stateful index holds `nSub` small ints
    * per vector instead of the raw floats (64-dim float 256 B → 8 B,
    * ~32× smaller RocksDB state — the streaming face of `pqTopK`'s
    * memory story). ALL the heavy math runs in the distributed stage as
    * native codegen projections: `lshBucket` (probe routing),
    * `PqEncode` (the stored representation), `PqLut` + query norm (the
    * arrival's scoring table); the single stateful task then scores
    * each probe-bucket candidate with `nSub` array reads
    * (`PqScore`-identical left folds) and never touches a raw vector —
    * so the per-candidate stateful cost DROPS vs `annStream`'s full
    * cosine while state shrinks 32×.
    *
    * The codebook is a parameter (train offline, deploy as literals —
    * the production PQ shape; `Similarity.anchorCodebook` supplies the
    * deterministic oracle-mirrorable one). Ranks are approximate ADC
    * ranks; the DuckDB mirror (`emb_ann_pq_stream_replay`) computes
    * the identical scores over earlier-arrival candidates, so the full
    * retrieval log hash-matches. Same feed contract as `annStream`:
    * id-ordered replay makes "arrived so far" ≡ corpus_id < query_id;
    * empty vectors skip; wrong widths raise in `lshBucket`.
    */
  def pqAnnStream(sdf: DataFrame, idCol: String, vecCol: String,
                  codebook: Seq[Seq[Double]], codesPerSub: Int,
                  k: Int = 10, nPlanes: Int = 8, dim: Int = 64,
                  seed: Long = 42L): DataFrame = {
    require(codebook.nonEmpty && codebook.length % codesPerSub == 0,
      s"codebook of ${codebook.length} does not divide into codes of $codesPerSub")
    require(codesPerSub <= 256,
      s"codesPerSub $codesPerSub exceeds the byte-packed state limit of 256")
    val nSub = codebook.length / codesPerSub
    val norm2 = codebook.map(_.foldLeft(0.0)((a, x) => a + x * x)).toArray
    val cps = codesPerSub
    def expr(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftColumnBridge.expression(c)
    def colOf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.GraftColumnBridge.column(e)
    val v0 = coalesce(col(vecCol).cast("array<float>"),
      array().cast("array<float>"))
    val vd = col(vecCol).cast("array<double>")
    val bucket = when(size(v0) === 0, lit(null).cast("long"))
      .otherwise(graft.llm.Similarity.lshBucket(v0, nPlanes, dim, seed))
    val codesC = when(size(v0) === 0, lit(null).cast("array<int>"))
      .otherwise(colOf(graft.functions.PqEncode(expr(vd), codebook, nSub, cps)))
    val lutC = when(size(v0) === 0, lit(null).cast("array<double>"))
      .otherwise(colOf(graft.functions.PqLut(expr(vd), codebook, nSub, cps)))
    val qnC = sqrt(aggregate(coalesce(vd, array().cast("array<double>")),
      lit(0.0d), (acc, x) => acc + x * x))
    val prepared = sdf.select(col(idCol).cast("long").as("id"),
        bucket.as("bucket"), codesC.as("codes"), lutC.as("lut"), qnC.as("qn"))
      .where(col("id").isNotNull)
    val rowEnc = Encoders.row(prepared.schema)
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("query_id", "long").add("corpus_id", "long").add("rank", "integer")
    val outEnc = Encoders.row(outSchema)

    val processor = new StatefulProcessor[Int, Row, Row] {
      @transient private var bucketIdx: org.apache.spark.sql.streaming.MapState[Long, Array[Long]] = _
      // codes byte-packed for state (codesPerSub <= 256): the true
      // nSub-bytes-per-vector index payload
      @transient private var codesSt: org.apache.spark.sql.streaming.MapState[Long, Array[Byte]] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit = {
        bucketIdx = getHandle.getMapState[Long, Array[Long]]("bucketIdx",
          Encoders.scalaLong, Encoders.kryo[Array[Long]], TTLConfig.NONE)
        codesSt = getHandle.getMapState[Long, Array[Byte]]("codes",
          Encoders.scalaLong, Encoders.kryo[Array[Byte]], TTLConfig.NONE)
      }

      // PqScore-identical left folds (dot, reconstructed norm²), then the
      // pqTopK division order: (dot/sqrt(cn2)) / qn — the mirror divides
      // in the same order, so scores are bit-identical
      private def adcSim(codes: Array[Byte], lut: Array[Double], qn: Double): Double = {
        var dot = 0.0; var cn2 = 0.0
        var m = 0
        while (m < codes.length) {
          val idx = m * cps + (codes(m) & 0xff)
          dot += lut(idx); cn2 += norm2(idx)
          m += 1
        }
        if (qn == 0.0) 0.0
        else (if (cn2 == 0.0) 0.0 else dot / math.sqrt(cn2)) / qn
      }

      override def handleInputRows(key: Int, rows: Iterator[Row],
                                   timerValues: TimerValues): Iterator[Row] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        rows.toSeq.sortBy(_.getLong(0)).foreach { r =>
          val id = r.getLong(0)
          // guard codes/lut too: a correct-length vector with a null ELEMENT
          // yields a non-null bucket (null dots collapse to 0 in lshBucket)
          // while PqEncode/PqLut return null — skip such rows instead of
          // NPE-ing the query
          if (!r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3)) {
            val own = r.getLong(1)
            val myCodes = r.getSeq[Int](2).map(_.toByte).toArray
            val lut = r.getSeq[Double](3).toArray
            val qn = r.getDouble(4)
            val scored = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
            var p = -1
            while (p < nPlanes) {
              val code = if (p < 0) own else own ^ (1L << p)
              val cur = bucketIdx.getValue(code)
              if (cur != null) {
                var i = 0
                while (i < cur.length) {
                  scored += ((adcSim(codesSt.getValue(cur(i)), lut, qn), cur(i)))
                  i += 1
                }
              }
              p += 1
            }
            scored.sortBy { case (sim, cid) => (-sim, cid) }
              .take(k).zipWithIndex.foreach { case ((_, cid), rk) =>
                out += Row(id, cid, rk + 1)
              }
            val ownCur = bucketIdx.getValue(own)
            bucketIdx.updateValue(own,
              if (ownCur == null) Array(id) else ownCur :+ id)
            codesSt.updateValue(id, myCodes)
          }
        }
        out.iterator
      }
    }

    implicit val outRowEnc: org.apache.spark.sql.Encoder[Row] = outEnc
    prepared.as(rowEnc)
      .groupByKey((_: Row) => 0)(Encoders.scalaInt)
      .transformWithState[Row](processor, TimeMode.None(), OutputMode.Append())
  }

  /** CELL-BUCKETED streaming IVF-PQ — the streaming analog of
    * `Similarity.ivfPqTopK` and the composed 100 TB streaming ANN shape:
    * IVF bounds WHICH state a query touches (the index is bucketed by
    * IVF cell; each arrival probes only its `nProbe` nearest cells'
    * code lists — nProbe/nCells of the corpus, where `pqAnnStream`'s
    * hyperplane probes touch ~(nPlanes+1)/2^nPlanes), PQ bounds the
    * BYTES each touched row costs (nSub byte-packed codes per vector,
    * never a raw float).
    *
    * Both the centroid table and the codebook are PARAMETERS (train
    * offline, deploy as literals — the production contract;
    * `Similarity.anchorCentroids`/`anchorCodebook` supply the
    * deterministic oracle-mirrorable ones). The distributed stage does
    * all the heavy math as codegen projections: one `VecCosine` per
    * centroid (the csims array), `PqEncode`, `PqLut`, ‖q‖; the stateful
    * stage ranks cells by `ivfPqTopK`'s exact policy — probe order
    * (csim DESC, cell ASC), own cell = rank 1, matching the batch
    * max_by((csim, -cell)) assignment — scores each probed cell's
    * candidates with the `PqScore`-identical ADC fold, and emits the
    * top k by (sim DESC, corpus_id).
    *
    * Same feed contract as `annStream`: id-ordered replay makes
    * "arrived so far" ≡ corpus_id < query_id, so the full retrieval log
    * hash-matches a DuckDB mirror (`emb_ann_ivfpq_stream_replay` — the
    * batch ivfPq mirror with every vector as a query and candidates
    * restricted to earlier arrivals). Null/empty/null-element vectors
    * emit nothing and are not indexed (PqEncode/PqLut fold them to
    * null); wrong widths raise loudly (`requireDim`).
    *
    * `residual = true` switches to the Faiss-IndexIVFPQ layout
    * (`ivfPqTopK(residual = true)`'s streaming analog): `codebook` is
    * then a RESIDUAL codebook (`Similarity.residualPqModel(...)
    * .codebook`), each arrival encodes v − centroid(own cell) into
    * state, and scoring reassembles cosine from q·c_cell + the LUT
    * gather over residual codes, with the per-cell norm correction
    * tables (2·cₘ·cb[m][j] + ‖cb[m][j]‖², derived here from the
    * centroid + codebook literals) replacing the direct ‖cb‖² sum.
    * State stays nSub bytes per vector; the per-arrival cost adds one
    * dim-multiply dot per probed cell.
    *
    * This form keeps ONE authoritative index task (simplest deployment;
    * throughput ceiling ~ hundreds of vecs/s). The scale-out path is the
    * CELL-SHARDED twin — [[shardedIvfPqCellHits]] → [[annMergeStage]] —
    * which distributes the same state and the same math across cells
    * and is pinned sym-diff-0 against this operator.
    */
  /** Shared validation for the IVF-PQ streaming forms (monolith and
    * sharded twin): returns the centroid list sorted by cell id.
    * Id-ascending order is load-bearing, not just documented: the
    * residual encode cell is array_position(csims, array_max(csims)) —
    * the FIRST argmax index — while probe rank sorts by (-csim, cellId);
    * these agree on exact csim ties only when position order IS cell-id
    * order. Sort here so an unsorted caller can't get a silent
    * encode-vs-index cell mismatch.
    */
  private def validateIvfPq(centroids: Seq[(Long, Seq[Double])],
                            codebook: Seq[Seq[Double]], codesPerSub: Int,
                            nProbe: Int): Seq[(Long, Seq[Double])] = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(centroids.map(_._1).distinct.length == centroids.length,
      "centroid cell ids must be distinct")
    require(nProbe > 0 && nProbe <= centroids.length,
      s"nProbe $nProbe must be in 1..${centroids.length}")
    require(codebook.nonEmpty && codebook.length % codesPerSub == 0,
      s"codebook of ${codebook.length} does not divide into codes of $codesPerSub")
    require(codesPerSub <= 256,
      s"codesPerSub $codesPerSub exceeds the byte-packed state limit of 256")
    centroids.sortBy(_._1)
  }

  /** Per-cell constant tables both IVF-PQ processors close over:
    * centroid arrays (for q·c), ‖c‖², and — residual mode — the
    * norm-correction tables w(cell)(m·cps + j) = 2·dot(centroidₘ,
    * cb(m, j)) + ‖cb(m, j)‖² (index order identical to
    * Similarity.residualPqModel's clut).
    */
  private def ivfPqCellTables(centroidsSorted: Seq[(Long, Seq[Double])],
                              codebook: Seq[Seq[Double]], codesPerSub: Int,
                              dim: Int, residual: Boolean,
                              norm2: Array[Double])
      : (Array[Array[Double]], Array[Double], Array[Array[Double]]) = {
    val nSub = codebook.length / codesPerSub
    val cps = codesPerSub
    val centArrs: Array[Array[Double]] = centroidsSorted.map(_._2.toArray).toArray
    val cn2s: Array[Double] = centArrs.map(_.foldLeft(0.0)((a, x) => a + x * x))
    val subDim = dim / nSub
    val wLuts: Array[Array[Double]] =
      if (!residual) null
      else centArrs.map { c =>
        Array.tabulate(nSub * cps) { e =>
          val m = e / cps
          val entry = codebook(e)
          var dot = 0.0
          var i = 0
          while (i < subDim) { dot += c(m * subDim + i) * entry(i); i += 1 }
          2.0 * dot + norm2(e)
        }
      }
    (centArrs, cn2s, wLuts)
  }

  /** Shared DISTRIBUTED prep of the IVF-PQ streaming forms — all the
    * heavy per-arrival math as codegen projections: PQ codes, the
    * arrival's scoring LUT, ‖q‖, and one `VecCosine` per centroid
    * literal (the csims array — the same per-arrival centroid scan as
    * the batch probe rank). Residual mode encodes v − centroid(own
    * argmax-csim cell) and carries the raw double vector. Schema:
    * (id, codes, lut, qn, csims[, vd]).
    */
  private def ivfPqPrep(sdf: DataFrame, idCol: String, vecCol: String,
                        centroidsSorted: Seq[(Long, Seq[Double])],
                        codebook: Seq[Seq[Double]], codesPerSub: Int,
                        dim: Int, residual: Boolean): DataFrame = {
    val nSub = codebook.length / codesPerSub
    val cps = codesPerSub
    def expr(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftColumnBridge.expression(c)
    def colOf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.GraftColumnBridge.column(e)
    val v0 = coalesce(col(vecCol).cast("array<float>"),
      array().cast("array<float>"))
    val vd = col(vecCol).cast("array<double>")
    val vdChecked = graft.llm.Similarity.requireDim(vd, dim)
    val codesC = when(size(v0) === 0, lit(null).cast("array<int>"))
      .otherwise(colOf(graft.functions.PqEncode(expr(vdChecked), codebook, nSub, cps)))
    val lutC = when(size(v0) === 0, lit(null).cast("array<double>"))
      .otherwise(colOf(graft.functions.PqLut(expr(vdChecked), codebook, nSub, cps)))
    val qnC = sqrt(aggregate(coalesce(vd, array().cast("array<double>")),
      lit(0.0d), (acc, x) => acc + x * x))
    val csimsC = when(size(v0) === 0, lit(null).cast("array<double>"))
      .otherwise(array(centroidsSorted.map(c =>
        graft.llm.Similarity.cosine(vdChecked, typedLit(c._2))): _*))
    if (!residual)
      sdf.select(col(idCol).cast("long").as("id"),
          codesC.as("codes"), lutC.as("lut"), qnC.as("qn"), csimsC.as("csims"))
        .where(col("id").isNotNull)
    else {
      // encode the RESIDUAL against the own (argmax-csim, ties →
      // smallest cell = first index, centroids are id-ascending) cell's
      // centroid; carry the raw double vector for the per-probed-cell
      // q·c dots
      require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
      val centLit = typedLit(centroidsSorted.map(_._2))
      val staged = sdf.select(col(idCol).cast("long").as("id"),
          vd.as("vd"), v0.as("v0"), csimsC.as("csims"))
        .where(col("id").isNotNull)
      val vdc = graft.llm.Similarity.requireDim(col("vd"), dim)
      val ownIdx = array_position(col("csims"), array_max(col("csims")))
      val residualC = when(col("csims").isNull || ownIdx === 0,
          lit(null).cast("array<double>"))
        .otherwise(zip_with(vdc, element_at(centLit, ownIdx.cast("int")),
          (a, b) => a - b))
      val codesR = colOf(graft.functions.PqEncode(expr(residualC), codebook,
        nSub, cps))
      val lutR = when(size(col("v0")) === 0, lit(null).cast("array<double>"))
        .otherwise(colOf(graft.functions.PqLut(expr(vdc), codebook, nSub, cps)))
      val qnR = sqrt(aggregate(coalesce(col("vd"), array().cast("array<double>")),
        lit(0.0d), (acc, x) => acc + x * x))
      staged.select(col("id"), codesR.as("codes"), lutR.as("lut"),
        qnR.as("qn"), col("csims"), col("vd"))
    }
  }

  def ivfPqAnnStream(sdf: DataFrame, idCol: String, vecCol: String,
                     centroids: Seq[(Long, Seq[Double])],
                     codebook: Seq[Seq[Double]], codesPerSub: Int,
                     k: Int = 10, nProbe: Int = 4, dim: Int = 64,
                     residual: Boolean = false): DataFrame = {
    val centroidsSorted = validateIvfPq(centroids, codebook, codesPerSub, nProbe)
    val nSub = codebook.length / codesPerSub
    val norm2 = codebook.map(_.foldLeft(0.0)((a, x) => a + x * x)).toArray
    val cps = codesPerSub
    val cells = centroidsSorted.map(_._1).toArray
    val np = nProbe
    val (centArrs, cn2s, wLuts) = ivfPqCellTables(centroidsSorted, codebook,
      codesPerSub, dim, residual, norm2)
    val prepared = ivfPqPrep(sdf, idCol, vecCol, centroidsSorted, codebook,
      codesPerSub, dim, residual)
    val rowEnc = Encoders.row(prepared.schema)
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("query_id", "long").add("corpus_id", "long").add("rank", "integer")
    val outEnc = Encoders.row(outSchema)

    val processor = new StatefulProcessor[Int, Row, Row] {
      // cell id → vec-id list: the IVF inverted file, one state row per cell
      @transient private var cellIdx: org.apache.spark.sql.streaming.MapState[Long, Array[Long]] = _
      @transient private var codesSt: org.apache.spark.sql.streaming.MapState[Long, Array[Byte]] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit = {
        cellIdx = getHandle.getMapState[Long, Array[Long]]("cellIdx",
          Encoders.scalaLong, Encoders.kryo[Array[Long]], TTLConfig.NONE)
        codesSt = getHandle.getMapState[Long, Array[Byte]]("codes",
          Encoders.scalaLong, Encoders.kryo[Array[Byte]], TTLConfig.NONE)
      }

      // PqScore-identical left folds, pqAnnStream's exact division order
      private def adcSim(codes: Array[Byte], lut: Array[Double], qn: Double): Double = {
        var dot = 0.0; var cn2 = 0.0
        var m = 0
        while (m < codes.length) {
          val idx = m * cps + (codes(m) & 0xff)
          dot += lut(idx); cn2 += norm2(idx)
          m += 1
        }
        if (qn == 0.0) 0.0
        else (if (cn2 == 0.0) 0.0 else dot / math.sqrt(cn2)) / qn
      }

      // residual scoring: ivfPqResidualTopK's exact assembly —
      // (q·c + Σ lut) / (√(‖c‖² + Σ w) · ‖q‖), 0 when norm² ≤ 0; the
      // adc and w gathers are PqAdcSum's left folds in m order
      private def residualSim(codes: Array[Byte], lut: Array[Double],
                              qdotc: Double, cn2: Double, w: Array[Double],
                              qn: Double): Double = {
        var adc = 0.0; var wsum = 0.0
        var m = 0
        while (m < codes.length) {
          val idx = m * cps + (codes(m) & 0xff)
          adc += lut(idx); wsum += w(idx)
          m += 1
        }
        val vn2 = cn2 + wsum
        if (vn2 <= 0.0 || qn == 0.0) 0.0
        else (qdotc + adc) / (math.sqrt(vn2) * qn)
      }

      override def handleInputRows(key: Int, rows: Iterator[Row],
                                   timerValues: TimerValues): Iterator[Row] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        rows.toSeq.sortBy(_.getLong(0)).foreach { r =>
          val id = r.getLong(0)
          // null-element vectors fold codes/lut/csims to null — skip, don't NPE
          if (!r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(4)) {
            val myCodes = r.getSeq[Int](1).map(_.toByte).toArray
            val lut = r.getSeq[Double](2).toArray
            val qn = r.getDouble(3)
            val csims = r.getSeq[Double](4).toArray
            // probe order (csim DESC, cell ASC) = ivfPqTopK's probe rank;
            // own cell is rank 1 (the batch max_by((csim, -cell)) argmax)
            val order = cells.indices.sortBy(i => (-csims(i), cells(i)))
            val probeIdx = order.take(np)
            val vdArr = if (residual) r.getSeq[Double](5).toArray else null
            val scored = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
            probeIdx.foreach { pi =>
              val cur = cellIdx.getValue(cells(pi))
              if (cur != null) {
                if (residual) {
                  // q·c for THIS probed cell — aggregate(zip_with)'s fold
                  val c = centArrs(pi)
                  var qdotc = 0.0
                  var j = 0
                  while (j < c.length) { qdotc += vdArr(j) * c(j); j += 1 }
                  val w = wLuts(pi); val cn2c = cn2s(pi)
                  var i = 0
                  while (i < cur.length) {
                    scored += ((residualSim(codesSt.getValue(cur(i)), lut,
                      qdotc, cn2c, w, qn), cur(i)))
                    i += 1
                  }
                } else {
                  var i = 0
                  while (i < cur.length) {
                    scored += ((adcSim(codesSt.getValue(cur(i)), lut, qn), cur(i)))
                    i += 1
                  }
                }
              }
            }
            scored.sortBy { case (sim, cid) => (-sim, cid) }
              .take(k).zipWithIndex.foreach { case ((_, cid), rk) =>
                out += Row(id, cid, rk + 1)
              }
            val own = cells(probeIdx.head)
            val ownCur = cellIdx.getValue(own)
            cellIdx.updateValue(own,
              if (ownCur == null) Array(id) else ownCur :+ id)
            codesSt.updateValue(id, myCodes)
          }
        }
        out.iterator
      }
    }

    implicit val outRowEnc: org.apache.spark.sql.Encoder[Row] = outEnc
    prepared.as(rowEnc)
      .groupByKey((_: Row) => 0)(Encoders.scalaInt)
      .transformWithState[Row](processor, TimeMode.None(), OutputMode.Append())
  }

  /** CELL-SHARDED stage A of the streaming IVF-PQ retrieval — the
    * scale-out twin of [[ivfPqAnnStream]], following the
    * `DupSpanStream.shardedGramHits`/`spanMergeStage` bridge precedent.
    * The monolith keys its state to one Int, so every probe serializes
    * through one task (~250–390 vecs/s regardless of cores); but unlike
    * the near-dup union-find NOTHING here is corpus-global — each IVF
    * cell's inverted list is independent state — so the operator shards
    * by the thing the index is already bucketed by.
    *
    * Stage A keys `transformWithState` by CELL id. Each arrival fans
    * out (in the distributed stage) into `nProbe` PROBE rows — one per
    * probed cell, probe order = the monolith's exact (csim DESC, cell
    * ASC) rank, computed as a sort_array over (−csim, cell) structs —
    * plus one INSERT row into its own (rank-1) cell. Within a cell,
    * rows process in (id, probe-before-insert) order, so a probe by id
    * q sees exactly the inserts with id < q — including same-batch ones
    * — and never its own insert: the monolith's feed contract, per
    * shard. Per (query, cell) probe the stage emits ONE row carrying
    * the cell-local top-k candidate list (possibly EMPTY — the merge
    * stage counts cells, so empty probes must still report). Scores are
    * bit-identical to the monolith's: the ADC/residual folds are the
    * same loops over the same inputs, and the residual q·c dot moves to
    * the distributed stage as aggregate(zip_with(vd, c, *), 0.0, +) —
    * the identical left-fold the monolith's in-task loop runs.
    *
    * [[annMergeStage]] (keyed by query id) merges the nProbe cell lists
    * into the final (query_id, corpus_id, rank) log. Per-cell top-k
    * suffices for global top-k: every vector lives in exactly ONE cell
    * (no cross-cell duplicates), and no cell can contribute more than k
    * rows to the global top-k. Spark 4.1 does not chain two stateful
    * `transformWithState` operators in one query, so stage B runs as a
    * second query bridged by a replayable log of stage-A rows (memory
    * table in the harness; files/kafka in production) — the same
    * deployment shape as the sharded dup-span and near-dup pairs.
    * Parity: `emb_ann_ivfpq_sharded_stream_replay` shares the
    * monolith's DuckDB mirror, and AnnStreamSpec pins sym-diff-0
    * against the monolith in both residual modes.
    */
  def shardedIvfPqCellHits(sdf: DataFrame, idCol: String, vecCol: String,
                           centroids: Seq[(Long, Seq[Double])],
                           codebook: Seq[Seq[Double]], codesPerSub: Int,
                           k: Int = 10, nProbe: Int = 4, dim: Int = 64,
                           residual: Boolean = false): DataFrame = {
    val centroidsSorted = validateIvfPq(centroids, codebook, codesPerSub, nProbe)
    val norm2 = codebook.map(_.foldLeft(0.0)((a, x) => a + x * x)).toArray
    val cps = codesPerSub
    val cells = centroidsSorted.map(_._1).toArray
    val nCells = cells.length
    val (_, cn2s, wLuts) = ivfPqCellTables(centroidsSorted, codebook,
      codesPerSub, dim, residual, norm2)
    val cellToIdx: Map[Long, Int] = cells.zipWithIndex.toMap
    val kk = k
    val prep0 = ivfPqPrep(sdf, idCol, vecCol, centroidsSorted, codebook,
      codesPerSub, dim, residual)
      // the monolith's skip condition: null codes/lut/csims (empty or
      // null-element vectors) neither query nor index
      .where(col("codes").isNotNull && col("lut").isNotNull &&
        col("csims").isNotNull)
    val cellsLit = typedLit(cells.toSeq)
    // residual: q·c per centroid as the SAME left fold the monolith's
    // in-task loop runs — aggregate(zip_with) is ((0 + q₀c₀) + q₁c₁) + …
    val qdotsC =
      if (!residual) array((0 until nCells).map(_ => lit(0.0d)): _*)
      else {
        val vdc = graft.llm.Similarity.requireDim(col("vd"), dim)
        array(centroidsSorted.map(c =>
          aggregate(zip_with(vdc, typedLit(c._2), (a, b) => a * b),
            lit(0.0d), (acc, x) => acc + x)): _*)
      }
    // probe structs sorted by (negs ASC = csim DESC, cell ASC) — struct
    // lexicographic sort_array = the monolith's probe rank; qdot rides
    // along (cell is unique, so it never participates in ordering)
    val idxs = sequence(lit(0), lit(nCells - 1))
    val probesC = slice(sort_array(zip_with(col("csims"), idxs, (s, i) =>
      struct((-s).as("negs"),
        element_at(cellsLit, i + 1).as("cell"),
        element_at(qdotsC, i + 1).as("qdot")))), 1, nProbe)
    val base = prep0.select(col("id"), col("codes"), col("lut"), col("qn"),
      probesC.as("probes"))
    val probeRows = base
      .select(col("id"), col("lut"), col("qn"), explode(col("probes")).as("p"))
      .select(col("p.cell").as("cell"), lit(0).as("kind"), col("id"),
        lit(null).cast("array<int>").as("codes"), col("lut"), col("qn"),
        col("p.qdot").as("qdot"))
    val insertRows = base
      .select(element_at(col("probes"), 1).getField("cell").as("cell"),
        lit(1).as("kind"), col("id"), col("codes"),
        lit(null).cast("array<double>").as("lut"),
        lit(null).cast("double").as("qn"), lit(null).cast("double").as("qdot"))
    val fanned = probeRows.unionByName(insertRows)
    val rowEnc = Encoders.row(fanned.schema)
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("query_id", "long").add("cell", "long")
      .add("cands", "array<struct<corpus_id:bigint,sim:double>>")
    val outEnc = Encoders.row(outSchema)
    val res = residual

    val processor = new StatefulProcessor[Long, Row, Row] {
      // this cell's inverted list: vec id → byte-packed PQ codes
      @transient private var codesSt: org.apache.spark.sql.streaming.MapState[Long, Array[Byte]] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit =
        codesSt = getHandle.getMapState[Long, Array[Byte]]("codes",
          Encoders.scalaLong, Encoders.kryo[Array[Byte]], TTLConfig.NONE)

      // PqScore-identical folds — the monolith's exact score math
      private def adcSim(codes: Array[Byte], lut: Array[Double], qn: Double): Double = {
        var dot = 0.0; var cn2 = 0.0
        var m = 0
        while (m < codes.length) {
          val idx = m * cps + (codes(m) & 0xff)
          dot += lut(idx); cn2 += norm2(idx)
          m += 1
        }
        if (qn == 0.0) 0.0
        else (if (cn2 == 0.0) 0.0 else dot / math.sqrt(cn2)) / qn
      }

      private def residualSim(codes: Array[Byte], lut: Array[Double],
                              qdotc: Double, cn2: Double, w: Array[Double],
                              qn: Double): Double = {
        var adc = 0.0; var wsum = 0.0
        var m = 0
        while (m < codes.length) {
          val idx = m * cps + (codes(m) & 0xff)
          adc += lut(idx); wsum += w(idx)
          m += 1
        }
        val vn2 = cn2 + wsum
        if (vn2 <= 0.0 || qn == 0.0) 0.0
        else (qdotc + adc) / (math.sqrt(vn2) * qn)
      }

      override def handleInputRows(cell: Long, rows: Iterator[Row],
                                   timerValues: TimerValues): Iterator[Row] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        val ci = cellToIdx(cell)
        val w = if (res) wLuts(ci) else null
        val cn2c = cn2s(ci)
        // (id ASC, probe before insert): a probe by id q sees exactly the
        // inserts with id < q — same-batch included — never its own
        rows.toSeq.sortBy(r => (r.getLong(2), r.getInt(1))).foreach { r =>
          if (r.getInt(1) == 1) {
            codesSt.updateValue(r.getLong(2),
              r.getSeq[Int](3).map(_.toByte).toArray)
          } else {
            val id = r.getLong(2)
            val lut = r.getSeq[Double](4).toArray
            val qn = r.getDouble(5)
            val qdotc = r.getDouble(6)
            val scored = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
            val it = codesSt.iterator()
            while (it.hasNext) {
              val (cid, codes) = it.next()
              scored += (((if (res) residualSim(codes, lut, qdotc, cn2c, w, qn)
                           else adcSim(codes, lut, qn)), cid))
            }
            val top = scored.sortBy { case (sim, cid) => (-sim, cid) }.take(kk)
            out += Row(id, cell, top.map { case (sim, cid) => Row(cid, sim) }.toSeq)
          }
        }
        out.iterator
      }
    }

    implicit val outRowEnc: org.apache.spark.sql.Encoder[Row] = outEnc
    fanned.as(rowEnc)
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .transformWithState[Row](processor, TimeMode.None(), OutputMode.Append())
  }

  /** BUCKET-SHARDED two-stage form of the LSH-probed monoliths — the
    * scale-out twin of [[annStream]] (exact cosine state) and
    * [[pqAnnStream]] (PQ-code state), closing the last single-task
    * streaming arm (VERDICT r13 "missing" #5). The monoliths key
    * `transformWithState` on a constant to keep one authoritative
    * index; but as their own scaladocs note, NOTHING here is
    * corpus-global — each LSH bucket's member list is independent — so
    * this form keys by BUCKET CODE, exactly the [[shardedIvfPqCellHits]]
    * pattern with the IVF cell replaced by the hyperplane bucket:
    *
    *  - Each arrival fans out (distributed stage) into its nPlanes+1
    *    PROBE rows — own bucket + every hamming-1 code, the monolith's
    *    exact probe set; probed codes are pairwise distinct and a stored
    *    vector lives under exactly ONE code (its own), so cross-shard
    *    candidates are disjoint — plus one INSERT row into its own
    *    bucket. Within a shard, rows process in (id, probe-before-
    *    insert) order: a probe by id q sees exactly the inserts with
    *    id < q — same-batch included — and never its own.
    *  - Per (query, bucket) probe the shard emits ONE row with the
    *    bucket-local top-k candidate list (possibly empty — the merge
    *    counts probes). Scores are the monolith's exact loops: the
    *    VecCosine double fold (exact mode) or the PqScore ADC fold over
    *    byte-packed codes with the probe-carried LUT (pq mode).
    *  - [[annMergeStage]] (nProbe = nPlanes + 1) merges to the global
    *    (query_id, corpus_id, rank) log — per-bucket top-k suffices
    *    because candidates are disjoint and no bucket contributes more
    *    than k rows. Bridged as a second query over a replayable hit
    *    log, like every sharded pair here.
    *
    * Output hash-matches the monolith's mirror
    * (`emb_ann_sharded_lsh_stream_replay` shares embAnnStreamSql,
    * the pq row shares embPqStreamSql) and AnnStreamSpec pins
    * sym-diff-0 against both monoliths. State per shard is the bucket's
    * members only (corpus/2^nPlanes expected), and shards spread over
    * all cores — lookup rate scales with bucket count instead of one
    * task's ceiling.
    */
  def shardedLshBucketHits(sdf: DataFrame, idCol: String, vecCol: String,
                           codebook: Option[(Seq[Seq[Double]], Int)] = None,
                           k: Int = 10, nPlanes: Int = 8, dim: Int = 64,
                           seed: Long = 42L): DataFrame = {
    val pq = codebook.isDefined
    val (cb, cps) = codebook.getOrElse((Seq(Seq(0.0)), 1))
    if (pq) {
      require(cb.nonEmpty && cb.length % cps == 0,
        s"codebook of ${cb.length} does not divide into codes of $cps")
      require(cps <= 256, s"codesPerSub $cps exceeds the byte-packed limit of 256")
    }
    val nSub = if (pq) cb.length / cps else 0
    val norm2 = if (pq) cb.map(_.foldLeft(0.0)((a, x) => a + x * x)).toArray
                else Array.emptyDoubleArray
    def expr(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftColumnBridge.expression(c)
    def colOf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.GraftColumnBridge.column(e)
    val v0 = coalesce(col(vecCol).cast("array<float>"),
      array().cast("array<float>"))
    val vd = col(vecCol).cast("array<double>")
    val bucketC = when(size(v0) === 0, lit(null).cast("long"))
      .otherwise(graft.llm.Similarity.lshBucket(v0, nPlanes, dim, seed))
    val codesC =
      if (!pq) lit(null).cast("array<int>")
      else when(size(v0) === 0, lit(null).cast("array<int>"))
        .otherwise(colOf(graft.functions.PqEncode(expr(vd), cb, nSub, cps)))
    val lutC =
      if (!pq) lit(null).cast("array<double>")
      else when(size(v0) === 0, lit(null).cast("array<double>"))
        .otherwise(colOf(graft.functions.PqLut(expr(vd), cb, nSub, cps)))
    val qnC = sqrt(aggregate(coalesce(vd, array().cast("array<double>")),
      lit(0.0d), (acc, x) => acc + x * x))
    val base = sdf.select(col(idCol).cast("long").as("id"),
        bucketC.as("bucket"), v0.as("v"), codesC.as("codes"),
        lutC.as("lut"), qnC.as("qn"))
      .where(col("id").isNotNull && col("bucket").isNotNull &&
        (if (pq) col("codes").isNotNull && col("lut").isNotNull else size(col("v")) > 0))
    // own bucket + the nPlanes hamming-1 codes — pairwise distinct
    val probesC = array(((-1) +: (0 until nPlanes)).map(p =>
      if (p < 0) col("bucket")
      else col("bucket").bitwiseXOR(lit(1L << p))): _*)
    val probeRows = base
      .select(explode(probesC).as("code"), lit(0).as("kind"), col("id"),
        (if (pq) array().cast("array<float>") else col("v")).as("v"),
        lit(null).cast("array<int>").as("codes"), col("lut"), col("qn"))
    val insertRows = base
      .select(col("bucket").as("code"), lit(1).as("kind"), col("id"),
        (if (pq) array().cast("array<float>") else col("v")).as("v"),
        col("codes"), lit(null).cast("array<double>").as("lut"),
        lit(null).cast("double").as("qn"))
    val fanned = probeRows.unionByName(insertRows)
    val rowEnc = Encoders.row(fanned.schema)
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("query_id", "long").add("cell", "long")
      .add("cands", "array<struct<corpus_id:bigint,sim:double>>")
    val outEnc = Encoders.row(outSchema)
    val kk = k
    val cpsF = cps

    val processor = new StatefulProcessor[Long, Row, Row] {
      // exact mode: this bucket's id → float vector; pq mode: id → codes
      @transient private var vecsSt: org.apache.spark.sql.streaming.MapState[Long, Array[Float]] = _
      @transient private var codesSt: org.apache.spark.sql.streaming.MapState[Long, Array[Byte]] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit =
        if (pq) codesSt = getHandle.getMapState[Long, Array[Byte]]("codes",
          Encoders.scalaLong, Encoders.kryo[Array[Byte]], TTLConfig.NONE)
        else vecsSt = getHandle.getMapState[Long, Array[Float]]("vecs",
          Encoders.scalaLong, Encoders.kryo[Array[Float]], TTLConfig.NONE)

      // the monoliths' exact score loops, verbatim
      private def cosine(a: Array[Float], b: Array[Float]): Double = {
        val m = a.length
        if (m != b.length) return 0.0
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < m) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      }
      private def adcSim(codes: Array[Byte], lut: Array[Double], qn: Double): Double = {
        var dot = 0.0; var cn2 = 0.0
        var m = 0
        while (m < codes.length) {
          val idx = m * cpsF + (codes(m) & 0xff)
          dot += lut(idx); cn2 += norm2(idx)
          m += 1
        }
        if (qn == 0.0) 0.0
        else (if (cn2 == 0.0) 0.0 else dot / math.sqrt(cn2)) / qn
      }

      override def handleInputRows(code: Long, rows: Iterator[Row],
                                   timerValues: TimerValues): Iterator[Row] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        rows.toSeq.sortBy(r => (r.getLong(2), r.getInt(1))).foreach { r =>
          val id = r.getLong(2)
          if (r.getInt(1) == 1) {
            if (pq) codesSt.updateValue(id, r.getSeq[Int](4).map(_.toByte).toArray)
            else vecsSt.updateValue(id, r.getSeq[Float](3).toArray)
          } else {
            val scored = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
            if (pq) {
              val lut = r.getSeq[Double](5).toArray
              val qn = r.getDouble(6)
              val it = codesSt.iterator()
              while (it.hasNext) {
                val (cid, cc) = it.next()
                scored += ((adcSim(cc, lut, qn), cid))
              }
            } else {
              val myV = r.getSeq[Float](3).toArray
              val it = vecsSt.iterator()
              while (it.hasNext) {
                val (cid, cv) = it.next()
                scored += ((cosine(myV, cv), cid))
              }
            }
            val top = scored.sortBy { case (sim, cid) => (-sim, cid) }.take(kk)
            out += Row(id, code, top.map { case (sim, cid) => Row(cid, sim) }.toSeq)
          }
        }
        out.iterator
      }
    }

    implicit val outRowEnc: org.apache.spark.sql.Encoder[Row] = outEnc
    fanned.as(rowEnc)
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .transformWithState[Row](processor, TimeMode.None(), OutputMode.Append())
  }

  /** Sharded stage B — query-keyed merge of [[shardedIvfPqCellHits]]'s
    * per-cell candidate lists. Keys by query id (every query's merge is
    * independent), accumulating cell results in state until all
    * `nProbe` probed cells have reported, then emits the global top-k
    * by (sim DESC, corpus_id) — the monolith's exact rank policy — and
    * CLEARS the query's state (in-flight state is ≤ nProbe × k
    * candidates per incomplete query, nothing after completion). A
    * redelivered stage-A row (at-least-once bridge) is absorbed by the
    * seen-cell guard. Emits nothing for a query whose probed cells were
    * all empty — the monolith's behavior for the first arrivals.
    */
  def annMergeStage(hits: DataFrame, nProbe: Int, k: Int = 10): DataFrame = {
    val prepared = hits.select(col("query_id").cast("long").as("query_id"),
      col("cell").cast("long").as("cell"), col("cands"))
    val rowEnc = Encoders.row(prepared.schema)
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("query_id", "long").add("corpus_id", "long").add("rank", "integer")
    val outEnc = Encoders.row(outSchema)
    val np = nProbe
    val kk = k

    val processor = new StatefulProcessor[Long, Row, Row] {
      @transient private var seenCells: org.apache.spark.sql.streaming.ValueState[Array[Long]] = _
      @transient private var candIds: org.apache.spark.sql.streaming.ValueState[Array[Long]] = _
      @transient private var candSims: org.apache.spark.sql.streaming.ValueState[Array[Double]] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit = {
        seenCells = getHandle.getValueState[Array[Long]]("seenCells",
          Encoders.kryo[Array[Long]], TTLConfig.NONE)
        candIds = getHandle.getValueState[Array[Long]]("candIds",
          Encoders.kryo[Array[Long]], TTLConfig.NONE)
        candSims = getHandle.getValueState[Array[Double]]("candSims",
          Encoders.kryo[Array[Double]], TTLConfig.NONE)
      }

      override def handleInputRows(qid: Long, rows: Iterator[Row],
                                   timerValues: TimerValues): Iterator[Row] = {
        var cellsSeen = { val v = seenCells.get(); if (v == null) Array.emptyLongArray else v }
        var ids = { val v = candIds.get(); if (v == null) Array.emptyLongArray else v }
        var sims = { val v = candSims.get(); if (v == null) Array.emptyDoubleArray else v }
        rows.foreach { r =>
          val cell = r.getLong(1)
          if (!cellsSeen.contains(cell)) { // redelivery guard
            cellsSeen = cellsSeen :+ cell
            r.getSeq[Row](2).foreach { c =>
              ids = ids :+ c.getLong(0)
              sims = sims :+ c.getDouble(1)
            }
          }
        }
        if (cellsSeen.length >= np) {
          seenCells.clear(); candIds.clear(); candSims.clear()
          ids.indices
            .sortBy(i => (-sims(i), ids(i)))
            .take(kk).zipWithIndex
            .map { case (i, rk) => Row(qid, ids(i), rk + 1) }
            .iterator
        } else {
          seenCells.update(cellsSeen); candIds.update(ids); candSims.update(sims)
          Iterator.empty
        }
      }
    }

    implicit val outRowEnc: org.apache.spark.sql.Encoder[Row] = outEnc
    prepared.as(rowEnc)
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .transformWithState[Row](processor, TimeMode.None(), OutputMode.Append())
  }
}
