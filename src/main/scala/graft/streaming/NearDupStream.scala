package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Streaming INCREMENTAL near-duplicate dedup — the continuous-ingestion
  * form of `TextDedup.dedupByPairs`, and the LLM-tier analog of what the
  * reference's dedup processor does for exact keys
  * (DeduplicateStreamProcessor.java:155-178: "is this arriving event a
  * duplicate of the live index?"). Per arriving document the operator
  * answers "is this a near-dup of the corpus so far?" and maintains the
  * answer TRANSITIVELY, so its final survivor set equals the batch
  * minhash → LSH → connected-components pipeline on the same corpus.
  *
  * Architecture (design-for-scale split):
  *  - The per-doc heavy work — tokenize → shingle hashes → minhash
  *    signature → band codes (`TextDedup.withIndexCols`) — runs DISTRIBUTED
  *    as pure Catalyst expressions before the stateful stage.
  *  - The stateful stage is `transformWithState` (Spark 4 arbitrary
  *    state, RocksDB-backed — call `UniqueStreams.useRocksDBStateStore`
  *    first) holding the incremental index as three MapStates:
  *      bandIdx : band-code → [single-component hint | -1, doc-ids...]
  *                (the LSH bucket index; slot 0 summarizes whether all
  *                members are one component — see buildCore)
  *      docSh   : doc-id → shingle-hash set (for the exact-Jaccard verify)
  *      parent  : doc-id → parent doc-id (min-rooted union-find forest;
  *                a doc absent from the map is a component root)
  *    MapState gives POINT lookups/updates against RocksDB — per doc the
  *    stage touches `bands` bucket entries + its candidates, never the
  *    whole index (a kryo'd Map in flatMapGroupsWithState state would
  *    deserialize the entire index every micro-batch).
  *
  * Per arriving doc (processed in `idCol` order): look up its band
  * buckets, exact-Jaccard-verify the candidates against their stored
  * shingle sets, and union-find-merge with every verified match (new
  * root = MINIMUM doc id, the batch CC's min-label policy). Output is a
  * CHANGE LOG (update mode): (id, change, canonical, upd_seq, bucket) where
  *  - a doc with no verified match emits (id, "keep", id)
  *  - a doc matching an existing component emits (id, "drop", root)
  *  - a doc whose arrival MERGES two components additionally demotes the
  *    larger-id root r: (r, "drop", newRoot) — the retroactive retraction
  *    that keeps the survivor set transitively exact (a two-sided
  *    near-dup link discovered late can reveal that an earlier "unique"
  *    doc was a duplicate all along; greedy emit-once operators get this
  *    wrong).
  * A doc's latest row by `upd_seq` is its live verdict: survivors =
  * docs whose latest change is "keep" — exactly the roots of the final
  * union-find forest = min-id per connected component + isolated docs,
  * i.e. the batch `dedupByPairs` survivor set, hash-verified by the
  * `doc_neardup_stream_replay` CORRECTNESS row against the same DuckDB
  * recursive-CTE oracle as `doc_neardup_dedup_md5`. `canonical` is the
  * component root AT EMISSION TIME (a later merge can lower the final
  * cluster label without re-emitting dropped members; the final
  * clustering is recoverable by running CC over the latest canonical
  * edges).
  *
  * Candidate-generation parity with the batch pipeline: a pair is a
  * candidate iff the two docs share ≥1 band bucket — the same relation
  * the batch band self-join builds, so with an un-saturated index the
  * streamed pair set IS the batch pair set. `maxBucket` caps bucket
  * growth (a bucket at cap stops indexing new docs — degenerate
  * boilerplate protection, same motivation as the batch cap but
  * prefix-shaped: the batch form drops over-cap buckets retroactively,
  * which streaming cannot do without full dynamic-connectivity state).
  * At verification scale the cap never bites — the max observed md5
  * band bucket is 4 at sf0.01 and 10 at sf0.1 — so streamed survivors
  * hash-match the batch oracle exactly. The cap is NOT silent: the
  * arrival that fills a bucket to `maxBucket` emits a telemetry row
  * (id, "saturated", maxBucket, upd_seq, bucket=band-code) into the
  * same change log — "no silent caps" parity with the batch tier's
  * `PairsWithStats.droppedBuckets`. A production deployment sizes
  * `maxBucket` from the batch pipeline's dropped-bucket telemetry and
  * alerts on any "saturated" row: once one appears, recall in that
  * band is arrival-order-dependent and batch parity no longer holds
  * for docs hashing into it. Survivor/cluster consumers filter
  * `change IN ('keep','drop')` (or take the max_by(upd_seq) verdict —
  * a doc's verdict always follows its saturation rows in seq order),
  * so telemetry rows never perturb results.
  *
  * Scale: state is doc-id-sized (one shingle set per doc, stored ONCE —
  * bands carry ids only, like the batch explode) and RocksDB-resident.
  * The stateful stage runs single-keyed (one task): the union-find is a
  * global structure, the same inherent ceiling as the reference's
  * single-JVM index and this repo's global-order batch triggers
  * (UniqueStreams tier 2b). The distributed hashing stage dominates
  * per-doc cost; the index stage is hash-map lookups. Sharding the
  * stateful stage by band-space partition would parallelize lookups but
  * breaks cross-band transitivity — documented trade-off, not taken.
  */
object NearDupStream {

  /** md5-family form — DuckDB-checkable end-to-end (the verification
    * path; same parameters as `TextDedup.minhashPairsMd5`).
    */
  def nearDupStreamMd5(sdf: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                       threshold: Double = 0.2, maxBucket: Int = 1000): DataFrame =
    build(sdf, idCol, textCol, shingleN, bands, rowsPerBand, threshold, maxBucket,
      md5Family = true)

  /** xxhash64-family form — the production path (same parameters as
    * `TextDedup.minhashPairs`; codegen'd native hashing upstream).
    */
  def nearDupStream(sdf: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                    threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    build(sdf, idCol, textCol, shingleN, bands, rowsPerBand, threshold, maxBucket,
      md5Family = false)

  /** Streaming incremental near-dup over EMBEDDINGS — the vector-space
    * twin of `nearDupStream`, completing the family the batch tier pairs
    * (`TextDedup.minhashPairs` / `Similarity.embeddingNearDupPairs`).
    * Same architecture end-to-end: distributed banded hyperplane LSH
    * codes upstream (`Similarity.bandCodes`, the fused VecBandCodes
    * loop), then the single-keyed stateful index — band buckets, stored
    * vectors, min-rooted union-find — with the exact-cosine verify
    * replacing the exact-Jaccard verify. The verify math mirrors
    * `VecCosine` term-for-term (double products accumulated left to
    * right, zero-norm → 0.0), so a streamed verdict equals the batch
    * pipeline's on the same pair, and the candidate relation (shared
    * band bucket) equals the batch self-join's below `maxBucket`: final
    * survivors hash-match the recursive-CTE closure over the SAME DuckDB
    * pair oracle as `emb_neardup_pairs` (`emb_neardup_stream_replay`).
    * Null embeddings become vector-less "keep"s (never candidates —
    * batch parity: a null vector joins no pairs); wrong-width vectors
    * raise loudly upstream (`requireDim`), matching the batch path.
    */
  def embNearDupStream(sdf: DataFrame, idCol: String, vecCol: String,
                       threshold: Double = 0.8, groups: Int = 8,
                       planesPerGroup: Int = 8, dim: Int = 64,
                       seed: Long = 42L, maxBucket: Int = 1000): DataFrame = {
    val allPlanes = graft.llm.Similarity.planes(groups * planesPerGroup, dim, seed)
    val v0 = coalesce(col(vecCol).cast("array<float>"),
      array().cast("array<float>"))
    val checked = when(size(v0) === 0, v0)
      .otherwise(graft.llm.Similarity.requireDim(v0, dim))
    // band codes carry their band index ("g:code") — the same code in two
    // different bands is NOT a collision, exactly the batch join's
    // (band, code) composite key
    val codes = zip_with(
      graft.llm.Similarity.bandCodes(checked.cast("array<double>"), allPlanes, planesPerGroup),
      sequence(lit(0), lit(groups - 1)),
      (c, g) => concat(g.cast("string"), lit(":"), c.cast("string")))
    val prepared = sdf.select(col(idCol).cast("long").as("id"),
      checked.as("v"), codes.as("codes"))
      .where(col("id").isNotNull)
    val thr = threshold
    buildCore[Array[Float], Array[Float]](prepared, idCol, maxBucket,
      extract = r => r.getSeq[Float](1).toArray,
      isEmpty = _.isEmpty,
      decode = identity,
      simOk = (a, b) => {
        val m = a.length
        if (m != b.length) false
        else {
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var i = 0
          while (i < m) {
            val x = a(i).toDouble; val y = b(i).toDouble
            dot += x * y; na += x * x; nb += y * y
            i += 1
          }
          val cos = if (na == 0.0 || nb == 0.0) 0.0
                    else dot / (math.sqrt(na) * math.sqrt(nb))
          cos >= thr
        }
      })
  }

  /** Streaming incremental EDIT-DISTANCE near-dup — the character-level
    * member of the family (`TextDedup.editDistancePairs`'s stream twin):
    * same banded index and union-find change log, with the exact-
    * Levenshtein verify (`lev(a, b) ≤ maxDist`, a banded two-row DP with
    * row-min early exit — integer-exact, so a streamed verdict equals
    * the batch pair predicate on any engine) replacing Jaccard/cosine.
    * State payload is the RAW TEXT (the verify needs the string); band
    * codes come from the same char-shingle pipeline as the batch
    * candidates, so below `maxBucket` the streamed pair relation IS the
    * batch one and final survivors hash-match the batch
    * `dedupByPairs(editDistancePairs)` oracle
    * (`doc_editdist_stream_replay`). Docs shorter than `shingleN` chars
    * are vector-less keeps (batch parity: no shingles, never banded).
    */
  def editNearDupStreamMd5(sdf: DataFrame, idCol: String, textCol: String,
                           maxDist: Int, shingleN: Int = 3, bands: Int = 4,
                           rowsPerBand: Int = 2, maxBucket: Int = 1000): DataFrame =
    buildEdit(sdf, idCol, textCol, maxDist, shingleN, bands, rowsPerBand,
      maxBucket, md5Family = true)

  def editNearDupStream(sdf: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, shingleN: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 4, maxBucket: Int = 1000): DataFrame =
    buildEdit(sdf, idCol, textCol, maxDist, shingleN, bands, rowsPerBand,
      maxBucket, md5Family = false)

  private def buildEdit(sdf: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, shingleN: Int, bands: Int,
                        rowsPerBand: Int, maxBucket: Int,
                        md5Family: Boolean): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val prepared = graft.llm.TextDedup.withEditCodes(
      sdf.select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("payload"))
        .where(col("id").isNotNull),
      "payload", shingleN, bands, rowsPerBand, md5Family)
    val kd = maxDist
    val sn = shingleN
    buildCore[String, String](prepared, idCol, maxBucket,
      extract = _.getString(1),
      isEmpty = _.length < sn,
      decode = identity,
      simOk = (a, b) => levWithin(a, b, kd))
  }

  /** lev(a, b) ≤ k, banded two-row DP: O(min-len·len) worst case with a
    * row-minimum early exit (once every cell of a row exceeds k no path
    * can come back under it) and the |len(a) − len(b)| ≤ k necessary
    * pre-gate. Integer-exact — agrees with Spark's and DuckDB's
    * levenshtein on the ≤-k decision by definition.
    */
  private def levWithin(a: String, b: String, k: Int): Boolean = {
    val la = a.length; val lb = b.length
    if (math.abs(la - lb) > k) return false
    if (la == 0) return lb <= k
    if (lb == 0) return la <= k
    var prev = Array.tabulate(lb + 1)(j => j)
    var cur = new Array[Int](lb + 1)
    var i = 1
    while (i <= la) {
      cur(0) = i
      var rowMin = i
      var j = 1
      while (j <= lb) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val del = prev(j) + 1; if (del < v) v = del
        val ins = cur(j - 1) + 1; if (ins < v) v = ins
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > k) return false
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(lb) <= k
  }

  private def build(sdf: DataFrame, idCol: String, textCol: String,
                    shingleN: Int, bands: Int, rowsPerBand: Int,
                    threshold: Double, maxBucket: Int,
                    md5Family: Boolean): DataFrame = {
    // dirty-input hardening: a null text must not reach the stateful stage
    // as a null array (the batch pipeline tolerates such rows by never
    // pairing them; the stream treats them as shingle-less "keep"s), and a
    // null id has no usable identity — drop it before the state stage, the
    // same rows the batch pipeline's id-keyed joins would never emit
    val prepared = graft.llm.TextDedup.withIndexCols(
      sdf.select(col(idCol).cast("long").as("id"), coalesce(col(textCol), lit("")).as("text"))
        .where(col("id").isNotNull),
      "text", shingleN, bands, rowsPerBand, md5Family)
      .select("id", "sh", "codes")
    val thr = threshold
    buildCore[Array[String], Set[String]](prepared, idCol, maxBucket,
      extract = r => r.getSeq[String](1).toArray,
      isEmpty = _.isEmpty,
      decode = _.toSet,
      simOk = (mySet, cSet) => {
        val inter = mySet.count(cSet)
        val jac = if (inter == 0) 0.0
                  else inter.toDouble / (mySet.size + cSet.size - inter)
        jac >= thr
      })
  }

  /** The shared stateful index: band-bucket candidate generation, stored
    * per-doc payloads for the exact verify, and the min-rooted union-find
    * change log. Generic over the payload: `P` is what each doc stores in
    * state (shingle hashes / float vector, kryo-serialized), `D` its
    * decoded in-memory form for `simOk` — the one place the text and
    * vector operators differ. `prepared` must be (id: long, payload: P,
    * codes: array<string>); an empty payload (zero elements) means "never
    * a candidate": the doc keeps immediately and is not indexed.
    */
  private def buildCore[P: scala.reflect.ClassTag, D](
      prepared: DataFrame, idCol: String, maxBucket: Int,
      extract: Row => P, isEmpty: P => Boolean, decode: P => D,
      simOk: (D, D) => Boolean): DataFrame = {
    val prepSchema = prepared.schema
    val rowEnc = Encoders.row(prepSchema)
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add(idCol, "long").add("change", "string")
      .add("canonical", "long").add("upd_seq", "long")
      .add("bucket", "string") // non-null only on "saturated" telemetry rows
    val outEnc = Encoders.row(outSchema)

    val processor = new StatefulProcessor[Int, Row, Row] {
      @transient private var bandIdx: org.apache.spark.sql.streaming.MapState[String, Array[Long]] = _
      @transient private var docSh: org.apache.spark.sql.streaming.MapState[Long, P] = _
      @transient private var parent: org.apache.spark.sql.streaming.MapState[Long, Long] = _
      @transient private var seqCtr: org.apache.spark.sql.streaming.ValueState[Long] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit = {
        // bandIdx value layout: slot 0 is the bucket's single-component
        // summary — a member id serving as root hint (find() repairs
        // staleness after external merges), or -1 for "mixed" — and
        // slots 1.. are the member ids. Inlining the summary into the
        // array we read and rewrite anyway costs ZERO extra state
        // operations. "Single" (every member in one component) is
        // MONOTONE-STABLE — union-find never splits — so a bucket flips
        // to mixed only when an arrival joins it unconnected; buckets in
        // the boilerplate/clique regime stay single forever, making
        // arrivals O(bands) — one find + at most one verify per bucket —
        // instead of O(members). Mixed buckets keep the exact grouped
        // scan.
        bandIdx = getHandle.getMapState[String, Array[Long]]("bandIdx",
          Encoders.STRING, Encoders.kryo[Array[Long]], TTLConfig.NONE)
        docSh = getHandle.getMapState[Long, P]("docSh",
          Encoders.scalaLong, Encoders.kryo[P], TTLConfig.NONE)
        parent = getHandle.getMapState[Long, Long]("parent",
          Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
        seqCtr = getHandle.getValueState[Long]("seq", Encoders.scalaLong, TTLConfig.NONE)
      }

      // min-rooted union-find over the parent MapState; absent key = root.
      // Path compression keeps chains short (amortized near-constant).
      private def find(x: Long): Long = {
        var r = x
        while (parent.containsKey(r)) r = parent.getValue(r)
        var c = x
        while (c != r) {
          val next = parent.getValue(c)
          if (next != r) parent.updateValue(c, r)
          c = next
        }
        r
      }

      override def handleInputRows(key: Int, rows: Iterator[Row],
                                   timerValues: TimerValues): Iterator[Row] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var seq = if (seqCtr.exists()) seqCtr.get() else 0L
        def emit(id: Long, change: String, canonical: Long,
                 bucket: String = null): Unit = {
          out += Row(id, change, canonical, seq, bucket)
          seq += 1
        }
        // micro-batch-local memo of decoded payloads: clique members
        // arriving in the same batch re-verify against the same stored
        // docs, and each arrival's own payload serves later arrivals —
        // one RocksDB read + decode per distinct doc per batch. Memory is
        // bounded by the batch the framework already materializes below
        // (rows.toSeq), so the memo adds a same-order overlay, not a new
        // scaling term.
        val decoded = scala.collection.mutable.HashMap.empty[Long, D]
        rows.toSeq.sortBy(_.getLong(0)).foreach { r =>
          val id = r.getLong(0)
          val myP = extract(r)
          val myCodes = r.getSeq[String](2)
          if (isEmpty(myP)) {
            emit(id, "keep", id) // no payload → never a candidate (batch parity)
          } else {
            val myD = decode(myP)
            // find(id), not id: an at-least-once redelivery of an indexed
            // doc must keep its existing component, not fork a new one
            var dRoot = find(id)
            // min-label merge of d's component with a verified component
            // root r0; a pre-existing root demoted by the merge was last
            // emitted "keep" — retract it (hi == id means the arriving
            // doc itself, whose verdict is emitted below)
            def connect(r0: Long): Unit = {
              val lo = math.min(r0, dRoot)
              val hi = math.max(r0, dRoot)
              parent.updateValue(hi, lo)
              if (hi != id) emit(hi, "drop", lo)
              dRoot = lo
            }
            // exact-similarity verify against stored members IN ORDER
            // until the first match connects d to component r0 — the
            // connected relation is unchanged by stopping early (d joins
            // r0's component iff SOME shared-bucket member passes), only
            // the witness differs. `from` skips the summary slot when
            // scanning a raw bucket array.
            def scanUntilMatch(members: scala.collection.IndexedSeq[Long],
                               from: Int, r0: Long): Boolean = {
              var matched = false
              var i = from
              while (!matched && i < members.length) {
                val cD = decoded.getOrElseUpdate(members(i),
                  decode(docSh.getValue(members(i))))
                if (simOk(myD, cD)) { matched = true; connect(r0) }
                i += 1
              }
              matched
            }
            // 1. bucket pass: one point-read per band (getValue null =
            // bucket absent — array-valued state, so the null is
            // unambiguous, unlike the boxed-Long parent map which keeps
            // containsKey to avoid null-unboxing); index d (cap +
            // saturation telemetry), resolve SINGLE-COMPONENT buckets on
            // the spot — one find + at most one member scan — and defer
            // mixed buckets' members to the grouped fallback below.
            val mixedCand = scala.collection.mutable.LinkedHashSet.empty[Long]
            myCodes.distinct.foreach { code =>
              val cur = bandIdx.getValue(code)
              if (cur == null) {
                if (maxBucket > 0) {
                  bandIdx.updateValue(code, Array(id, id)) // single, members {id}
                  if (maxBucket == 1) emit(id, "saturated", 1L, code)
                }
              } else {
                val hint = cur(0)
                val nMembers = cur.length - 1
                val indexed = nMembers < maxBucket
                var stillSingle = hint >= 0
                if (hint >= 0) {
                  val r = find(hint)
                  if (r == dRoot) ()                      // already connected
                  else if (scanUntilMatch(cur, 1, r)) ()  // merged in
                  // d joins the bucket without connecting → mixed from
                  // here on (conservative: a later merge through another
                  // band could re-unify it, but mixed stays exact, just
                  // slower). A saturated arrival (not indexed) leaves
                  // members — and the invariant — untouched.
                  else stillSingle = false
                } else {
                  var i = 1
                  while (i < cur.length) { mixedCand += cur(i); i += 1 }
                }
                if (indexed) {
                  val next = new Array[Long](cur.length + 1)
                  System.arraycopy(cur, 0, next, 0, cur.length)
                  next(0) = if (stillSingle) hint else -1L
                  next(cur.length) = id
                  bandIdx.updateValue(code, next)
                  // "no silent caps" (PairsWithStats parity): the arrival
                  // that FILLS a bucket emits one telemetry row — from
                  // here on this bucket stops indexing, so batch parity
                  // and arrival-order insensitivity no longer hold for
                  // its band. id = the filling doc, canonical = the cap.
                  if (nMembers + 1 == maxBucket)
                    emit(id, "saturated", maxBucket.toLong, code)
                }
              }
            }
            // 2. mixed-bucket fallback: exact verify grouped by live
            // component root. The union-find only needs ONE verified edge
            // per existing component, so each root group is scanned only
            // until its first match; a group with no matching member is
            // scanned fully, so the connected relation equals the naive
            // all-candidates loop's.
            if (mixedCand.nonEmpty) {
              val roots = scala.collection.mutable.HashMap.empty[Long, Long]
              val groups = scala.collection.mutable.LinkedHashMap
                .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
              mixedCand.foreach { c =>
                val rc = roots.getOrElseUpdate(c, find(c))
                groups.getOrElseUpdate(rc,
                  scala.collection.mutable.ArrayBuffer.empty[Long]) += c
              }
              groups.foreach { case (r0, members) =>
                // r0 stays this group's live root for the whole arrival:
                // groups have pairwise-distinct roots, and merges only
                // fold groups into d's component, never into each other's
                if (r0 != dRoot) scanUntilMatch(members, 0, r0)
              }
            }
            docSh.updateValue(id, myP)
            decoded.update(id, myD)
            if (dRoot == id) emit(id, "keep", id) else emit(id, "drop", dRoot)
          }
        }
        seqCtr.update(seq)
        out.iterator
      }
    }

    implicit val outRowEnc: org.apache.spark.sql.Encoder[Row] = outEnc
    prepared.as(rowEnc)
      .groupByKey((_: Row) => 0)(Encoders.scalaInt)
      .transformWithState[Row](processor, TimeMode.None(), OutputMode.Update())
  }

  /** BAND-SHARDED two-stage form — the scale path past the monolithic
    * operator's single-task index ceiling (~537 docs/s measured,
    * BASELINE.md round-7).
    *
    * The monolith serializes candidate lookup + Jaccard verify + index
    * write + union-find in ONE task because the union-find is global.
    * But only the MERGE is global: candidate generation and the exact
    * verify — the per-doc heavy work — factor cleanly by LSH band code.
    * Stage A (`shardedEdges`) keys `transformWithState` by band code, so
    * each shard holds one bucket (member ids + their shingle sets +
    * their full band-code arrays) and shards spread across all cores;
    * the output is ids-only VERIFIED EDGES (a < b, exact Jaccard ≥
    * threshold). A pair sharing several bands is verified exactly once —
    * in the lexicographically smallest band code the two docs share
    * (both docs know both code arrays, so every shard agrees on the
    * election without coordination). Stage B (`unionFindStage`) is the
    * residual global stage: a union-find over ids only — no text, no
    * shingles, no hashing — consuming doc markers (a==b rows, one per
    * doc, for the keep verdicts of isolated docs) plus stage-A edges,
    * emitting the same keep/drop change log with retroactive demotions
    * as the monolith. Union-find is final-state order-insensitive, so
    * stage-B output parity holds for any marker/edge interleaving in
    * which a doc's marker precedes its edges — feeding markers
    * batch-by-batch alongside (or before) that batch's edges satisfies
    * this.
    *
    * Cost split: stage A carries the shingle sets (state duplicated per
    * band vs the monolith's once — the storage price of sharding) and
    * all the comparison work, parallelized; stage B touches a few
    * longs per edge. Spark 4.1 does not chain two update-mode
    * `transformWithState` operators in one query, so the two stages run
    * as two queries bridged by an edge sink/source (BASELINE.md
    * "Band-sharded near-dup path" keeps the 10× measurement;
    * `NearDupStreamSpec` "sharded two-stage path" pins parity; a
    * production deployment bridges
    * through a replayable log, e.g. the files/kafka sink-source pair).
    * The bucket cap matches the monolith (a full bucket stops indexing;
    * arrivals still verify against stored members), so below cap the
    * edge set equals the monolith's pair set and both match batch.
    */
  def shardedEdges(sdf: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                   threshold: Double = 0.5, maxBucket: Int = 1000,
                   md5Family: Boolean = false): DataFrame = {
    // explode_outer + a filter on the code, as in editShardedEdges
    val prepared = graft.llm.TextDedup.withIndexCols(
      sdf.select(col(idCol).cast("long").as("id"), coalesce(col(textCol), lit("")).as("text"))
        .where(col("id").isNotNull),
      "text", shingleN, bands, rowsPerBand, md5Family)
      .select(explode_outer(col("codes")).as("code"), col("id"), col("sh").as("payload"),
        col("codes"))
      .where(col("code").isNotNull)
    val thr = threshold
    shardedEdgesCore[Array[String], Set[String]](prepared, maxBucket,
      extract = _.getSeq[String](2).toArray,
      decode = _.toSet,
      simOk = (mySet, mSet) => {
        val inter = mySet.count(mSet)
        val jac = if (inter == 0) 0.0
                  else inter.toDouble / (mySet.size + mSet.size - inter)
        jac >= thr
      })
  }

  /** Band-SHARDED stage A for the EDIT-DISTANCE family — `shardedEdges`
    * with the char-shingle band codes and the exact-lev verify (the same
    * generic core; the payload is the raw text). Paired with the shared
    * ids-only [[unionFindStage]] it is the scale path past
    * [[editNearDupStream]]'s single-task index, emitting the identical
    * verified-edge relation (each pair elected to its smallest shared
    * band code, verified exactly once) — PROVIDED every band bucket
    * stays below `maxBucket` (the same condition documented on
    * `editNearDupStreamMd5`). Above the cap the semantics diverge by
    * design: batch `editDistancePairs` DROPS an over-cap bucket
    * entirely, while this shard stops STORING past `maxBucket` members
    * but keeps comparing overflow arrivals against the stored prefix,
    * so it can still emit edges batch would have suppressed.
    */
  def editShardedEdges(sdf: DataFrame, idCol: String, textCol: String,
                       maxDist: Int, shingleN: Int = 3, bands: Int = 8,
                       rowsPerBand: Int = 4, maxBucket: Int = 1000,
                       md5Family: Boolean = false): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    // explode_outer + a filter on the code, not explode: explode makes the
    // optimizer infer `size(codes) > 0` and push it below the projections,
    // which inlines the whole codes chain into one interpreted predicate
    val prepared = graft.llm.TextDedup.withEditCodes(
      sdf.select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("payload"))
        .where(col("id").isNotNull),
      "payload", shingleN, bands, rowsPerBand, md5Family)
      .select(explode_outer(col("codes")).as("code"), col("id"), col("payload"), col("codes"))
      .where(col("code").isNotNull)
    val kd = maxDist
    shardedEdgesCore[String, String](prepared, maxBucket,
      extract = _.getString(2),
      decode = identity,
      simOk = (a, b) => levWithin(a, b, kd))
  }

  /** Band-SHARDED stage A for the PERCEPTUAL-HASH families — incremental
    * hamming near-dup edges over a PRECOMPUTED 64-bit hash column
    * ([[graft.llm.Multimodal.imageHashes]]' dhash/ahash, or
    * [[graft.llm.Multimodal.audioHashes]]' whash — the hash column is
    * the whole interface, so image and audio share this stage): codes are the
    * four `chunkBits`-bit chunk values (the
    * [[graft.llm.TextDedup.hammingHashPairs]] blocking — pigeonhole-
    * exact at radius ≤ 3), the stored payload is the hash itself
    * (8 bytes/member — the lightest payload of any sharded family), and
    * the verify is one `Long.bitCount(a ^ b) ≤ maxHamming`. Paired with
    * the shared ids-only [[unionFindStage]] it emits the batch pair
    * relation exactly — PROVIDED every chunk bucket stays below
    * `maxBucket` (above it the same divergence as [[editShardedEdges]]:
    * batch drops the bucket, the shard keeps verifying against the
    * stored prefix). Null hashes (undecodable payloads) never enter.
    */
  def hashShardedEdges(sdf: DataFrame, idCol: String, hashCol: String,
                        maxHamming: Int, chunkBits: Int = 16,
                        maxBucket: Int = 1000): DataFrame = {
    require(chunkBits >= 1 && chunkBits <= 16,
      s"chunkBits must be in [1, 16], got $chunkBits")
    require(maxHamming >= 0, s"maxHamming must be non-negative, got $maxHamming")
    val codes = array((0 until 4).map(c =>
      concat(lit(s"c$c:"),
        shiftright(col(hashCol), c * chunkBits)
          .bitwiseAND((1L << chunkBits) - 1).cast("string"))): _*)
    val prepared = sdf.select(col(idCol).cast("long").as("id"),
      col(hashCol).cast("long").as("payload"), codes.as("codes"))
      .where(col("id").isNotNull && col("payload").isNotNull)
      .select(explode(col("codes")).as("code"), col("id"), col("payload"), col("codes"))
    val mh = maxHamming
    shardedEdgesCore[Long, Long](prepared, maxBucket,
      extract = _.getLong(2),
      decode = identity,
      simOk = (a, b) => java.lang.Long.bitCount(a ^ b) <= mh,
      payloadEnc = Encoders.scalaLong)
  }

  /** Band-SHARDED stage A for the VIDEO-SEQUENCE family — incremental
    * shingled-frame-hash near-dup edges over packed-frame clips: each
    * arrival decodes ONCE in the stateless projection
    * ([[graft.llm.Multimodal.videoShingles]] — per-clip distinct
    * k-frame shingle strings), then every shingle is a band code and
    * the stored payload is the clip's shingle array; the verify is the
    * distinct-shingle Jaccard of [[graft.llm.TextDedup
    * .frameSequencePairs]] (`shared/(n_a+n_b-shared) >= threshold`,
    * `shared >= minShared`). Paired with the shared ids-only
    * [[unionFindStage]] it emits the batch pair relation exactly —
    * PROVIDED every shingle bucket stays below `maxBucket` (above it
    * the same documented divergence as [[editShardedEdges]]: batch
    * drops the bucket from its shared-count, the shard stops storing
    * but keeps verifying overflow arrivals against the stored prefix,
    * and the shard's verify counts the FULL intersection while batch
    * counts ok-bucket keys only).
    */
  def videoShardedEdges(sdf: DataFrame, idCol: String, shingleK: Int = 2,
                        threshold: Double = 0.5, minShared: Int = 1,
                        maxBucket: Int = 1000): DataFrame =
    keySetShardedEdges(
      graft.llm.Multimodal.videoShingles(sdf, idCol, shingleK)
        .withColumnRenamed("shingles", "keys"),
      threshold, minShared, maxBucket)

  /** Band-SHARDED stage A for ANY key-SET family — the streaming twin
    * of [[graft.llm.TextDedup.sharedKeyPairs]]: input is a stateless
    * (id: long, keys: array<string>) projection (a clip's shingle set
    * from [[graft.llm.Multimodal.videoShingles]], a file's segment-hash
    * values from [[graft.llm.Multimodal.audioSegmentKeys]], an image's
    * tile-hash values from [[graft.llm.Multimodal.imageTileKeys]] — the
    * decode already happened upstream, once per arrival). Every key is
    * a band code, the stored payload is the key array, and the verify
    * is the batch core's distinct-key overlap (`shared >= minShared`,
    * Jaccard `shared/(n_a+n_b-shared) >= threshold`). Paired with the
    * shared ids-only [[unionFindStage]] it emits the batch pair
    * relation exactly — PROVIDED every key bucket stays below
    * `maxBucket` (above it the same documented divergence as
    * [[editShardedEdges]]: batch drops the bucket from its shared
    * count, the shard stops storing but keeps verifying overflow
    * arrivals against the stored prefix). Empty key sets never enter
    * (they can never pair — same rule as batch).
    */
  def keySetShardedEdges(sdf: DataFrame, threshold: Double = 0.0,
                         minShared: Int = 1, maxBucket: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared must be positive, got $minShared")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0, 1], got $threshold")
    val prepared = sdf
      .select(col("id").cast("long").as("id"),
        col("keys").cast("array<string>").as("keys"))
      .where(col("id").isNotNull && size(col("keys")) > 0)
      .select(explode(col("keys")).as("code"), col("id"),
        col("keys").as("payload"), col("keys").as("codes"))
    val thr = threshold
    val ms = minShared
    shardedEdgesCore[Array[String], Set[String]](
      prepared,
      maxBucket,
      extract = _.getSeq[String](2).toArray,
      decode = _.toSet,
      simOk = (mySet, mSet) => {
        val inter = mySet.count(mSet)
        inter >= ms && (inter.toDouble / (mySet.size + mSet.size - inter)) >= thr
      })
  }

  /** The shared band-sharded stage-A core: per band-code shard, hold the
    * bucket's members (small code arrays split from the larger payloads,
    * so the per-arrival election scan never decodes payloads of
    * non-elected members), elect each candidate pair to its smallest
    * shared code, and emit exactly-once verified edges. Generic over the
    * payload like [[buildCore]]: `P` is the stored form, `D` the decoded
    * one `simOk` compares. `prepared` must be (code: string, id: long,
    * payload: P, codes: array<string>), one row per (doc, band code).
    */
  private def shardedEdgesCore[P: scala.reflect.ClassTag, D](
      prepared: DataFrame, maxBucket: Int,
      extract: Row => P, decode: P => D,
      simOk: (D, D) => Boolean,
      // Kryo rejects primitive payloads (the image family stores a bare
      // Long hash) — callers with primitive P pass the native encoder
      payloadEnc: org.apache.spark.sql.Encoder[P] = null): DataFrame = {
    val pEnc: org.apache.spark.sql.Encoder[P] =
      if (payloadEnc != null) payloadEnc else Encoders.kryo[P]
    val rowEnc = Encoders.row(prepared.schema)
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("a", "long").add("b", "long")
    val outEnc = Encoders.row(outSchema)

    val processor = new StatefulProcessor[String, Row, Row] {
      @transient private var memberCodes: org.apache.spark.sql.streaming.MapState[Long, Array[String]] = _
      @transient private var memberP: org.apache.spark.sql.streaming.MapState[Long, P] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit = {
        memberCodes = getHandle.getMapState[Long, Array[String]]("codes",
          Encoders.scalaLong, Encoders.kryo[Array[String]], TTLConfig.NONE)
        memberP = getHandle.getMapState[Long, P]("sh",
          Encoders.scalaLong, pEnc, TTLConfig.NONE)
      }

      override def handleInputRows(code: String, rows: Iterator[Row],
                                   timerValues: TimerValues): Iterator[Row] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        rows.toSeq.sortBy(_.getLong(1)).foreach { r =>
          val id = r.getLong(1)
          val myP = extract(r)
          val myCodes = r.getSeq[String](3)
          val myD = decode(myP)
          var n = 0
          memberCodes.iterator().foreach { case (mid, mCodes) =>
            n += 1
            if (mid != id) {
              // shard election: verify only in the smallest shared code
              val mCodeSet = mCodes.toSet
              val minCommon = myCodes.iterator.filter(mCodeSet).min
              if (minCommon == code) {
                val mD = decode(memberP.getValue(mid))
                if (simOk(myD, mD))
                  out += Row(math.min(id, mid), math.max(id, mid))
              }
            }
          }
          if (n < maxBucket) {
            memberCodes.updateValue(id, myCodes.toArray)
            memberP.updateValue(id, myP)
          }
        }
        out.iterator
      }
    }

    implicit val outRowEnc: org.apache.spark.sql.Encoder[Row] = outEnc
    prepared.as(rowEnc)
      .groupByKey((r: Row) => r.getString(0))(Encoders.STRING)
      .transformWithState[Row](processor, TimeMode.None(), OutputMode.Append())
  }

  /** Stage B of the sharded form: ids-only union-find over a stream of
    * doc markers (`a == b`: "doc a exists") and verified edges from
    * `shardedEdges`. Emits the monolith's change-log semantics on the
    * final state: a marker gets its live verdict at arrival ("keep" if
    * currently a root, "drop" otherwise), an edge that merges two
    * components demotes the larger root ("drop" with the new canonical).
    * Survivors = docs whose latest change by `upd_seq` is "keep" — the
    * min-id of each connected component plus isolated docs, identical
    * to the monolith and to batch `dedupByPairs`.
    */
  def unionFindStage(edges: DataFrame): DataFrame = {
    val prepared = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    val rowEnc = Encoders.row(prepared.schema)
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("change", "string")
      .add("canonical", "long").add("upd_seq", "long")
    val outEnc = Encoders.row(outSchema)

    val processor = new StatefulProcessor[Int, Row, Row] {
      @transient private var parent: org.apache.spark.sql.streaming.MapState[Long, Long] = _
      @transient private var seen: org.apache.spark.sql.streaming.MapState[Long, Boolean] = _
      @transient private var seqCtr: org.apache.spark.sql.streaming.ValueState[Long] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit = {
        parent = getHandle.getMapState[Long, Long]("parent",
          Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
        seen = getHandle.getMapState[Long, Boolean]("seen",
          Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
        seqCtr = getHandle.getValueState[Long]("seq", Encoders.scalaLong, TTLConfig.NONE)
      }

      private def find(x: Long): Long = {
        var r = x
        while (parent.containsKey(r)) r = parent.getValue(r)
        var c = x
        while (c != r) {
          val next = parent.getValue(c)
          if (next != r) parent.updateValue(c, r)
          c = next
        }
        r
      }

      override def handleInputRows(key: Int, rows: Iterator[Row],
                                   timerValues: TimerValues): Iterator[Row] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var seq = if (seqCtr.exists()) seqCtr.get() else 0L
        def emit(id: Long, change: String, canonical: Long): Unit = {
          out += Row(id, change, canonical, seq)
          seq += 1
        }
        rows.foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          if (a == b) {
            if (!seen.containsKey(a)) {
              seen.updateValue(a, true)
              val root = find(a)
              emit(a, if (root == a) "keep" else "drop", root)
            }
          } else {
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) {
              val lo = math.min(ra, rb)
              val hi = math.max(ra, rb)
              parent.updateValue(hi, lo)
              emit(hi, "drop", lo)
            }
          }
        }
        seqCtr.update(seq)
        out.iterator
      }
    }

    implicit val outRowEnc: org.apache.spark.sql.Encoder[Row] = outEnc
    prepared.as(rowEnc)
      .groupByKey((_: Row) => 0)(Encoders.scalaInt)
      .transformWithState[Row](processor, TimeMode.None(), OutputMode.Update())
  }
}
