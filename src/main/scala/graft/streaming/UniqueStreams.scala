package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One Bloom shard of [[UniqueStreams.firstStreamBloom]]'s fixed-size
  * state: the bitset plus an admitted-count (telemetry for the ε
  * estimate; not consulted on the hot path).
  */
case class BloomShard(bits: Array[Byte], inserted: Long)

/** One rotating two-bank shard of
  * [[UniqueStreams.deduplicateStreamBloom]]: `epoch` is the interval
  * bucket `cur` covers; `prev` covers `epoch − 1`; together they span at
  * least one full interval behind any event in `epoch`.
  */
case class BloomDedupShard(epoch: Long, cur: Array[Byte], prev: Array[Byte])

/** Keyed state for the global-order operators (public top-level: the kryo
  * encoder rejects non-public classes).
  */
case class GlobalState(
    order: List[(String, Row)],          // insertion-ordered live window (length)
    batchKeys: Set[String],              // distinct keys in the filling batch
    pending: List[Row],                  // filling batch's rows
    prevBatch: List[Row],                // last flushed batch (expired on next flush)
    batchId: Long,
    latched: Boolean,                    // timeLengthBatch post-flush drop latch
    prevBatchId: Long = 0L)              // time-batch id of prevBatch (timeLengthBatch)

/** State for externalTimeBatch-with-time.out (public for kryo). */
case class EtbState(
    endTimeMs: Long,                     // current batch's event-time end (exclusive)
    batch: List[(String, Row)],          // latest-per-key contents, insertion order
    sentIdle: Boolean,                   // an idle time.out flush already emitted this batch
    dirty: Boolean)                      // events arrived since the last emit

/** Structured-Streaming implementations of the `unique:` operators
  * (SURVEY.md §7.2 steps 3-4).
  *
  * Tier 1 maps directly onto Spark built-ins (dropDuplicates,
  * dropDuplicatesWithinWatermark, watermark + windowed agg) — these get
  * Spark's state store, checkpointing, and RocksDB backend for free,
  * which is strictly stronger than the reference's non-snapshotted
  * instance fields (SURVEY.md §1.5).
  *
  * Tier 2 (`ever`, `time`) needs custom keyed state with an expired
  * stream: `flatMapGroupsWithState` emitting rows tagged with a `change`
  * column ("insert" | "expire") — the streaming form of
  * UniqueResult.all. State is partitioned by key (shuffle on the key,
  * same layout as the batch operators), so a 1000-executor cluster
  * scales by key cardinality with no global coordination.
  *
  * Keys: grouping uses `to_json(struct(keys))` — null-safe and
  * collision-free across column boundaries (JSON escaping), the
  * streaming analog of the batch structs (SURVEY.md §1.4).
  */
object UniqueStreams {

  private def jsonKey(keys: Seq[String]): Column =
    to_json(struct(keys.map(col): _*))

  /** Numeric-widening read of the seq column: accepts any integral/numeric
    * type (int, long, short, …) instead of crashing with ClassCastException
    * on non-long columns. Non-numeric types fail with a clear message.
    */
  private def seqLong(r: Row, i: Int): Long = r.get(i) match {
    case n: java.lang.Number => n.longValue
    case other => throw new IllegalArgumentException(
      s"seq column must be numeric, got ${if (other == null) "null" else other.getClass.getName}")
  }

  private def sortedBySeq(rows: Iterator[Row], i: Int): Iterator[Row] =
    rows.toSeq.sortBy(seqLong(_, i)).iterator

  /** The change-log fold shared by the latest-per-key operators (`ever`
    * and its TTL/TWS backends, `time`): rows in `seqCol` order when
    * `sIdx` is set; each row replaces the current latest, which is
    * emitted 'expire' before the row's own 'insert'. Output rows keep the
    * first `n` input columns. Returns the new latest (null if none).
    */
  private def foldChangeLog(latest0: Row, rows: Iterator[Row], sIdx: Option[Int],
                            n: Int, out: scala.collection.mutable.ArrayBuffer[Row]): Row = {
    var latest = latest0
    val ordered = sIdx match {
      case Some(i) => sortedBySeq(rows, i)
      case None => rows
    }
    ordered.foreach { r =>
      if (latest != null)
        out += Row.fromSeq(latest.toSeq.take(n) :+ "expire")
      latest = r
      out += Row.fromSeq(r.toSeq.take(n) :+ "insert")
    }
    latest
  }

  /** Switch Structured Streaming state to the RocksDB backend: state
    * lives off-heap / on local disk instead of the executor heap — the
    * deployment knob for high-cardinality `ever` state. The reference
    * documents exactly this OOM risk on its ever window and offers no
    * fix (UniqueEverWindowProcessor.java:66-69, "events... will not be
    * removed"); Spark's pluggable state store is the engine-level answer
    * (SURVEY.md §7.4.4). Call before the session's first query (see the
    * last setting below), or at least before starting the stream.
    *
    * Two more settings cut the fixed cost every micro-batch pays for its
    * checkpoint files (offsets and commit log on the driver, state on
    * each partition):
    *  - changelog checkpointing: each commit writes one small changelog
    *    file per partition instead of uploading a snapshot zip of the
    *    whole RocksDB instance; snapshots move to the maintenance thread
    *    and recovery replays the changelogs after the latest snapshot;
    *  - [[ForkFreeLocalFs]] for `file:` checkpoints: without libhadoop,
    *    Hadoop's local `FileContext` forks a `chmod` per file created and
    *    a `readlink` per link-status lookup, tens of milliseconds per
    *    checkpoint file; the fork-free one leaves the same files,
    *    checksums and permissions.
    *
    * And one setting cuts the fixed cost of every micro-batch's tasks:
    * session artifact isolation (`spark.sql.artifact.isolation.enabled`,
    * on by default) goes off. Under it each task runs under the session's
    * own executor class loader, which asks the driver's RPC file server
    * for every class its parent lacks and remembers no miss; since the
    * compiled-class cache is per class loader, the executors compile
    * every generated class again, each Janino name lookup an RPC round
    * trip. Off, tasks use the executor's default class loader and a
    * generated class compiles once per JVM. Nothing here adds session
    * artifacts (jars, classes), so isolation has nothing to isolate.
    * Spark reads this key once per session, at its first SQL execution,
    * and a stream query runs in a clone of the session made when it
    * starts, which reads it then. So a call before the session's first
    * query covers all its work; a later call still covers every stream
    * started after it, but the session's own batch queries (a replay's
    * input collect and sink read) keep the isolation they started with.
    */
  def useRocksDBStateStore(spark: org.apache.spark.sql.SparkSession): Unit =
    rocksDBStateStoreConf.foreach { case (k, v) => spark.conf.set(k, v) }

  private val rocksDBStateStoreConf = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Run `body` under `useRocksDBStateStore`, then give every key it sets
    * back its previous value, or unset it if it had none.
    */
  def withRocksDBStateStore[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val prev = rocksDBStateStoreConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    useRocksDBStateStore(spark)
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ------------------------------------------------------------------
  // Tier 1 — Spark built-ins
  // ------------------------------------------------------------------

  /** unique:first — keep the first event per key, forever
    * (UniqueFirstWindowProcessor.java:122-134). Exact streaming match:
    * dropDuplicates keeps the first arrival per key with unbounded state,
    * like the reference's putIfAbsent map.
    */
  def firstStream(sdf: DataFrame, keys: Seq[String]): DataFrame =
    sdf.dropDuplicates(keys)

  /** `firstStream` with a deterministic within-micro-batch winner: when a
    * key occurs several times in ONE micro-batch, the built-in
    * dropDuplicates keeps an arbitrary post-shuffle arrival, while the
    * reference's single input thread always keeps the seq-least
    * (UniqueFirstWindowProcessor.java:122-134). Used by the replay
    * verification (thousands of events per micro-batch); a deployment
    * feeding events in arrival order never observes the difference.
    * Append-shaped output (first row per key, input schema); state per
    * key = one boolean.
    */
  def firstStream(sdf: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val inSchema = sdf.schema
    val keyed = sdf.withColumn("__k", jsonKey(keys))
    val kIdx = keyed.schema.fieldIndex("__k")
    val sIdx = keyed.schema.fieldIndex(seqCol)
    val rowEnc = Encoders.row(keyed.schema)
    val outEnc = Encoders.row(inSchema)
    val n = inSchema.length
    keyed.as(rowEnc)
      .groupByKey((r: Row) => r.getString(kIdx))(Encoders.STRING)
      .flatMapGroupsWithState[Boolean, Row](OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val winner = rows.minBy(seqLong(_, sIdx))
            Iterator.single(Row.fromSeq(winner.toSeq.take(n)))
          }
      }(Encoders.scalaBoolean, outEnc)
  }

  /** APPROXIMATE unique:first with FIXED-SIZE state — the 100 TB form of
    * first-wins distinct. Exact `first` state grows with distinct-key
    * cardinality (one entry per key, forever: the unbounded map the
    * reference documents as an OOM risk,
    * UniqueFirstWindowProcessor.java:122-134 + the ever processor's
    * warning at UniqueEverWindowProcessor.java:66-69); at trillions of
    * keys that is terabytes of state no store holds comfortably. This
    * variant keys the state by `hash(key) % numShards` and holds ONE
    * Bloom bitset per shard: total state = numShards × bitsPerShard/8
    * bytes — a config-time constant, independent of how many keys ever
    * arrive.
    *
    * Guarantees: NO false negatives — a key that was admitted is never
    * admitted again (its bits are set). False POSITIVES drop some
    * genuinely-new keys: with n keys in a shard,
    * ε ≈ (1 − e^(−numHashes·n/bitsPerShard))^numHashes. Defaults
    * (64 shards × 8 Mbit, 5 hashes) hold ~50M keys at ε < 1% in 64 MB of
    * state. Deterministic: fixed hash seeds, so the same input in the
    * same order admits the same rows on every engine and every replay
    * (the generously-sized parity spec is stable, not flaky).
    *
    * Sharding is by key hash, so a key always lands in the same shard
    * (membership is consistent) and load spreads uniformly regardless of
    * key skew — a hot key costs its shard one membership test per event.
    * Per-event work is O(numHashes) bit probes on a state row that never
    * grows; RocksDB holds each shard as one value.
    *
    * `seqCol` fixes the within-micro-batch winner like the exact
    * `firstStream(sdf, keys, seqCol)` overload. Output: admitted rows
    * only (input schema), append-shaped.
    */
  def firstStreamBloom(sdf: DataFrame, keys: Seq[String],
                       numShards: Int = 64, bitsPerShard: Int = 1 << 23,
                       numHashes: Int = 5,
                       seqCol: Option[String] = None): DataFrame = {
    require(numShards > 0 && bitsPerShard > 0 && numHashes > 0,
      s"numShards/bitsPerShard/numHashes must be positive, " +
        s"got $numShards/$bitsPerShard/$numHashes")
    val inSchema = sdf.schema
    val keyed = sdf.withColumn("__k", jsonKey(keys))
      .withColumn("__shard", pmod(xxhash64(col("__k")), lit(numShards)).cast("int"))
    val kIdx = keyed.schema.fieldIndex("__k")
    val sIdx = seqCol.map(keyed.schema.fieldIndex)
    val rowEnc = Encoders.row(keyed.schema)
    val outEnc = Encoders.row(inSchema)
    val n = inSchema.length
    val mBits = bitsPerShard.toLong
    val kHashes = numHashes
    val shIdx = keyed.schema.fieldIndex("__shard")
    keyed.as(rowEnc)
      .groupByKey((r: Row) => r.getInt(shIdx))(Encoders.scalaInt)
      .flatMapGroupsWithState[BloomShard, Row](OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[Row], state: GroupState[BloomShard]) =>
          val st = state.getOption.getOrElse(
            BloomShard(new Array[Byte]((bitsPerShard + 7) / 8), 0L))
          val bits = st.bits
          var inserted = st.inserted
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          val ordered = sIdx match {
            case Some(i) => sortedBySeq(rows, i)
            case None => rows
          }
          ordered.foreach { r =>
            val key = r.getString(kIdx)
            // Kirsch-Mitzenmacher double hashing: two seeded 32-bit
            // murmurs span numHashes probe positions (fixed seeds keep
            // the admitted set replay- and engine-deterministic)
            val h1 = scala.util.hashing.MurmurHash3.stringHash(key, 0x9747b28c)
            val h2 = scala.util.hashing.MurmurHash3.stringHash(key, 0x85ebca6b) | 1
            var maybeSeen = true
            var i = 0
            while (i < kHashes && maybeSeen) {
              val pos = (((h1.toLong + i.toLong * h2.toLong) % mBits + mBits) % mBits).toInt
              if ((bits(pos >>> 3) & (1 << (pos & 7))) == 0) maybeSeen = false
              i += 1
            }
            if (!maybeSeen) {
              var j = 0
              while (j < kHashes) {
                val pos = (((h1.toLong + j.toLong * h2.toLong) % mBits + mBits) % mBits).toInt
                bits(pos >>> 3) = (bits(pos >>> 3) | (1 << (pos & 7))).toByte
                j += 1
              }
              inserted += 1
              out += Row.fromSeq(r.toSeq.take(n))
            }
          }
          // write the shard back ONLY when a bit changed: an unconditional
          // update rewrites the full bitset (1 MiB at the default shard
          // size) as one kryo value per shard per micro-batch — numShards ×
          // bitsPerShard/8 of RocksDB write amplification even for batches
          // that admitted nothing. A no-insert batch leaves the stored
          // value (or its absence) bit-identical, so skipping is safe.
          if (inserted != st.inserted) state.update(BloomShard(bits, inserted))
          out.iterator
      }(Encoders.kryo[BloomShard], outEnc)
  }

  /** APPROXIMATE unique:deduplicate with FIXED-SIZE state — the
    * windowed companion of [[firstStreamBloom]]. The exact operator
    * (reference: DeduplicateStreamProcessor.java:155-178; here:
    * deduplicateStream / deduplicateStreamExact) holds one entry per
    * distinct key seen in the last interval — at 100 TB event rates that
    * is still billions of in-window keys. This variant holds TWO Bloom
    * banks per shard and rotates them on event-time interval boundaries:
    * bank `cur` covers epoch e = floor(ts/intervalMs), bank `prev`
    * covers e−1, so membership of (cur ∪ prev) always spans at least
    * intervalMs behind the newest event. Rotation zeroes the retiring
    * bank — state never grows AND never needs per-key eviction scans.
    *
    * Approximation contract (both sides documented, neither silent):
    *  - a duplicate within intervalMs of its kept event is ALWAYS
    *    dropped (the kept insert still sits in cur or prev — no false
    *    admits within the window, beyond Bloom's ε on brand-new keys);
    *  - a revisit between intervalMs and 2×intervalMs MAY also be
    *    dropped (its insert can still sit in prev — the effective
    *    window is [intervalMs, 2×intervalMs), the standard rotating-
    *    filter tradeoff); at ≥ 2×intervalMs it is readmitted (modulo
    *    Bloom ε from other keys' bits). Like the reference, drops do
    *    not refresh the window — it anchors at the KEPT event.
    *
    * Event time is taken from the rows themselves (`tsCol`), processed
    * in `seqCol` order within a micro-batch; monotone-ish stream time is
    * assumed like the reference's single-threaded model — an out-of-
    * order row older than the prev bank is membership-checked against
    * the banks it can see (it cannot re-open a zeroed bank).
    * Deterministic: fixed hash seeds + seq ordering.
    *
    * Output: admitted rows only (the reference's deduplicate emits no
    * expired stream — getReturnAttributes empty, DeduplicateTestCase
    * .java:84-86).
    */
  def deduplicateStreamBloom(sdf: DataFrame, keys: Seq[String], tsCol: String,
                             intervalMs: Long,
                             numShards: Int = 64, bitsPerShard: Int = 1 << 23,
                             numHashes: Int = 5,
                             seqCol: Option[String] = None): DataFrame = {
    require(intervalMs > 0, s"intervalMs must be positive, got $intervalMs")
    require(numShards > 0 && bitsPerShard > 0 && numHashes > 0,
      s"numShards/bitsPerShard/numHashes must be positive, " +
        s"got $numShards/$bitsPerShard/$numHashes")
    val inSchema = sdf.schema
    val keyed = sdf.withColumn("__k", jsonKey(keys))
      .withColumn("__shard", pmod(xxhash64(col("__k")), lit(numShards)).cast("int"))
    val kIdx = keyed.schema.fieldIndex("__k")
    val tIdx = keyed.schema.fieldIndex(tsCol)
    val sIdx = seqCol.map(keyed.schema.fieldIndex)
    val shIdx = keyed.schema.fieldIndex("__shard")
    val rowEnc = Encoders.row(keyed.schema)
    val outEnc = Encoders.row(inSchema)
    val n = inSchema.length
    val mBits = bitsPerShard.toLong
    val kHashes = numHashes
    val nBytes = (bitsPerShard + 7) / 8
    keyed.as(rowEnc)
      .groupByKey((r: Row) => r.getInt(shIdx))(Encoders.scalaInt)
      .flatMapGroupsWithState[BloomDedupShard, Row](OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[Row], state: GroupState[BloomDedupShard]) =>
          var st = state.getOption.getOrElse(
            BloomDedupShard(Long.MinValue, new Array[Byte](nBytes), new Array[Byte](nBytes)))
          var dirty = false // write state back only if a rotation or bit-set happened
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          val ordered = sIdx match {
            case Some(i) => sortedBySeq(rows, i)
            case None => rows
          }
          def positions(key: String): Array[Int] = {
            val h1 = scala.util.hashing.MurmurHash3.stringHash(key, 0x9747b28c)
            val h2 = scala.util.hashing.MurmurHash3.stringHash(key, 0x85ebca6b) | 1
            Array.tabulate(kHashes)(i =>
              (((h1.toLong + i.toLong * h2.toLong) % mBits + mBits) % mBits).toInt)
          }
          def has(bits: Array[Byte], ps: Array[Int]): Boolean =
            ps.forall(p => (bits(p >>> 3) & (1 << (p & 7))) != 0)
          ordered.foreach { r =>
            val ts = r.get(tIdx) match {
              case t: java.sql.Timestamp => t.getTime
              case t: java.time.Instant => t.toEpochMilli
              case n2: java.lang.Number => n2.longValue
              case other => throw new IllegalArgumentException(
                s"ts column must be timestamp or numeric millis, got " +
                  s"${if (other == null) "null" else other.getClass.getName}")
            }
            val epoch = Math.floorDiv(ts, intervalMs)
            if (epoch > st.epoch) {
              // rotate: the cur bank retires to prev if adjacent, both
              // zero if the stream jumped a whole epoch (re-use the
              // retiring array as the fresh bank — no reallocation)
              val fresh = st.prev
              java.util.Arrays.fill(fresh, 0.toByte)
              st =
                if (epoch == st.epoch + 1) BloomDedupShard(epoch, fresh, st.cur)
                else {
                  java.util.Arrays.fill(st.cur, 0.toByte)
                  BloomDedupShard(epoch, fresh, st.cur)
                }
              dirty = true
            }
            val ps = positions(r.getString(kIdx))
            if (!has(st.cur, ps) && !has(st.prev, ps)) {
              val bits = st.cur
              ps.foreach(p => bits(p >>> 3) = (bits(p >>> 3) | (1 << (p & 7))).toByte)
              dirty = true
              out += Row.fromSeq(r.toSeq.take(n))
            }
          }
          // all-duplicate batches leave both banks bit-identical — skip the
          // 2×bank kryo rewrite (see firstStreamBloom's write-amp note)
          if (dirty) state.update(st)
          out.iterator
      }(Encoders.kryo[BloomDedupShard], outEnc)
  }

  /** unique:deduplicate — drop re-occurrences within intervalMs of the
    * kept event (DeduplicateStreamProcessor.java:155-178). Watermarked
    * dedup bounds the state exactly like the reference's insertion-order
    * eviction scan.
    */
  def deduplicateStream(sdf: DataFrame, keys: Seq[String], tsCol: String,
                        intervalMs: Long): DataFrame =
    sdf.withWatermark(tsCol, s"$intervalMs milliseconds")
      .dropDuplicatesWithinWatermark(keys)

  /** unique:timeBatch / firstTimeBatch / externalTimeBatch — tumbling
    * event-time batches holding latest/first per key
    * (UniqueTimeBatchWindowProcessor.java:203-266,
    * UniqueExternalTimeBatchWindowProcessor.java:303-326). Watermark +
    * windowed max_by/min_by; each batch emits on watermark passage
    * (append mode), the streaming analog of the reference's flush.
    * delayMs=0 reproduces the reference's monotonic-input model.
    */
  def timeBatchStream(sdf: DataFrame, keys: Seq[String], seqCol: String,
                      tsCol: String, windowMs: Long, delayMs: Long = 0L,
                      keepFirst: Boolean = false, startMs: Long = 0L): DataFrame = {
    val allCols = struct(sdf.columns.map(col): _*)
    val pick = if (keepFirst) min_by(allCols, col(seqCol)) else max_by(allCols, col(seqCol))
    // startMs = the reference's optional start.time phase offset
    // (UniqueTimeBatchWindowProcessor.java getNextEmitTime:302-305) —
    // window()'s startTime shifts the tumbling grid by the same modulo
    val w = window(col(tsCol), s"$windowMs milliseconds", s"$windowMs milliseconds",
      s"${math.floorMod(startMs, windowMs)} milliseconds")
    sdf.withWatermark(tsCol, s"$delayMs milliseconds")
      .groupBy((w +: keys.map(col)): _*)
      .agg(pick.as("__row"))
      .select((sdf.columns.map(c => col(s"__row.`$c`").as(c)) :+
        unix_millis(col("window.start")).as("batch_start_ms")): _*)
  }

  // ------------------------------------------------------------------
  // Tier 2 — custom keyed state (flatMapGroupsWithState)
  // ------------------------------------------------------------------

  /** unique:ever — latest per key forever; each replacement emits the
    * replaced row tagged "expire" alongside the new "insert"
    * (UniqueEverWindowProcessor.java:143-169). Update output mode.
    * Output schema = input + `change` string column.
    */
  def everStream(sdf: DataFrame, keys: Seq[String]): DataFrame =
    everStream(sdf, keys, seqCol = None)

  /** `seqCol = Some(c)` sorts each group's rows by `c` WITHIN a
    * micro-batch before folding — arrival order inside a micro-batch is
    * otherwise unspecified post-shuffle, and replay verification feeds
    * thousands of events per micro-batch (the reference's single input
    * thread makes this ordering implicit; a real deployment feeding one
    * event per trigger never needs it).
    */
  def everStream(sdf: DataFrame, keys: Seq[String], seqCol: Option[String]): DataFrame = {
    val inSchema = sdf.schema
    val outSchema = inSchema.add("change", "string")
    val keyed = sdf.withColumn("__k", jsonKey(keys))
    val kIdx = keyed.schema.fieldIndex("__k")
    val sIdx = seqCol.map(keyed.schema.fieldIndex)
    val rowEnc = Encoders.row(keyed.schema)
    val outEnc = Encoders.row(outSchema)
    val stateEnc = Encoders.kryo[Row]
    val n = inSchema.length
    keyed.as(rowEnc)
      .groupByKey((r: Row) => r.getString(kIdx))(Encoders.STRING)
      .flatMapGroupsWithState[Row, Row](OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          val latest = foldChangeLog(state.getOption.orNull, rows, sIdx, n, out)
          if (latest != null) state.update(latest)
          out.iterator
      }(stateEnc, outEnc)
  }

  /** unique:ever with BOUNDED state: keys idle (no event) for longer than
    * `ttlMs` of event time are evicted silently — a later event for an
    * evicted key is treated as brand new ('insert' with no preceding
    * 'expire'), every other key behaves exactly like `everStream`. This
    * is the state-size knob the reference lacks for its ever window
    * (UniqueEverWindowProcessor.java:66-69 documents the unbounded-map
    * OOM risk and offers no mitigation); combined with
    * `useRocksDBStateStore` it makes billion-key `ever` deployable.
    * Requires delayMs >= 0 (watermark on tsCol drives the eviction).
    */
  def everStreamTtl(sdf: DataFrame, keys: Seq[String], tsCol: String,
                    ttlMs: Long, delayMs: Long = 0L,
                    seqCol: Option[String] = None): DataFrame = {
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    val withWm = sdf.withWatermark(tsCol, s"$delayMs milliseconds")
    val inSchema = sdf.schema
    val outSchema = inSchema.add("change", "string")
    val keyed = withWm.withColumn("__k", jsonKey(keys))
    val kIdx = keyed.schema.fieldIndex("__k")
    val tsIdx = keyed.schema.fieldIndex(tsCol)
    val sIdx = seqCol.map(keyed.schema.fieldIndex)
    val rowEnc = Encoders.row(keyed.schema)
    val outEnc = Encoders.row(outSchema)
    val stateEnc = Encoders.kryo[Row]
    val n = inSchema.length
    keyed.as(rowEnc)
      .groupByKey((r: Row) => r.getString(kIdx))(Encoders.STRING)
      .flatMapGroupsWithState[Row, Row](OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          if (state.hasTimedOut) {
            state.remove() // silent eviction — the key is simply forgotten
          } else {
            val latest = foldChangeLog(state.getOption.orNull, rows, sIdx, n, out)
            if (latest != null) {
              state.update(latest)
              // Clamp to just past the watermark: Spark feeds allowed-late
              // rows into flatMapGroupsWithState, so a key whose latest
              // event has ts + ttl <= watermark would otherwise make
              // setTimeoutTimestamp throw ("timeout timestamp cannot be
              // earlier than watermark") and fail the whole query. Such a
              // key is already due — clamping evicts it at the next trigger.
              val due = latest.getAs[java.sql.Timestamp](tsIdx).getTime + ttlMs
              state.setTimeoutTimestamp(math.max(due, state.getCurrentWatermarkMs() + 1))
            }
          }
          out.iterator
      }(stateEnc, outEnc)
  }

  /** unique:ever on Spark 4's `transformWithState` — the modern arbitrary-
    * state API (SPARK-46815): typed per-key `ValueState` with an optional
    * BUILT-IN processing-time TTL (the engine evicts idle keys; no manual
    * timeout bookkeeping like everStreamTtl's), schema-evolution-capable
    * state, and first-class RocksDB backing. Semantics match `everStream`
    * exactly (latest per key; replacement emits "expire"); with `ttl` set,
    * a key idle longer than the TTL is forgotten silently, the
    * wall-clock analog of `everStreamTtl`'s event-time eviction.
    *
    * Requires the RocksDB state store provider (`useRocksDBStateStore`) —
    * transformWithState does not run on the HDFS-backed store. With `ttl`
    * set the query runs in TimeMode.ProcessingTime, where the engine
    * always schedules another micro-batch — `processAllAvailable()` never
    * returns; poll the sink instead (same caveat as ProcessingTimeTimeout).
    */
  def everStreamTws(sdf: DataFrame, keys: Seq[String],
                    seqCol: Option[String] = None,
                    ttl: Option[java.time.Duration] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    val inSchema = sdf.schema
    val outSchema = inSchema.add("change", "string")
    val keyed = sdf.withColumn("__k", jsonKey(keys))
    val keyedSchema = keyed.schema
    val kIdx = keyedSchema.fieldIndex("__k")
    val sIdx = seqCol.map(keyedSchema.fieldIndex)
    val rowEnc = Encoders.row(keyedSchema)
    val outEnc = Encoders.row(outSchema)
    val n = inSchema.length
    val ttlConfig = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
    val timeMode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    val processor = new StatefulProcessor[String, Row, Row] {
      @transient private var latest: org.apache.spark.sql.streaming.ValueState[Row] = _
      override def init(outputMode: OutputMode, tm: TimeMode): Unit =
        latest = getHandle.getValueState[Row]("latest", rowEnc, ttlConfig)
      override def handleInputRows(key: String, rows: Iterator[Row],
                                   timerValues: TimerValues): Iterator[Row] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        val cur = foldChangeLog(if (latest.exists()) latest.get() else null, rows, sIdx, n, out)
        if (cur != null) latest.update(cur)
        out.iterator
      }
    }
    implicit val outRowEnc: org.apache.spark.sql.Encoder[Row] = outEnc
    keyed.as(rowEnc)
      .groupByKey((r: Row) => r.getString(kIdx))(Encoders.STRING)
      .transformWithState[Row](processor, timeMode, OutputMode.Update())
  }

  /** unique:time — sliding window of windowMs holding latest-unique per
    * key; replacement expires the old row immediately, aging-out expires
    * it on watermark passage (UniqueTimeWindowProcessor.java:177-212,
    * scheduler-driven expiry ≈ event-time timeout). Requires an
    * event-time watermark on tsCol upstream. Update output mode; output
    * schema = input + `change`. `seqCol` orders rows within a micro-batch
    * (same rationale as everStream's seqCol).
    */
  def timeStream(sdf: DataFrame, keys: Seq[String], tsCol: String,
                 windowMs: Long, delayMs: Long = 0L,
                 seqCol: Option[String] = None): DataFrame = {
    val withWm = sdf.withWatermark(tsCol, s"$delayMs milliseconds")
    val inSchema = sdf.schema
    val outSchema = inSchema.add("change", "string")
    val keyed = withWm.withColumn("__k", jsonKey(keys))
    val kIdx = keyed.schema.fieldIndex("__k")
    val tsIdx = keyed.schema.fieldIndex(tsCol)
    val sIdx = seqCol.map(keyed.schema.fieldIndex)
    val rowEnc = Encoders.row(keyed.schema)
    val outEnc = Encoders.row(outSchema)
    val stateEnc = Encoders.kryo[Row]
    val n = inSchema.length
    keyed.as(rowEnc)
      .groupByKey((r: Row) => r.getString(kIdx))(Encoders.STRING)
      .flatMapGroupsWithState[Row, Row](OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          if (state.hasTimedOut) {
            // latest row aged out of the sliding window
            state.getOption.foreach(r => out += Row.fromSeq(r.toSeq.take(n) :+ "expire"))
            state.remove()
          } else {
            val latest = foldChangeLog(state.getOption.orNull, rows, sIdx, n, out)
            if (latest != null) {
              state.update(latest)
              val expireAtMs = latest.getAs[java.sql.Timestamp](tsIdx).getTime + windowMs
              state.setTimeoutTimestamp(expireAtMs)
            }
          }
          out.iterator
      }(stateEnc, outEnc)
  }

  /** unique:deduplicate with the reference's EXACT re-admission timing:
    * first-wins per key, a duplicate is dropped iff its ts is within
    * intervalMs of the last KEPT event, dropped duplicates do not refresh
    * the interval (DeduplicateStreamProcessor.java:158-176, strict
    * eviction ms - lastKept > intervalMs). The built-in
    * `deduplicateStream` (dropDuplicatesWithinWatermark) is the
    * Spark-idiomatic path but re-admits on WATERMARK passage, which lags
    * the reference's event-time condition by up to intervalMs; this twin
    * matches the batch `UniqueOps.deduplicate` fold bit-for-bit.
    *
    * State per key = one long (last kept ms), evicted by event-time
    * timeout once the watermark passes lastKept + intervalMs + delayMs
    * (after which the state can no longer affect any non-late event) —
    * bounded state, no manual TTL needed. Rows are processed in (ts, seq)
    * order within each micro-batch, the batch operator's secondary-sort
    * order. Append-shaped output (kept rows only, input schema).
    */
  def deduplicateStreamExact(sdf: DataFrame, keys: Seq[String], seqCol: String,
                             tsCol: String, intervalMs: Long,
                             delayMs: Long = 0L): DataFrame = {
    val withWm = sdf.withWatermark(tsCol, s"$delayMs milliseconds")
    val inSchema = sdf.schema
    val keyed = withWm.withColumn("__k", jsonKey(keys))
    val kIdx = keyed.schema.fieldIndex("__k")
    val tsIdx = keyed.schema.fieldIndex(tsCol)
    val sIdx = keyed.schema.fieldIndex(seqCol)
    val rowEnc = Encoders.row(keyed.schema)
    val outEnc = Encoders.row(inSchema)
    val n = inSchema.length
    keyed.as(rowEnc)
      .groupByKey((r: Row) => r.getString(kIdx))(Encoders.STRING)
      .flatMapGroupsWithState[Long, Row](OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove() // interval elapsed for every possible event — forget the key
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            var lastKept = state.getOption.getOrElse(Long.MinValue)
            rows.toSeq
              .sortBy(r => (r.getAs[java.sql.Timestamp](tsIdx).getTime, seqLong(r, sIdx)))
              .foreach { r =>
                val ms = r.getAs[java.sql.Timestamp](tsIdx).getTime
                if (lastKept == Long.MinValue || ms - lastKept > intervalMs) {
                  lastKept = ms
                  out += Row.fromSeq(r.toSeq.take(n))
                }
              }
            if (lastKept != Long.MinValue) {
              state.update(lastKept)
              state.setTimeoutTimestamp(math.max(lastKept + intervalMs + delayMs + 1,
                state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }(Encoders.scalaLong, outEnc)
  }

  // ------------------------------------------------------------------
  // Tier 2b — global-order stateful ops (length / lengthBatch /
  // timeLengthBatch). Their reference semantics depend on a GLOBAL
  // arrival order and a global distinct count
  // (UniqueLengthBatchWindowProcessor.java:165, SURVEY.md §7.4.3), so the
  // trigger decision runs in a single keyed group — the same scale
  // ceiling as the reference's single JVM, documented and deliberate.
  // Rows are processed in seqCol order within each micro-batch to make
  // arrival order explicit (the reference relies on its input thread).
  // ------------------------------------------------------------------

  private def emptyGlobal = GlobalState(Nil, Set.empty, Nil, Nil, 0L, latched = false)

  /** unique:length — sliding window of the last n distinct keys
    * (UniqueLengthWindowProcessor.java:135-168): dup key replaces in place
    * (old row expires), overflow evicts the least-recently-seen key.
    * Update mode; output = input + change.
    */
  def lengthStream(sdf: DataFrame, keys: Seq[String], seqCol: String, n: Int): DataFrame = {
    val inSchema = sdf.schema
    val outSchema = inSchema.add("change", "string")
    val keyed = sdf.withColumn("__k", jsonKey(keys))
    val kIdx = keyed.schema.fieldIndex("__k")
    val sIdx = keyed.schema.fieldIndex(seqCol)
    val rowEnc = Encoders.row(keyed.schema)
    val outEnc = Encoders.row(outSchema)
    val stateEnc = Encoders.kryo[GlobalState]
    val nCols = inSchema.length
    keyed.as(rowEnc)
      .groupByKey((_: Row) => 0)(Encoders.scalaInt)
      .flatMapGroupsWithState[GlobalState, Row](OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[Row], state: GroupState[GlobalState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          var st = state.getOption.getOrElse(emptyGlobal)
          sortedBySeq(rows, sIdx).foreach { r =>
            val k = r.getString(kIdx)
            val existing = st.order.find(_._1 == k)
            existing.foreach { case (_, old) =>
              out += Row.fromSeq(old.toSeq.take(nCols) :+ "expire")
            }
            var order = st.order.filterNot(_._1 == k) :+ (k -> r)
            if (existing.isEmpty && order.length > n) {
              val (_, evicted) = order.head
              out += Row.fromSeq(evicted.toSeq.take(nCols) :+ "expire")
              order = order.tail
            }
            out += Row.fromSeq(r.toSeq.take(nCols) :+ "insert")
            st = st.copy(order = order)
          }
          state.update(st)
          out.iterator
      }(stateEnc, outEnc)
  }

  /** unique:lengthBatch / firstLengthBatch — batch fills at n distinct
    * keys then flushes: current batch tagged "insert" with batch_id, the
    * previous batch re-emitted "expire"
    * (UniqueLengthBatchWindowProcessor.java:165-197). Update mode; output
    * = input + change + batch_id. Nothing is emitted until a batch fills.
    */
  def lengthBatchStream(sdf: DataFrame, keys: Seq[String], seqCol: String, n: Int,
                        keepFirst: Boolean = false): DataFrame = {
    val inSchema = sdf.schema
    val outSchema = inSchema.add("change", "string").add("batch_id", "long")
    val keyed = sdf.withColumn("__k", jsonKey(keys))
    val kIdx = keyed.schema.fieldIndex("__k")
    val sIdx = keyed.schema.fieldIndex(seqCol)
    val rowEnc = Encoders.row(keyed.schema)
    val outEnc = Encoders.row(outSchema)
    val stateEnc = Encoders.kryo[GlobalState]
    val nCols = inSchema.length
    keyed.as(rowEnc)
      .groupByKey((_: Row) => 0)(Encoders.scalaInt)
      .flatMapGroupsWithState[GlobalState, Row](OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[Row], state: GroupState[GlobalState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          var st = state.getOption.getOrElse(emptyGlobal)
          sortedBySeq(rows, sIdx).foreach { r =>
            val k = r.getString(kIdx)
            // within-batch keep latest (or first) per key
            val dup = st.pending.exists(_.getString(kIdx) == k)
            val pending =
              if (!dup) st.pending :+ r
              else if (keepFirst) st.pending
              else st.pending.filterNot(_.getString(kIdx) == k) :+ r
            st = st.copy(batchKeys = st.batchKeys + k, pending = pending)
            if (st.batchKeys.size == n) { // flush
              st.prevBatch.foreach(p =>
                out += Row.fromSeq(p.toSeq.take(nCols) ++ Seq("expire", st.batchId - 1)))
              st.pending.foreach(p =>
                out += Row.fromSeq(p.toSeq.take(nCols) ++ Seq("insert", st.batchId)))
              st = GlobalState(Nil, Set.empty, Nil, st.pending, st.batchId + 1, latched = false)
            }
          }
          state.update(st)
          out.iterator
      }(stateEnc, outEnc)
  }

  /** unique:externalTimeBatch with `time.out` — event-time batches driven
    * by the monotonic timestamp attribute, anchored at the first event;
    * an idle processing-time timeout flushes the open batch early, and
    * later same-batch events re-emit the batch MERGED with the already-
    * sent rows (sentEvents append-flush,
    * UniqueExternalTimeBatchWindowProcessor.java:279-298, 403-452).
    * Emitted rows carry `flush_kind` ("close" | "timeout" | "append") and
    * `batch_end_ms`. Update mode. Processing-time timeouts need a
    * periodic trigger (e.g. Trigger.ProcessingTime) to fire on idle.
    *
    * `startMs` aligns batch boundaries to the reference's optional
    * `start.time` grid instead of anchoring at the first event.
    * `timeOutMs <= 0` disables the idle flush entirely (the reference's
    * no-`time.out` form, UniqueExternalTimeBatchWindowProcessor.java:200-208):
    * batches close only when a later event crosses the boundary. This form
    * uses NoTimeout, so `processAllAvailable()` works (with
    * ProcessingTimeTimeout the engine always claims another batch is due
    * and processAllAvailable never returns — replay/verification must use
    * the no-timeout form).
    *
    * `flushMarkerCol`: name of a boolean input column marking FLUSH
    * COMMANDS. A row with the marker set is not an event; processed at its
    * seq position, it drives exactly the idle-timeout branch (the
    * reference's TIMER event, UniqueExternalTimeBatchWindowProcessor
    * .java:279-298) through the same emit logic — a test clock that makes
    * the time.out path deterministically replayable (and DuckDB-
    * verifiable) instead of wall-clock-driven. Production streams leave it
    * None and use `timeOutMs`.
    */
  def externalTimeBatchStream(sdf: DataFrame, keys: Seq[String], seqCol: String,
                              tsCol: String, windowMs: Long,
                              timeOutMs: Long,
                              startMs: Option[Long] = None,
                              flushMarkerCol: Option[String] = None): DataFrame = {
    val inSchema = sdf.schema
    val outSchema = inSchema.add("flush_kind", "string").add("batch_end_ms", "long")
    val keyed = sdf.withColumn("__k", jsonKey(keys))
    val kIdx = keyed.schema.fieldIndex("__k")
    val sIdx = keyed.schema.fieldIndex(seqCol)
    val tsIdx = keyed.schema.fieldIndex(tsCol)
    val mIdx = flushMarkerCol.map(keyed.schema.fieldIndex)
    val rowEnc = Encoders.row(keyed.schema)
    val outEnc = Encoders.row(outSchema)
    val stateEnc = Encoders.kryo[EtbState]
    val nCols = inSchema.length
    val timeout =
      if (timeOutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.as(rowEnc)
      .groupByKey((_: Row) => 0)(Encoders.scalaInt)
      .flatMapGroupsWithState[EtbState, Row](OutputMode.Update(), timeout) {
        (_: Int, rows: Iterator[Row], state: GroupState[EtbState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          def emit(st: EtbState, kind: String): Unit =
            st.batch.foreach { case (_, r) =>
              out += Row.fromSeq(r.toSeq.take(nCols) ++ Seq(kind, st.endTimeMs))
            }
          // the reference's TIMER branch (UniqueExternalTimeBatchWindowProcessor
          // .java:279-289): first idle fire flushes, later idle fires re-emit
          // the batch MERGED with rows sent already — but only if new events
          // arrived since the last emit (`currentEvents.size() > 0` guard)
          def idleFlush(st: EtbState): EtbState =
            if (st.batch.nonEmpty && st.dirty) {
              emit(st, if (st.sentIdle) "append" else "timeout")
              st.copy(sentIdle = true, dirty = false)
            } else st
          if (state.hasTimedOut) {
            state.getOption.foreach(st => state.update(idleFlush(st)))
          } else {
            var st = state.getOption.getOrElse(
              EtbState(Long.MinValue, Nil, sentIdle = false, dirty = false))
            sortedBySeq(rows, sIdx).foreach { r =>
              if (mIdx.exists(i => !r.isNullAt(i) && r.getBoolean(i))) {
                st = idleFlush(st) // flush command, not an event
              } else {
                val ts = r.getAs[java.sql.Timestamp](tsIdx).getTime
                if (st.endTimeMs == Long.MinValue) {
                  // anchor at the first event, or on the start.time grid when
                  // given (findEndTime modulo arithmetic,
                  // UniqueExternalTimeBatchWindowProcessor.java:454-458)
                  val end = startMs match {
                    case Some(s0) => s0 + (Math.floorDiv(ts - s0, windowMs) + 1) * windowMs
                    case None => ts + windowMs
                  }
                  st = st.copy(endTimeMs = end)
                }
                while (ts >= st.endTimeMs) { // batch closes (monotonic input)
                  // after an idle flush, a close with NO new events emits
                  // nothing: the reference's appendToOutputChunk is a no-op
                  // when currentEvents is empty (java:412 outer guard) —
                  // everything in the batch was already sent
                  if (st.batch.nonEmpty && (!st.sentIdle || st.dirty))
                    emit(st, if (st.sentIdle) "append" else "close")
                  st = EtbState(st.endTimeMs + windowMs, Nil, sentIdle = false, dirty = false)
                }
                val k = r.getString(kIdx)
                st = st.copy(batch = st.batch.filterNot(_._1 == k) :+ (k -> r), dirty = true)
              }
            }
            state.update(st)
            if (timeOutMs > 0) state.setTimeoutDuration(timeOutMs)
          }
          out.iterator
      }(stateEnc, outEnc)
  }

  /** unique:timeLengthBatch — tumbling event-time batch flushed on the
    * time boundary OR on n distinct keys, whichever first; after a length
    * flush, remaining same-batch events are dropped (the eventSent latch,
    * UniqueTimeLengthBatchWindowProcessor.java:254-290). Time flushes are
    * event-driven (first event of a later batch closes the previous one) —
    * the event-time reinterpretation of the reference's scheduler.
    * FULL change log: every flush also re-emits the PREVIOUS flushed batch
    * tagged "expire" with its own batch_start_ms (expiredEventChunk
    * re-emission, UniqueTimeLengthBatchWindowProcessor.java:304-336), so
    * the last flushed batch is the only one never expired. `keepFirst`
    * holds the first event per key instead of the latest (the first*
    * subclass insert-direction flip) — with a never-reached `n` this is
    * also firstTimeBatch's change-log form.
    * Update mode; output = input + change + batch_start_ms.
    */
  def timeLengthBatchStream(sdf: DataFrame, keys: Seq[String], seqCol: String,
                            tsCol: String, windowMs: Long, n: Int,
                            keepFirst: Boolean = false): DataFrame = {
    val inSchema = sdf.schema
    val outSchema = inSchema.add("change", "string").add("batch_start_ms", "long")
    val keyed = sdf.withColumn("__k", jsonKey(keys))
    val kIdx = keyed.schema.fieldIndex("__k")
    val sIdx = keyed.schema.fieldIndex(seqCol)
    val tsIdx = keyed.schema.fieldIndex(tsCol)
    val rowEnc = Encoders.row(keyed.schema)
    val outEnc = Encoders.row(outSchema)
    val stateEnc = Encoders.kryo[GlobalState]
    val nCols = inSchema.length
    keyed.as(rowEnc)
      .groupByKey((_: Row) => 0)(Encoders.scalaInt)
      .flatMapGroupsWithState[GlobalState, Row](OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[Row], state: GroupState[GlobalState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          var st = state.getOption.getOrElse(emptyGlobal)
          def flush(flushBatchId: Long): Unit = {
            st.prevBatch.foreach(p =>
              out += Row.fromSeq(p.toSeq.take(nCols) ++
                Seq("expire", st.prevBatchId * windowMs)))
            st.pending.foreach(p =>
              out += Row.fromSeq(p.toSeq.take(nCols) ++
                Seq("insert", flushBatchId * windowMs)))
            st = st.copy(batchKeys = Set.empty, pending = Nil, latched = true,
              prevBatch = st.pending, prevBatchId = flushBatchId)
          }
          sortedBySeq(rows, sIdx).foreach { r =>
            val eventBatch = r.getAs[java.sql.Timestamp](tsIdx).getTime / windowMs
            if (eventBatch > st.batchId) { // time boundary crossed
              if (st.pending.nonEmpty) flush(st.batchId)
              st = st.copy(batchId = eventBatch, batchKeys = Set.empty,
                pending = Nil, latched = false)
            }
            if (!st.latched) {
              val k = r.getString(kIdx)
              val dup = st.pending.exists(_.getString(kIdx) == k)
              val pending =
                if (!dup) st.pending :+ r
                else if (keepFirst) st.pending
                else st.pending.filterNot(_.getString(kIdx) == k) :+ r
              st = st.copy(batchKeys = st.batchKeys + k, pending = pending)
              if (st.batchKeys.size == n) flush(st.batchId) // length flush + latch
            } // latched: drop until next boundary
          }
          state.update(st)
          out.iterator
      }(stateEnc, outEnc)
  }
}
