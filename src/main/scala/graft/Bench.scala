package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every `SparkEntry.registry` row marked
  * `bench` against SPARK_GRAFT_SF_DIR and prints ONE JSON line. Failures
  * are recorded in an `errors` map (query timing reported as -1), never
  * as a plausible-looking duration.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      }
    // JVM/codegen warm-up so the first timed query isn't charged one-time
    // Spark initialization: a shuffling aggregate over a slice of the real
    // table warms the janino compiler, exchange/shuffle stack, AQE, and
    // parquet reader classes (measured: the alphabetically-first query was
    // otherwise charged ~1.5-2 s of framework warm-up its plan doesn't own)
    spark.range(1000).selectExpr("sum(id)").collect()
    // the warm-up must NEVER kill the run: in round 8 a driver-side testdata
    // regeneration changed events.ts's parquet type and the resulting
    // AnalysisException here (outside any per-query guard) zeroed the whole
    // round's bench record. Warm-up is best-effort; a failure here surfaces
    // as the same per-query errors the guarded loop below would record.
    try {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(spark, sfDir).limit(5000)
      ev.groupBy("user_id")
        .agg(max_by(struct(ev.columns.map(col): _*), col("event_id")).as("r"))
        .groupBy("r.event_type").count().count()
    } catch {
      // NonFatal only: an OutOfMemoryError/StackOverflowError here means the
      // JVM is already compromised — continuing would record misleading
      // per-query timings, so fatal errors must propagate and fail the run
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up failed (continuing): ${e.getMessage}")
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Benchmark = production paths: the registry rows marked `bench`, each
    // with its own build (the verification mirrors are not marked).
    // optional subset for targeted re-measurement (comma-separated names);
    // the driver's per-round run sets no filter and measures everything
    val onlyQ = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val registry = SparkEntry.registry
    // a misspelled filter entry must fail loudly, not silently benchmark nothing
    onlyQ.foreach { qs =>
      val unknown = qs -- registry.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_QUERIES names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}; " +
          s"known: ${registry.keySet.toSeq.sorted.mkString(", ")}")
    }
    val benchable = registry.collect {
      case (n, e) if e.bench && onlyQ.forall(_.contains(n)) => n -> e.build
    }
    // Noise-proofing: a single-shot measurement on a shared/contended box has
    // twice produced a false-alarm official record (r3, r5 — the code was
    // exonerated by idle re-runs both times). Each query therefore runs REPS
    // times and the reported duration is the per-query MIN — the best
    // observation is the one least polluted by external CPU contention, and
    // for a deterministic query it is the closest estimator of the plan's
    // true cost. All repetitions are kept in `queries_all` for transparency.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Sub-0.3 s queries are contention-noise territory: one descheduling
    // event adds 50-100% to a 0.2 s measurement, and three reps have
    // twice produced >1.5× "regressions" on UNCHANGED code in the
    // official record (doc_exact_dedup r11+r12, both exonerated idle).
    // Queries whose min lands under SmallQuerySec get extra repetitions
    // (to smallReps total) — more draws at the true min, costing only
    // fractions of a second precisely because the queries are small.
    val smallSec = 0.3
    val smallReps = math.max(reps,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SMALL_REPS", "5").toInt)
    // persisted RDDs a query registered and left registered (max over its
    // runs), counted before the cache is cleared, so an entry an earlier
    // run left is not charged again: the "no cache entry outlives its
    // query" check, in the full record only
    val leftover = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val results = benchable.toSeq.sortBy(_._1).map { case (name, fn) =>
      def runOnce(): Double = {
        val persisted = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        val ok =
          // noop sink, NOT count(): a bare count(*) lets Catalyst prune
          // the payload — unique-keyed left joins are eliminated whole
          // (doc_dup_span_removal's entire span computation, decontam's
          // contamination join) and pure projections collapse to a row
          // count of the scan. The noop write iterates every column of
          // every row with no serialization, so the measured time is the
          // full operator, matching what Verify's parquet dump executes.
          // (Gate values re-recorded round 9 for the harness change.)
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case scala.util.control.NonFatal(e) =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // isolate queries: operators that persist intermediates (the
        // minhash/simhash/ngram pipelines) would otherwise accumulate
        // cache entries across the whole bench session, stealing memory from
        // later queries. Cleared AFTER timing, so intra-query reuse still counts.
        leftover(name) = leftover.getOrElse(name, 0) max
          (spark.sparkContext.getPersistentRDDs.keySet -- persisted).size
        spark.catalog.clearCache()
        if (ok) elapsed else -1.0
      }
      val base = (1 to reps).map(_ => runOnce())
      val good0 = base.filter(_ >= 0)
      val times =
        if (good0.nonEmpty && good0.min < smallSec && smallReps > reps)
          base ++ (reps until smallReps).map(_ => runOnce())
        else base
      val good = times.filter(_ >= 0)
      name -> (if (good.nonEmpty) good.min else -1.0, times)
    }
    val qs = results.map { case (k, (v, _)) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    val qsAll = results.map { case (k, (_, ts)) => s""""${esc(k)}":[${ts.mkString(",")}]""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    val cl = leftover.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    val total = results.collect { case (_, (v, _)) if v >= 0 => v }.sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_all":$qsAll,"cache_leftover":$cl,"reps":$reps,"errors":$es,"sf":"${esc(sfDir)}"}"""
    // the full record (all repetitions) goes to the file; stdout gets a
    // COMPACT line as the very LAST thing printed. The driver tail-captures
    // only the final ~2 KB of stdout and has three times truncated the full
    // line mid-array (BENCH_r06/r07 lost the first queries; BENCH_r09 parsed
    // null) — so the parseable line must be small: per-query mins rounded to
    // ms, no queries_all.
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    System.err.println(s"bench json written to ${out.toAbsolutePath}")
    def ms3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val qsC = results.map { case (k, (v, _)) => s""""${esc(k)}":${ms3(v)}""" }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$qsC,"reps":$reps,"errors":$es,"sf":"${esc(sfDir)}"}"""
    println(compact)
    System.out.flush()
    spark.stop()
  }
}
