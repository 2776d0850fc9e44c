package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, Tables}
import graft.streaming.UniqueStreams

/** Benchmark harness: one JVM per run. It sets the session up, writes
  * every checked output for the oracle gate (untimed), runs timed passes
  * over the workload's registry rows or stream operators, and writes
  * `result.json` for `run.py`. With `--trace 1` the timed passes run with
  * Spark's listeners installed and report per-layer statistics.
  *
  * Usage: Harness --workload unique_batch|curation_batch|unique_stream
  *   --data DIR --out DIR --seconds S --trace 0|1 --rows a,b,c [--min-passes N]
  *   [--chunk N --open-rate EPS --open-seconds S] [--plant none|wrong|throw]
  */
object Harness {
  private val DAY = 86400000L
  private val WEEK = 7 * DAY

  /** One stream operator: the builder and feed order of its registry
    * `*_stream_replay` row (same parameters), whose oracle checks it. */
  final case class StreamOp(build: DataFrame => DataFrame, feedCol: String, mode: String,
                            replayRow: String)

  val streamOps: Map[String, StreamOp] = Map(
    "first" -> StreamOp(UniqueStreams.firstStream(_, Seq("user_id"), "event_id"),
      "event_id", "update", "first_stream_replay"),
    "ever" -> StreamOp(UniqueStreams.everStream(_, Seq("user_id"), Some("event_id")),
      "event_id", "update", "ever_stream_replay"),
    "ever_tws" -> StreamOp(UniqueStreams.everStreamTws(_, Seq("user_id"), Some("event_id")),
      "event_id", "update", "ever_tws_stream_replay"),
    "deduplicate" -> StreamOp(
      UniqueStreams.deduplicateStreamExact(_, Seq("user_id"), "event_id", "ts", DAY),
      "event_id", "update", "deduplicate_stream_replay"),
    "time" -> StreamOp(
      UniqueStreams.timeStream(_, Seq("user_id"), "ts", WEEK, seqCol = Some("event_id")),
      "event_id", "update", "time_stream_replay"),
    "timebatch" -> StreamOp(
      UniqueStreams.timeBatchStream(_, Seq("user_id"), "event_id", "ts", DAY),
      "ts", "append", "timebatch_stream_replay"),
    "lengthbatch" -> StreamOp(
      UniqueStreams.lengthBatchStream(_, Seq("user_id"), "event_id", 40),
      "event_id", "update", "lengthbatch_stream_replay"),
  )

  final class Planted(kind: String) extends RuntimeException(s"planted $kind failure")

  private val born = System.nanoTime()
  /** Progress line on stderr (run.py keeps it in the run's harness.log). */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%8.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dataDir = opt("data")
    val outDir = opt("out")
    val seconds = opt("seconds").toDouble
    val minPasses = opt.getOrElse("min-passes", "1").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val plant = opt.getOrElse("plant", "none")
    val rows = opt("rows").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val isStream = workload == "unique_stream"
    val cpus = Runtime.getRuntime.availableProcessors
    val work = Paths.get(outDir).toAbsolutePath
    val res = new Json.Obj

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      if (isStream) UniqueStreams.useRocksDBStateStore(s)
      s
    }

    // Set-up = session start, one small query, and reading each input
    // table once (the stream workload keeps its events on the driver);
    // timed three times, the first from JVM start, and reported as the
    // median.
    var events: Array[Row] = Array.empty
    def setUp(spark: SparkSession): Unit = {
      spark.range(1000).selectExpr("sum(id)").collect()
      Files.list(Paths.get(dataDir)).toArray.map(_.toString).filter(_.endsWith(".parquet"))
        .foreach(p => spark.read.parquet(p).count())
      if (isStream) events = Tables.events(spark, dataDir).orderBy("event_id").collect()
    }

    val setups = mutable.ArrayBuffer.empty[Double]
    var spark = session()
    setUp(spark)
    setups += (System.currentTimeMillis() - jvmStartMs) / 1e3
    for (_ <- 1 to 2) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = session()
      setUp(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    log(s"set-ups: ${setups.mkString(", ")}")
    res("setup_s") = setups.toSeq
    res("cpus") = cpus

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def guard[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case NonFatal(e) =>
        failed += 1
        errors += s"$what: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"
        None
      }
    }
    val checks = mutable.ArrayBuffer.empty[Json.Obj]
    def checked(row: String, check: String, df: DataFrame): Unit = {
      val path = work.resolve("outputs").resolve(row).toString
      val out = if (plant == "wrong" && checks.isEmpty) df.union(df.limit(1)) else df
      if (guard(s"write $check")(out.coalesce(1).write.mode("overwrite").parquet(path)).isDefined) {
        val c = new Json.Obj
        c("row") = row; c("check") = check; c("path") = path
        c("sql") = SparkEntry.oracleSql(check)
        checks += c
      }
    }

    val passes = mutable.ArrayBuffer.empty[Json.Obj]
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val sc = spark.sparkContext

    /** Timed passes over `items`: at least `minPasses`, and another only
      * while at least half of it still fits in `seconds`. `run(item, index,
      * pass, record)` makes the timed call(s) and says whether they
      * succeeded. */
    def timedPasses(items: Seq[String])(run: (String, Int, Int, Json.Obj) => Boolean): Unit = {
      tracer.foreach(_.install())
      val t0 = System.nanoTime()
      var p = 0
      def el = (System.nanoTime() - t0) / 1e9
      while (p < minPasses || el + el / p / 2 < seconds) {
        val cpu0 = os.getProcessCpuTime
        val w0 = System.nanoTime()
        val qs = items.zipWithIndex.map { case (item, i) =>
          val span = s"p$p/$item"
          val q = new Json.Obj
          q("name") = item
          tracer.foreach(_.open(span))
          sc.setLocalProperty("perfbench.span", span)
          val a = System.nanoTime()
          q("ok") = run(item, i, p, q)
          val secs = (System.nanoTime() - a) / 1e9
          sc.setLocalProperty("perfbench.span", null)
          sc.setLocalProperty("perfbench.layer", null)
          q("query_s") = secs
          tracer.foreach { t =>
            q("cache_leftover") = sc.getPersistentRDDs.size
            t.drain()
            q("layers") = Layers.span(t.stats(span))
          }
          spark.catalog.clearCache()
          log(f"pass $p $item $secs%.3f s")
          q
        }
        val pass = new Json.Obj
        pass("wall_s") = (System.nanoTime() - w0) / 1e9
        pass("cpu_s") = (os.getProcessCpuTime - cpu0) / 1e9
        pass("queries") = qs
        passes += pass
        p += 1
      }
      tracer.foreach(_.remove())
    }

    if (!isStream) {
      val registry = SparkEntry.queries ++ SparkEntry.benchQueries
      val unknown = rows.filterNot(registry.contains)
      require(unknown.isEmpty, s"unknown registry rows: ${unknown.mkString(", ")}")
      // production rows are checked through their `_md5` twin
      def checkOf(r: String): String =
        if (SparkEntry.oracleSql.contains(r)) r
        else Seq(r + "_md5").find(SparkEntry.oracleSql.contains)
          .getOrElse(sys.error(s"registry row $r has no oracle and no _md5 twin"))
      // the oracle gate's outputs, written before the timed passes; this
      // first run of every row is also the warm-up
      rows.foreach { r =>
        val c = checkOf(r)
        guard(s"build $c")(SparkEntry.queries(c)(spark, dataDir)).foreach(checked(r, c, _))
        spark.catalog.clearCache()
        log(s"checked output written: $c")
      }
      timedPasses(rows) { (r, i, _, q) =>
        val a = System.nanoTime()
        sc.setLocalProperty("perfbench.layer", "registry")
        val built = guard(r) {
          if (plant == "throw" && i == 0) throw new Planted("exception")
          registry(r)(spark, dataDir)
        }
        q("registry_s") = (System.nanoTime() - a) / 1e9
        sc.setLocalProperty("perfbench.layer", "exec")
        built.exists(df => guard(r)(df.write.format("noop").mode("overwrite").save()).isDefined)
      }
    } else {
      val chunk = opt("chunk").toInt
      val rate = opt("open-rate").toDouble
      val ops = rows.map(r => r -> streamOps.getOrElse(r, sys.error(s"unknown stream operator $r")))
      val byTs = events.sortBy(_.getAs[java.sql.Timestamp]("ts").getTime)
      def input(op: StreamOp) = if (op.feedCol == "ts") byTs else events
      // warm-up (untimed): every operator over the whole input, as in a
      // timed pass; these runs' outputs are the checked ones
      ops.foreach { case (name, op) =>
        val warm = guard(s"warm-up $name")(closedLoop(spark, op, input(op), chunk, s"pb_warm_$name"))
        if (warm.isDefined) checked(name, op.replayRow, spark.table(s"pb_warm_$name"))
      }
      // closed loop: registry-sized chunks, each processed to completion;
      // each chunk's latency is a query latency sample
      timedPasses(rows) { (name, i, p, q) =>
        val op = streamOps(name)
        q("events") = input(op).length
        guard(name) {
          if (plant == "throw" && i == 0) throw new Planted("exception")
          closedLoop(spark, op, input(op), chunk, s"pb_${name}_$p")
        }.map(lat => q("batches_s") = lat).isDefined
      }
      // open loop, in traced runs only (its latencies are per-layer
      // metrics): one generator thread offers each operator events at a
      // fixed rate; outputs are not checked (watermark batch boundaries
      // depend on timing)
      val openEvents = math.min(events.length, (rate * opt("open-seconds").toDouble).toInt)
      if (trace) res("open_loop") = ops.map { case (name, op) =>
        val o = OpenLoop.run(spark, op, input(op).take(openEvents), rate,
          work.resolve("ckpt").resolve(s"open-$name").toString)
        attempted += o.offered
        failed += o.undrained
        if (o.undrained > 0)
          errors += s"open loop $name: ${o.undrained} events not processed by the drain deadline"
        o.json("name") = name
        log(s"open loop $name: ${o.json.render}")
        o.json
      }
    }

    res("passes") = passes.toSeq
    res("checks") = checks.toSeq
    res("attempted") = attempted
    res("failed") = failed
    res("errors") = errors.toSeq
    Files.writeString(work.resolve("result.json"), res.render)
    spark.stop()
  }

  /** Feed `input` through `op` in chunks of `chunk` rows, each processed
    * to completion, into a memory sink named `sink`; returns each chunk's
    * latency in seconds, from adding it to the end of its processing. */
  def closedLoop(spark: SparkSession, op: StreamOp, input: Array[Row], chunk: Int,
                 sink: String): Seq[Double] = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    implicit val enc = Encoders.row(input.head.schema)
    val stream = MemoryStream[Row]
    val q = op.build(stream.toDF()).writeStream.format("memory").queryName(sink)
      .outputMode(op.mode).start()
    try input.grouped(chunk).map { c =>
      val t = System.nanoTime()
      stream.addData(c.toSeq)
      q.processAllAvailable()
      (System.nanoTime() - t) / 1e9
    }.toVector
    finally q.stop()
  }
}
