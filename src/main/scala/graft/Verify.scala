package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: the output of every registry row with an
  * oracle (SparkEntry.queries) → parquet, plus oracle_sql.json, for the
  * driver's DuckDB compare; errors.json and timings.json (each row's wall
  * seconds `s`, slowest first, and `cache_leftover`, the persisted RDDs
  * it registered and left registered before the cache is cleared; one an
  * earlier row left is not counted again) beside them. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failing query writes no parquet dir, so the driver's compare simply
    // omits its row — round 8 lost every events-based row this way with the
    // only evidence in an unharvested stderr. Persist failures as
    // errors.json beside the outputs so the record explains its own gaps.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val seconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val leftover = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // local-iteration subset: SPARK_GRAFT_VERIFY_ONLY=q1,q2 runs just those
    // queries (the driver never sets it, so its runs stay exhaustive)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a misspelled name must fail loudly, not run zero queries and write
    // an empty output dir (same contract as SPARK_GRAFT_BENCH_QUERIES)
    only.foreach { qs =>
      val unknown = qs -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}; " +
          s"known: ${SparkEntry.queries.keySet.toSeq.sorted.mkString(", ")}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      seconds(name) = math.round((System.nanoTime() - t0) / 1e6) / 1e3
      leftover(name) = (spark.sparkContext.getPersistentRDDs.keySet -- persisted).size
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    Files.writeString(Paths.get(s"$outDir/timings.json"),
      seconds.toSeq.sortBy(-_._2).map { case (k, v) =>
        s"""${q(k)}: {"s": $v, "cache_leftover": ${leftover(k)}}"""
      }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed; see $outDir/errors.json")
    spark.stop()
  }
}
