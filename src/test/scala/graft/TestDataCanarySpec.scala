package graft

import java.io.File
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema canary over the REAL driver-generated testdata.
  *
  * The driver regenerated `/root/testdata` between rounds 8 and 9 with a
  * changed parquet layout (`events.ts`: TIMESTAMP(NANOS) → timestamp[us]),
  * and the breakage surfaced only in the driver's own gate runs — the sbt
  * suite, built entirely on in-memory fixtures, stayed green while every
  * events-based oracle row silently vanished. This spec pins the loader
  * contract against the actual files so the NEXT regeneration fails here
  * first, with a readable diff, before any driver gate runs.
  *
  * Skips (with a loud cancel, not a silent pass) if the testdata directory
  * is absent, so the suite still runs on a bare checkout.
  */
class TestDataCanarySpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"
  private def available: Boolean = new java.io.File(sfDir).isDirectory

  private def norm(dt: DataType): String = dt.simpleString

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val old = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, on.toString)
    try body finally old.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
  }

  /** `Tables.table`'s schema next to the one `spark.read.parquet` infers
    * for the same path; a read that fails on either side is None. */
  private def schemas(dir: String, name: String): (Option[StructType], Option[StructType]) =
    (Try(Tables.table(spark, dir, name).schema).toOption,
      Try(spark.read.parquet(s"$dir/$name.parquet").schema).toOption)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  test("events loads and normalizes ts to TimestampType with rows present") {
    assume(available, s"$sfDir not present on this machine")
    val ev = Tables.events(spark, sfDir)
    val ts = ev.schema("ts").dataType
    assert(ts == TimestampType,
      s"Tables.events must normalize ts to TimestampType for every driver data generation; got $ts")
    val expected = Map(
      "event_id" -> "bigint", "user_id" -> "bigint", "event_type" -> "string",
      "value" -> "double", "props" -> "string")
    expected.foreach { case (c, t) =>
      assert(norm(ev.schema(c).dataType) == t, s"events.$c: expected $t, got ${norm(ev.schema(c).dataType)}")
    }
    assert(ev.limit(1).count() == 1, "events must be non-empty and readable end-to-end")
  }

  test("documents/embeddings/lineitem/orders/customer load with the expected columns") {
    assume(available, s"$sfDir not present on this machine")
    val doc = Tables.documents(spark, sfDir)
    assert(Set("doc_id", "text", "lang", "source").subsetOf(doc.columns.toSet), doc.columns.mkString(","))
    assert(norm(doc.schema("text").dataType) == "string")
    val emb = Tables.embeddings(spark, sfDir)
    assert(Set("vec_id", "embedding").subsetOf(emb.columns.toSet), emb.columns.mkString(","))
    assert(emb.schema("embedding").dataType.isInstanceOf[ArrayType],
      s"embedding must be an array column, got ${emb.schema("embedding").dataType}")
    val li = Tables.lineitem(spark, sfDir)
    assert(Set("l_orderkey", "l_quantity", "l_returnflag").subsetOf(li.columns.toSet))
    val ord = Tables.orders(spark, sfDir)
    assert(Set("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate").subsetOf(ord.columns.toSet))
    val cust = Tables.customer(spark, sfDir)
    assert(Set("c_custkey", "c_name").subsetOf(cust.columns.toSet))
    // each table must actually scan (a pure schema read would miss a
    // corrupt/relaid-out data page)
    Seq(doc, emb, li, ord, cust).foreach(df => assert(df.limit(1).count() == 1))
  }

  test("Tables.table resolves every testdata file's footer to the schema Spark infers, " +
      "nanosAsLong on and off") {
    assume(available, s"$sfDir not present on this machine")
    val tables = new File(sfDir).getParentFile.listFiles.toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("sf")).sortBy(_.getName)
      .flatMap(d => d.listFiles.toSeq.filter(_.getName.endsWith(".parquet")).sortBy(_.getName))
    assert(tables.exists(_.isFile), "no single-file table: the footer path would go untested")
    for (on <- Seq(true, false); t <- tables) withNanosAsLong(on) {
      val (footer, inferred) = schemas(t.getParent, t.getName.stripSuffix(".parquet"))
      assert(inferred.isDefined || !on, s"$t does not read with nanosAsLong on")
      assert(footer == inferred, s"$t, nanosAsLong=$on: footer $footer != inferred $inferred")
    }
  }

  test("Tables.table: a Spark-written file keeps the row-metadata schema; " +
      "a directory keeps Spark's inference") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tables_canary").toFile
    try {
      // field metadata and TIMESTAMP_NTZ survive only through Spark's
      // row-metadata footer key, not the plain parquet type conversion
      val meta = new MetadataBuilder().putString("comment", "kept").build()
      Seq((1L, 2.toShort, "a")).toDF("id", "s", "c")
        .select(col("id"), col("s"), col("c").as("c", meta),
          lit("2024-01-02 03:04:05").cast(TimestampNTZType).as("ntz"))
        .coalesce(1).write.parquet(s"$tmp/dir.parquet")
      val part = new File(s"$tmp/dir.parquet").listFiles
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, new File(s"$tmp/file.parquet").toPath)
      for (name <- Seq("file", "dir")) {
        val (footer, inferred) = schemas(tmp.getPath, name)
        assert(footer.isDefined && footer == inferred, s"$name: footer $footer != inferred $inferred")
        assert(footer.get("c").metadata.getString("comment") == "kept", s"$name lost field metadata")
        assert(footer.get("ntz").dataType == TimestampNTZType, s"$name: ${footer.get("ntz")}")
      }
    } finally deleteTree(tmp)
  }

  test("Tables.events/orders/customer build their DataFrames without a Spark job") {
    assume(available, s"$sfDir not present on this machine")
    val sc = spark.sparkContext
    val tag = "graft.canary.phase"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(started.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "build")
      Seq(Tables.events(spark, sfDir), Tables.orders(spark, sfDir), Tables.customer(spark, sfDir))
      // the listener bus delivers in order: once the sentinel job's start
      // arrives, so has every job the builds started
      sc.setLocalProperty(tag, "sentinel")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains("sentinel"), "the sentinel job's start never arrived")
      val builds = started.asScala.count(_ == "build")
      assert(builds == 0, s"building the tables started $builds Spark job(s)")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
