package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}

/** Parquet table loader for the driver-provided test data (TESTDATA.md).
  * All engine operators take DataFrames; this is just the I/O edge.
  */
object Tables {
  /** A single-file table opens without a Spark job: its schema comes from
    * the file's footer, read on the driver (about 1 ms) and converted as
    * Spark's schema-inference task converts it (Spark's row-metadata key
    * when present, else the session's parquet type settings:
    * `nanosAsLong`, binary-as-string, INT96, NTZ), so the DataFrame is the
    * one `spark.read.parquet` infers, minus that job. Each call reads the
    * current footer: nothing to invalidate. Any other path (a directory of
    * part files, or a missing one) keeps Spark's inference and its errors.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(p)
    val fs = path.getFileSystem(conf)
    Some(path).filter(fs.exists).map(fs.getFileStatus).filter(_.isFile) match {
      case Some(status) =>
        val footer = new Footer(status.getPath,
          ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(status, conf), SKIP_ROW_GROUPS))
        val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer, converter)).parquet(p)
      case None => spark.read.parquet(p)
    }
  }

  /** `ts` normalization, adaptive to how the driver generated the parquet:
    *  - TIMESTAMP(NANOS) (rounds 1-8): Spark 4 has no nanosecond timestamp
    *    type ([PARQUET_TYPE_ILLEGAL] by default), so read nanos as long and
    *    convert in integer arithmetic (values are µs-aligned → lossless;
    *    a double round-trip would lose precision at 1.7e18 ns).
    *  - timestamp[us] isAdjustedToUTC=false (round 9+): reads as
    *    TIMESTAMP_NTZ; cast to TimestampType (session tz is UTC
    *    everywhere in this engine) so downstream window arithmetic and
    *    oracle formatting are identical across both layouts.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
}
