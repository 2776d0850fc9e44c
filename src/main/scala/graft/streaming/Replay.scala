package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Encoders, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId,
  StateStoreProviderId}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming-vs-batch replay harness: feed a batch table through a
  * Structured Streaming operator via MemoryStream in arrival (seq) order,
  * run the query to completion, and return the accumulated sink — giving
  * the streaming tier the same DuckDB hash-level verification as the
  * batch operators (the reference's whole test suite is event-by-event
  * streaming, e.g. UniqueTimeWindowTestCase.java:65-206).
  *
  * VERIFICATION HARNESS ONLY: the ordered feed collects the input to the
  * driver to reproduce the reference's single ordered input thread — the
  * operators under test collect nothing; production streams read from a
  * real source. Inputs are the sf0.01/sf0.1 events tables (≤100k rows).
  */
object Replay {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stop `q` and unload its state-store providers now instead of at the
    * maintenance thread's next pass (up to a minute later), so a stopped
    * replay holds no RocksDB instance and its checkpoint can be deleted
    * without that pass failing on the missing files. Only this query's
    * providers are unloaded; other live queries keep theirs.
    */
  private def stopAndUnload(q: StreamingQuery): Unit = {
    q.stop()
    Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
      .foreach(_.executedPlan.foreach {
        case op: StateStoreWriter =>
          for (info <- op.stateInfo; p <- 0 until info.numPartitions;
               store <- op.stateStoreNames) {
            val id = StateStoreProviderId(
              StateStoreId(info.checkpointLocation, info.operatorId, p, store), info.queryRunId)
            if (StateStore.isLoaded(id)) StateStore.doMaintenanceAndUnload(id)
          }
        case _ =>
      })
  }

  /** Run `build(stream)` over `input` fed in `seqCol` order in chunks of
    * `chunkSize` (each chunk = one micro-batch), wait for completion, and
    * return the memory sink's contents as a batch DataFrame.
    */
  def replay(spark: SparkSession, input: DataFrame, seqCol: String,
             chunkSize: Int, outputMode: String)
            (build: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    implicit val enc = Encoders.row(input.schema)
    val stream = MemoryStream[Row]
    val out = build(stream.toDF())
    val sink = s"__graft_replay_${counter.incrementAndGet()}"
    val rows = input.orderBy(col(seqCol)).collect()
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode(outputMode).start()
    try
      rows.grouped(chunkSize).foreach { chunk =>
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
      }
    finally stopAndUnload(q)
    spark.table(sink)
  }

  /** `replay` with a mid-stream KILL + RESTART: the query is stopped
    * after the chunk at the halfway boundary (floor(nChunks/2), min 1)
    * and restarted from its checkpoint before the remaining chunks are
    * fed — exercising offset recovery AND state-store restore on the
    * operator under test. The accumulated output must equal the
    * uninterrupted replay's, so a restart row shares its oracle with the
    * plain replay row.
    *
    * The memory sink is not restart-safe (a restarted query re-creates
    * the named table empty), so output is collected via an IDEMPOTENT
    * foreachBatch collector keyed by batchId — the standard
    * exactly-once-sink pattern: a batch re-delivered after restart
    * overwrites its own slot (state is restored to the pre-batch
    * version, so the re-run emits identical rows).
    */
  def replayWithRestart(spark: SparkSession, input: DataFrame, seqCol: String,
                        chunkSize: Int)
                       (build: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    implicit val enc = Encoders.row(input.schema)
    val stream = MemoryStream[Row]
    val out = build(stream.toDF())
    val outSchema = out.schema
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_replay_restart").toString
    val batches = scala.collection.concurrent.TrieMap.empty[Long, Array[Row]]
    def start() = out.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, id: Long) => { batches(id) = b.collect(); () })
      .start()
    val rows = input.orderBy(col(seqCol)).collect()
    val chunks = rows.grouped(chunkSize).toSeq
    val restartAfter = math.max(1, chunks.length / 2)
    var q = start()
    try
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
        if (i + 1 == restartAfter) {
          stopAndUnload(q) // kill mid-replay ...
          q = start()      // ... and recover from the checkpoint
        }
      }
    finally {
      stopAndUnload(q)
      FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        batches.toSeq.sortBy(_._1).flatMap(_._2.toSeq), 1),
      outSchema)
  }

  /** `replay` with a foreachBatch sink instead of a memory sink: each
    * micro-batch's OUTPUT rows, sorted by `seqCol`, are handed to
    * `handler` on the driver — the composition point for event-by-event
    * logic downstream of a streaming operator (e.g. joining two unique
    * window change logs the way the reference's single-threaded runtime
    * does, UniqueEverWindowTestCase.java:228-263). Update output mode;
    * same harness-only caveats as `replay`.
    */
  def replayForeachBatch(spark: SparkSession, input: DataFrame, seqCol: String,
                         chunkSize: Int)
                        (build: DataFrame => DataFrame)
                        (handler: Seq[Row] => Unit): Unit = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    implicit val enc = Encoders.row(input.schema)
    val stream = MemoryStream[Row]
    val out = build(stream.toDF())
    val rows = input.orderBy(col(seqCol)).collect()
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_replay_fb").toString
    val q = out.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, _: Long) =>
        handler(b.orderBy(col(seqCol)).collect().toSeq))
      .start()
    try
      rows.grouped(chunkSize).foreach { chunk =>
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
      }
    finally {
      stopAndUnload(q)
      FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }
}
