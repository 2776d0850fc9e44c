package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{Encoders, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}

/** Open-loop stream phase: one generator thread adds every event whose
  * due time has passed to a MemoryStream (event i is due at
  * start + i / rate), regardless of how far the query has got. An
  * event's latency runs from its due time to the end of the micro-batch
  * that consumed it.
  */
object OpenLoop {
  final case class Result(offered: Long, undrained: Long, json: Json.Obj)

  private val TickMs = 5L
  private val DrainMs = 10000L

  def run(spark: SparkSession, op: Harness.StreamOp, input: Array[Row], rate: Double,
          ckpt: String): Result = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    implicit val enc = Encoders.row(input.head.schema)
    val stream = MemoryStream[Row]
    val q = op.build(stream.toDF()).writeStream.format("noop").outputMode(op.mode)
      .option("checkpointLocation", ckpt).start()
    // (memory-stream offset, first event, end event, add time ms)
    val adds = mutable.ArrayBuffer.empty[(Long, Int, Int, Long)]
    val start = System.currentTimeMillis() + 100
    def due(i: Int): Double = start + i * 1000.0 / rate
    val gen = new Thread(() => {
      var i = 0
      while (i < input.length) {
        val now = System.currentTimeMillis()
        val upTo = math.min(input.length, math.floor((now - start) * rate / 1000.0).toInt + 1)
        if (upTo > i) {
          val off = stream.addData(input.slice(i, upTo).toSeq).asInstanceOf[LongOffset].offset
          adds += ((off, i, upTo, now))
          i = upTo
        }
        Thread.sleep(TickMs)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val lastOffset = adds.last._1
    def consumed: Long = q.recentProgress.flatMap(_.sources.headOption)
      .map(s => Option(s.endOffset).map(_.toLong).getOrElse(-1L)).foldLeft(-1L)(math.max)
    val deadline = System.currentTimeMillis() + DrainMs
    while (consumed < lastOffset && System.currentTimeMillis() < deadline && q.isActive)
      Thread.sleep(TickMs)
    val progress = q.recentProgress.toSeq
    q.stop()

    val batchEnds = progress.flatMap { p =>
      p.sources.headOption.map { s =>
        val from = Option(s.startOffset).filter(_ != "null").map(_.toLong).getOrElse(-1L)
        val to = Option(s.endOffset).map(_.toLong).getOrElse(-1L)
        val end = Instant.parse(p.timestamp).toEpochMilli +
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        (from, to, end)
      }
    }.filter { case (from, to, _) => to > from }
    val latencies = mutable.ArrayBuffer.empty[Double]
    var undrained = 0L
    adds.foreach { case (off, lo, hi, _) =>
      batchEnds.find { case (from, to, _) => off > from && off <= to } match {
        case Some((_, _, end)) => (lo until hi).foreach(i => latencies += end - due(i))
        case None => undrained += hi - lo
      }
    }
    val lags = adds.flatMap { case (_, lo, hi, t) => (lo until hi).map(i => t - due(i)) }
    val backlog = batchEnds.map { case (_, to, end) =>
      adds.filter(_._4 <= end).map(a => a._3 - a._2).sum -
        adds.filter(_._1 <= to).map(a => a._3 - a._2).sum
    }
    val j = new Json.Obj
    j("offered") = input.length
    j("rate_eps") = rate
    j("latency_ms") = Stats.quantiles(latencies.toSeq, Seq(0.5, 0.99))
    j("gen_lag_p99_ms") = Stats.quantiles(lags.toSeq, Seq(0.99)).head
    j("backlog_max_events") = if (backlog.isEmpty) 0 else backlog.max
    j("batches") = batchEnds.length
    Result(input.length, undrained, j)
  }
}

object Stats {
  /** Nearest-rank quantiles; NaN for an empty sample. */
  def quantiles(xs: Seq[Double], qs: Seq[Double]): Seq[Double] = {
    val s = xs.sorted
    qs.map(q => if (s.isEmpty) Double.NaN else s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1 max 0)))
  }
}
