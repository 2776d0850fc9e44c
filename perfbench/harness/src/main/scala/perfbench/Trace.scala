package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** What the listeners saw during one span (one query or one stream
  * operator run). Jobs and tasks are attributed by the `perfbench.span`
  * and `perfbench.layer` local properties the harness sets before each
  * call, which Spark copies onto every job the call starts (stream
  * execution threads inherit them from the thread that starts the query).
  */
final class SpanStats {
  val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  var stages = 0
  var tasks = 0
  var taskCpuNs = 0L
  var gcMs = 0L
  var rowsRead = 0L
  var bytesRead = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var peakStorage = 0L
  /** slowest stage: (duration ms, slowest task ms / median task ms) */
  var slowestStage = (0L, 0.0)
  var analysisNs = 0L
  var optimizationNs = 0L
  var planningNs = 0L
  var planNodes = 0
  val nodeSeconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
}

/** Registers Spark's public listeners and folds their events into
  * per-span statistics. Installed only for traced runs. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.Map.empty[String, SpanStats]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val execSpan = mutable.Map.empty[Long, String]
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private var storageBytes = 0L
  @volatile private var current: String = ""

  def stats(span: String): SpanStats = synchronized(spans.getOrElseUpdate(span, new SpanStats))

  /** Start attributing events without a span property (QE callbacks,
    * block updates) to `span`. */
  def open(span: String): Unit = synchronized {
    current = span
    stats(span).peakStorage = storageBytes
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty("perfbench.span"))).foreach { span =>
        val layer = Option(p.get.getProperty("perfbench.layer")).getOrElse("exec")
        stats(span).jobs(layer) += 1
        e.stageIds.foreach(stageSpan(_) = span)
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .foreach(id => execSpan(id.toLong) = span)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val s = stats(span)
        s.tasks += 1
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.taskCpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.rowsRead += m.inputMetrics.recordsRead
          s.bytesRead += m.inputMetrics.bytesRead
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      stageSpan.get(info.stageId).foreach { span =>
        val s = stats(span)
        s.stages += 1
        val ms = (for (a <- info.submissionTime; b <- info.completionTime) yield b - a).getOrElse(0L)
        val ts = stageTasks.remove(info.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
        if (ts.nonEmpty && ms >= s.slowestStage._1)
          s.slowestStage = (ms, ts.last.toDouble / math.max(1L, ts(ts.length / 2)))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case id: RDDBlockId =>
          val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          storageBytes += size - blocks.getOrElse(id, 0L)
          if (size == 0) blocks.remove(id) else blocks(id) = size
          if (current.nonEmpty) {
            val s = stats(current)
            s.peakStorage = math.max(s.peakStorage, storageBytes)
          }
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val span = execSpan.getOrElse(qe.id, current)
        if (span.nonEmpty) {
          val s = stats(span)
          val ph = qe.tracker.phases
          def ns(k: String): Long = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).getOrElse(0L)
          s.analysisNs += ns("analysis")
          s.optimizationNs += ns("optimization")
          s.planningNs += ns("planning")
          val nodes = Tracer.planNodes(qe.executedPlan)
          s.planNodes += nodes.length
          nodes.foreach(n => s.nodeSeconds(n.nodeName) += Tracer.nodeSeconds(n))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { if (current.nonEmpty) stats(current).progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def remove(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

object Tracer {
  private val walker = new AdaptiveSparkPlanHelper {}

  /** Every node of a physical plan, through AQE's final stages and into
    * subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] =
    walker.collectWithSubqueries(p) { case n => n }

  /** A physical node's own time: the sum of its timing SQL metrics. */
  def nodeSeconds(p: SparkPlan): Double =
    p.metrics.values.map { m =>
      m.metricType match {
        case "timing" => m.value / 1e3
        case "nsTiming" => m.value / 1e9
        case _ => 0.0
      }
    }.sum
}
