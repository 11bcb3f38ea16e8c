package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in milliseconds with sub-millisecond resolution, on the same
  * base as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, epoch: Int, start: Double,
                      var end: Double = 0, attrs: mutable.Map[String, Double] = mutable.Map())

/** In-memory spans around the calls into each layer. A span's id is set as a
  * Spark local property while it is open, so the jobs it runs (on this
  * thread, or on a thread it starts) are attributed to it. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private val current = new InheritableThreadLocal[Span]
  private var nextId = 0

  def span[T](name: String, epoch: Int)(body: Span => T): T = {
    val parent = current.get
    val s = synchronized {
      nextId += 1
      val s = Span(nextId, name, if (parent == null) 0 else parent.id,
        if (epoch >= 0 || parent == null) epoch else parent.epoch, Clock.ms)
      spans += s
      s
    }
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    current.set(s)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body(s)
    finally {
      s.end = Clock.ms
      current.set(parent)
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
    }
  }

  def dump: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "epoch" -> s.epoch,
    "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs))
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark-side counts at the span boundaries: per-job task totals attributed
  * by the span property, the rows the change-feed (JSON) scans produced —
  * counted each time a scan runs, so a feed parsed twice counts twice — and
  * the per-trigger durations of the streaming progress reports. */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val span: Int, val start: Long) {
    var end: Long = start
    val counts: mutable.Map[String, Double] = mutable.Map().withDefaultValue(0.0)
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()
  // accumulator ids of the "number of output rows" metric of JSON scans
  private val feedRowAccums = mutable.Set[Long]()
  val progress = mutable.ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    val j = new Job(e.jobId, span, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      val c = j.counts
      c("exec_cpu_s") += m.executorCpuTime / 1e9
      c("gc_s") += m.jvmGCTime / 1e3
      c("input_bytes") += m.inputMetrics.bytesRead.toDouble
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead.toDouble
      c("spill_bytes") += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
      c("output_bytes") += m.outputMetrics.bytesWritten.toDouble
      c("tasks") += 1
      e.taskInfo.accumulables.foreach { a =>
        if (feedRowAccums.contains(a.id)) a.update.foreach {
          case n: java.lang.Long => c("feed_rows_scanned") += n.doubleValue
          case _ =>
        }
      }
    }
  }

  private def feedScans(p: SparkPlanInfo): Unit = {
    if (p.nodeName.toLowerCase.startsWith("scan json"))
      p.metrics.filter(_.name == "number of output rows").foreach(feedRowAccums += _.accumulatorId)
    p.children.foreach(feedScans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => feedScans(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => feedScans(u.sparkPlanInfo)
      case _ =>
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Recorder.this.synchronized {
      val p = e.progress
      if (p.numInputRows > 0)
        progress += (Map[String, Any]("timestamp" -> p.timestamp, "rows" -> p.numInputRows) ++
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue })
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streamListener)
  }

  def dump: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.filter(_.span > 0).map(j =>
        Map("span" -> j.span, "start" -> j.start, "end" -> j.end) ++ j.counts).toSeq,
      "stream" -> progress.toSeq)
  }
}
