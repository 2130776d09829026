package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What one span (one call into a layer) cost, as Spark and Hadoop saw
  * it. Filled by [[Tracer]]'s listeners; read after the span closed. */
final class SpanStats(val layer: String) {
  var wallMs = 0.0
  var jobs = 0
  var broadcastJobs = 0
  var tasks = 0
  var execRunMs = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  /** Bytes read through Hadoop filesystems while the span ran. */
  var bytesRead = 0L
  var filesRead = 0L
  var scanRows = 0L
  val taskMs = ArrayBuffer.empty[Long]
  /** Time spent building the frame before its action (suite: `QueryDef.run`). */
  var buildMs = 0.0
}

/** Span tracer for the traced run. The benchmark wraps each call into a
  * layer in [[span]]; the span's id rides a SparkContext local
  * property, which Spark copies into the threads it starts for a SQL
  * execution (broadcast-exchange futures included), so every job,
  * stage and task the call causes is attributed to it by the
  * [[SparkListener]] half. The [[QueryExecutionListener]] half reads
  * files and rows from the final physical plan's scan nodes. Hadoop's
  * `FileSystem.getAllStatistics` gives the bytes the span read.
  *
  * With tracing off, [[span]] only times the call. */
final class Tracer(spark: SparkSession, val enabled: Boolean)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val Key = "perfbench.span"
  private val spans = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, SpanStats]()
  @volatile private var current: SpanStats = _
  private var nextId = 0L
  /** Wall time spent inside this tracer's own callbacks. */
  private val callbackNs = new java.util.concurrent.atomic.AtomicLong()
  /** Wall time spans spent waiting for the listener bus to drain. */
  private var drainNs = 0L

  if (enabled) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private def spanOf(props: java.util.Properties): SpanStats =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(spans.get).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val s = spanOf(e.properties)
    if (s != null) s.synchronized {
      s.jobs += 1
      // broadcast-exchange jobs carry a "broadcast exchange (runId ..)" job tag
      val tags = Seq("spark.job.description", "spark.job.tags")
        .flatMap(k => Option(e.properties.getProperty(k)))
      if (tags.exists(_.contains("broadcast exchange"))) s.broadcastJobs += 1
      e.stageIds.foreach(stageSpan.put(_, s))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val s = spanOf(e.properties)
    if (s != null) stageSpan.put(e.stageInfo.stageId, s)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) s.synchronized {
      s.tasks += 1
      s.execRunMs += m.executorRunTime
      s.outputBytes += m.outputMetrics.bytesWritten
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.taskMs += e.taskInfo.duration
    }
  }

  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
    val s = current
    if (s != null) {
      val found = scans(qe.executedPlan)
      s.synchronized {
        found.foreach { scan =>
          scan.metrics.get("numFiles").foreach(m => s.filesRead += m.value)
          scan.metrics.get("numOutputRows").foreach(m => s.scanRows += m.value)
        }
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum

  /** Run `f` as one span of `layer`; returns its result and stats. */
  def span[A](layer: String)(f: => A): (A, SpanStats) = {
    val s = new SpanStats(layer)
    val sc = spark.sparkContext
    val fs0 = if (enabled) fsBytesRead() else 0L
    if (enabled) {
      nextId += 1
      val id = s"$layer#$nextId"
      spans.put(id, s)
      current = s
      sc.setLocalProperty(Key, id)
    }
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, s)
    } finally {
      s.wallMs = (System.nanoTime() - t0) / 1e6
      if (enabled) {
        sc.setLocalProperty(Key, null)
        val d0 = System.nanoTime()
        org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
        drainNs += System.nanoTime() - d0
        current = null
        s.bytesRead = fsBytesRead() - fs0
      }
    }
  }

  def callbackMs: Double = callbackNs.get() / 1e6
  def drainMs: Double = drainNs / 1e6
}
