package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLAdaptiveSQLMetricUpdates, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlanInfo

/** One benchmark-side span: a public call into a layer (or a pass, or
  * a benchmark-owned check) with wall-clock bounds in epoch ms.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      pass: Int, startMs: Long, var endMs: Long = -1L,
                      var failed: Boolean = false)

/** Per-span executor cost, aggregated by [[SpanListener]]. */
final class SpanCost {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var filesWritten = 0L
  /** (launch, finish) epoch ms of every task, for idle-time union. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans kept in memory for the whole traced window. The current span
  * id rides on the driver thread's Spark local property, so every job,
  * stage and task that a call submits is attributed to it.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[T](name: String, layer: String, pass: Int)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, layer, parent, pass,
      System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Key,
        stack.headOption.map(_.id.toString).orNull)
    }
  }
}

object Tracer {
  val Key = "graftbench.span"
}

/** The benchmark's one listener: attributes jobs, stages, tasks and
  * write-command file counts to the span whose id the submitting
  * thread carried. It only aggregates; nothing reads it until the
  * traced window has ended and the listener bus has drained.
  */
final class SpanListener extends SparkListener {
  val costs = mutable.HashMap.empty[Int, SpanCost]
  /** Every task seen, attributed or not: the reconciliation base. */
  var totalTaskMs = 0L
  var totalTasks = 0L
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  /** accumulator id of each "number of written files" SQL metric. */
  private val fileAccums = mutable.HashMap.empty[Long, Long]

  private def cost(span: Int): SpanCost =
    costs.getOrElseUpdate(span, new SpanCost)

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      cost(s).jobs += 1
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execSpan.put(x.toLong, s))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      spanOf(e.properties).foreach(stageSpan.put(e.stageInfo.stageId, _))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      totalTaskMs += m.executorRunTime
      totalTasks += 1
      stageSpan.get(e.stageId).foreach { s =>
        val c = cost(s)
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
  }

  private def registerPlan(info: SparkPlanInfo): Unit = {
    info.metrics.foreach { m =>
      if (m.name == "number of written files") fileAccums.put(m.accumulatorId, 0L)
    }
    info.children.foreach(registerPlan)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => registerPlan(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        registerPlan(u.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveSQLMetricUpdates =>
        u.sqlPlanMetrics.foreach { m =>
          if (m.name == "number of written files")
            fileAccums.put(m.accumulatorId, 0L)
        }
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          if (fileAccums.contains(id))
            execSpan.get(d.executionId).foreach(cost(_).filesWritten += v)
        }
      case _ =>
    }
  }
}

/** Folds spans + listener costs into the per-layer, per-pass figures
  * the benchmark reports with `--trace 1`.
  */
object LayerReport {

  val Layers: Seq[String] = Seq("sources", "sinks", "catalog", "sql",
    "operators", "llm.dedup", "llm.text", "llm.datacard",
    "llm.corpusstats")

  /** Total length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-layer metrics averaged over `passes` traced passes, plus the
    * reconciliation of attributed task time against the run total.
    */
  def build(spans: Seq[Span], l: SpanListener, passes: Int,
            cores: Int): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val n = math.max(passes, 1).toDouble
    Layers.foreach { layer =>
      val ss = spans.filter(_.layer == layer)
      var self, driver, task, gc, shuffle, spill = 0.0
      var jobs, tasks = 0L
      ss.foreach { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
        val selfMs = (s.endMs - s.startMs) - covered(kids, s.startMs, s.endMs)
        self += selfMs / 1000.0
        val c = l.costs.getOrElse(s.id, new SpanCost)
        driver += ((s.endMs - s.startMs) -
          covered(c.intervals.toSeq, s.startMs, s.endMs)) / 1000.0
        jobs += c.jobs
        tasks += c.tasks
        task += c.taskMs / 1000.0
        gc += c.gcMs / 1000.0
        shuffle += c.shuffleBytes / 1e6
        spill += c.spillBytes / 1e6
      }
      out(s"$layer.calls") = ss.size / n
      out(s"$layer.failed") = ss.count(_.failed) / n
      out(s"$layer.self_s") = self / n
      out(s"$layer.driver_s") = driver / n
      out(s"$layer.jobs") = jobs / n
      out(s"$layer.tasks") = tasks / n
      out(s"$layer.task_s") = task / n
      out(s"$layer.gc_s") = gc / n
      out(s"$layer.shuffle_mb") = shuffle / n
      out(s"$layer.spill_mb") = spill / n
      out(s"$layer.busy_frac") = if (self > 0) task / (self * cores) else 0.0
    }
    def layerCosts(layer: String) =
      spans.filter(_.layer == layer).flatMap(s => l.costs.get(s.id))
    val sinks = layerCosts("sinks")
    out("sinks.bytes_written_mb") = sinks.map(_.bytesWritten).sum / 1e6 / n
    out("sinks.files_written") = sinks.map(_.filesWritten).sum / n
    val sources = layerCosts("sources")
    out("sources.bytes_read_mb") = sources.map(_.bytesRead).sum / 1e6 / n
    val attributed = l.costs.values.map(_.taskMs).sum
    out("trace.unattributed_task_frac") =
      if (l.totalTaskMs > 0) (l.totalTaskMs - attributed).toDouble / l.totalTaskMs
      else 0.0
    out.toMap
  }
}
