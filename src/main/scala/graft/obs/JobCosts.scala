package graft.obs

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.GraftListenerBus
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Executor-side task costs summed over one job, or over every job of
  * a job group. Spill is memory plus disk spill.
  */
final case class Cost(jobs: Int = 0, tasks: Long = 0, runMs: Long = 0,
                      gcMs: Long = 0, shuffleReadBytes: Long = 0,
                      shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Cost): Cost = Cost(jobs + o.jobs, tasks + o.tasks,
    runMs + o.runMs, gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
}

/** One Spark job: its `spark.jobGroup.id` (None outside a group), its
  * description, and the costs of the tasks it ran. The description is
  * `spark.job.description` if set, else the call site of the SQL
  * action the job runs for (adaptive execution runs each query stage
  * as its own job from a pool thread, whose own call site says
  * nothing), else the call site of the job's last stage.
  */
final case class JobCost(jobId: Int, group: Option[String],
                         description: String, cost: Cost)

/** graft's one task-cost listener: one `JobCost` per Spark job of its
  * SparkContext, read as per-job rows (`jobs`) or rolled up per job
  * group (`groups`). The bus is asynchronous, so read after `drain()`.
  *
  * A task counts for the first job whose DAG lists its stage, the job
  * the DAGScheduler runs the stage for: a stage that a later job
  * reuses is not counted twice, and concurrent jobs in different
  * groups never swap tasks. Streaming queries run their micro-batches
  * under the job group `runId.toString`.
  *
  * Holds one small record per job for the life of the context.
  */
final class JobCosts private (sc: SparkContext) extends SparkListener {
  // written on the bus thread only; readers take the same lock
  private val records = mutable.LinkedHashMap[Int, JobCost]()
  private val stageJob = mutable.Map[Int, Int]()
  private val sqlActions = mutable.Map[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val desc = prop("spark.job.description")
      .orElse(prop("spark.sql.execution.id")
        .flatMap(_.toLongOption).flatMap(sqlActions.get))
      .getOrElse(
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    records(e.jobId) = JobCost(e.jobId, prop("spark.jobGroup.id"), desc,
      Cost(jobs = 1))
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlActions(s.executionId) = s.description
      case s: SparkListenerSQLExecutionEnd => sqlActions -= s.executionId
      case _ =>
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      job <- stageJob.get(e.stageId)
      r <- records.get(job)
      m <- Option(e.taskMetrics)
    } records(job) = r.copy(cost = r.cost + Cost(tasks = 1,
      runMs = m.executorRunTime, gcMs = m.jvmGCTime,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Waits until every event posted so far has been delivered. */
  def drain(): this.type = {
    GraftListenerBus.drain(sc)
    this
  }

  /** Every job seen so far, by job id. */
  def jobs: Seq[JobCost] = synchronized(records.values.toVector)

  /** Costs summed per job group; jobs outside a group are left out. */
  def groups: Map[String, Cost] = jobs.groupMapReduce(_.group)(_.cost)(_ + _)
    .collect { case (Some(g), c) => g -> c }
}

object JobCosts {

  /** The context's `JobCosts`, registered on the first call. Later
    * calls (from any thread) return the same listener, so tools and
    * specs sharing a session never stack copies.
    */
  def install(sc: SparkContext): JobCosts = synchronized {
    GraftListenerBus.listeners[JobCosts](sc).headOption.getOrElse {
      val l = new JobCosts(sc)
      sc.addSparkListener(l)
      l
    }
  }
}
