package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._

import graft.{GraftSession, SparkEntry}

/** Per-JOB cost breakdown for one registered query (or ScaleMeasure
  * extra) at one data dir — the diagnosis companion to ScaleMeasure's
  * per-query totals: when a funnel's total task-seconds move, this
  * shows WHICH internal action (checkpoint job, count, verify) paid.
  *
  * Usage: runMain graft.tools.JobBreakdown <sfDir> <name>
  */
object JobBreakdown {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = GraftSession.builder("graft-jobs", "local[32]")
      .config("spark.sql.shuffle.partitions", "32").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      GraftSession.applyEngineConf(spark)

      val stageJob = TrieMap[Int, Int]()
      val jobAgg = TrieMap[Int, Array[Long]]() // taskMs, shufR, shufW, tasks
      val jobDesc = TrieMap[Int, String]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          e.stageIds.foreach(s => stageJob.put(s, e.jobId))
          jobDesc.put(e.jobId, Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))
              .orElse(Option(p.getProperty("spark.job.description"))))
            .getOrElse("").take(100))
        }
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
            val a = jobAgg.getOrElseUpdate(j, Array.fill(4)(0L))
            a.synchronized {
              a(0) += m.executorRunTime
              a(1) += m.shuffleReadMetrics.totalBytesRead
              a(2) += m.shuffleWriteMetrics.bytesWritten
              a(3) += 1
            }
          }
      })

      // warm-up rep (JVM/codegen), then the measured rep
      val fn = ScaleMeasure.Extras.getOrElse(name, SparkEntry.queries(name))
      fn(spark, sfDir).foreach(_ => ())
      spark.catalog.clearCache()
      jobAgg.clear(); jobDesc.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).foreach(_ => ())
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[jobs] $name total wall ${wall}%.2f s")
      println("[jobs] jobId | task_sec | shufR_mb | shufW_mb | tasks | desc")
      jobAgg.toSeq.sortBy(_._1).foreach { case (j, a) =>
        println(f"[jobs] $j%5d | ${a(0) / 1e3}%8.1f | ${a(1) / 1e6}%8.1f" +
          f" | ${a(2) / 1e6}%8.1f | ${a(3)}%5d | ${jobDesc.getOrElse(j, "")}")
      }
    } finally spark.stop()
  }
}
