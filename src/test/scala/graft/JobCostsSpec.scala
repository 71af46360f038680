package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.GraftListenerBus

import graft.obs.{Cost, JobCosts}

class JobCostsSpec extends SparkSpec {

  private def sc = spark.sparkContext

  test("install is idempotent: one listener per SparkContext") {
    val a = JobCosts.install(sc)
    val b = JobCosts.install(sc)
    assert(a eq b)
    assert(GraftListenerBus.listeners[JobCosts](sc).size == 1)
  }

  test("concurrent jobs roll up exactly per group once drained, however far the bus lags") {
    val costs = JobCosts.install(sc)
    // a slow listener on the same bus queue keeps the bus well behind
    // the actions, so a read that does not wait would miss task ends
    val slowNeighbour = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Thread.sleep(50)
    }
    sc.addSparkListener(slowNeighbour)
    // both jobs are submitted before either finishes: b starts while
    // a's 100 ms tasks still run
    def submit(g: String, parts: Int) = {
      sc.setJobGroup(g, s"spec $g")
      try sc.parallelize(1 to parts, parts).foreachAsync(_ => Thread.sleep(100))
      finally sc.clearJobGroup()
    }
    val jobsAB = Seq(submit("jobcosts-a", 4), submit("jobcosts-b", 8))
    val groups =
      try {
        jobsAB.foreach(_.get())
        costs.drain().groups
      } finally sc.removeSparkListener(slowNeighbour)
    val a = groups("jobcosts-a")
    val b = groups("jobcosts-b")
    assert((a.jobs, a.tasks) == (1, 4))
    assert((b.jobs, b.tasks) == (1, 8))
    assert(a.runMs >= 4 * 100 && b.runMs >= 8 * 100)
    // the per-job rows carry the same numbers as the roll-up
    val rows = costs.jobs.filter(_.group.contains("jobcosts-b"))
    assert(rows.map(_.cost) == Seq(b))
    assert(rows.head.description == "spec jobcosts-b")
  }

  test("a SQL action's jobs, adaptive query stages included, carry its call site") {
    val costs = JobCosts.install(sc)
    sc.setJobGroup("jobcosts-sql", null)
    try spark.range(1000).repartition(3).groupBy("id").count().count()
    finally sc.clearJobGroup()
    val jobs = costs.drain().jobs.filter(_.group.contains("jobcosts-sql"))
    assert(jobs.size > 1)
    assert(jobs.forall(_.description.startsWith("count at JobCostsSpec.scala")),
      jobs.map(_.description))
  }

  test("a streaming query's jobs roll up under its runId and nowhere else") {
    import org.apache.spark.sql.functions.col
    val costs = JobCosts.install(sc)
    val src = tmpDir("jobcosts-src")
    spark.range(200).select((col("id") % 7).as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(src + "/in")
    val schema = spark.read.parquet(src + "/in").schema
    val seen = costs.drain().jobs.size
    val q = spark.readStream.schema(schema).parquet(src + "/in")
      .groupBy("k").count()
      .writeStream.outputMode("complete").format("noop")
      .option("checkpointLocation", tmpDir("jobcosts-ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val run = q.runId.toString
    val during = costs.drain().jobs.drop(seen)
    assert(during.nonEmpty)
    assert(during.forall(_.group.contains(run)),
      during.filterNot(_.group.contains(run)))
    val total = during.map(_.cost).foldLeft(Cost())(_ + _)
    assert(costs.groups(run) == total)
    assert(total.tasks > 0 && total.shuffleWriteBytes > 0)
  }
}
