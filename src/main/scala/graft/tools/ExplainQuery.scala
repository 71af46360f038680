package graft.tools

import graft.{GraftSession, SparkEntry}

/** Print a registered query's formatted plan against an arbitrary
  * data dir — the diagnosis companion to ScaleMeasure (PLANS.md dumps
  * the sf0.001 plans; scale anomalies need the plan AT the anomalous
  * scale, post-AQE).
  *
  * Usage: runMain graft.tools.ExplainQuery <sfDir> <queryName> [exec]
  *   exec: also run the query and print the FINAL adaptive plan
  *
  * The plan is printed through `Plans.stablePlan` (expr ids, RDD ids,
  * stage ids and measured statistics scrubbed), so two runs of one
  * query compare with a plain `diff`. Run one query per JVM: a query's
  * final adaptive plan can depend on what ran earlier in the session.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val exec = args.lift(2).contains("exec")
    val spark = GraftSession.builder("graft-explain", "local[32]")
      .config("spark.sql.shuffle.partitions", "32").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      GraftSession.applyEngineConf(spark)
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (exec) df.write.format("noop").mode("overwrite").save()
      println("=== plan ===")
      println(graft.Plans.stablePlan(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
    } finally spark.stop()
  }
}
