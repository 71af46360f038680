package graft.tools

import graft.{GraftSession, SparkEntry}

/** Count a registered query's (or ScaleMeasure extra's) result rows
  * at an arbitrary data dir — the recall companion to ScaleMeasure
  * for parameter-lever comparisons (e.g. q31 vs q31_uncapped pair
  * counts: cost tables alone can hide a recall trade).
  *
  * Usage: runMain graft.tools.CountQuery <sfDir> <name>[,<name>...]
  * A `show:` prefix on a name prints the result rows (up to 100)
  * instead of just counting — for summary-shaped diagnostics.
  */
object CountQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = GraftSession.builder("graft-count", "local[32]")
      .config("spark.sql.shuffle.partitions", "32").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      GraftSession.applyEngineConf(spark)
      names.foreach { raw =>
        val show = raw.startsWith("show:")
        val name = if (show) raw.stripPrefix("show:") else raw
        val fn = ScaleMeasure.Extras.getOrElse(name,
          SparkEntry.queries(name))
        val df = fn(spark, sfDir)
        if (show) df.show(100, false)
        else println(s"[count] $name | $sfDir | rows=${df.count()}")
        spark.catalog.clearCache()
      }
    } finally spark.stop()
  }
}
