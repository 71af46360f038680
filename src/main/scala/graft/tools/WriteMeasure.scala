package graft.tools

import org.apache.spark.sql.{functions => F}

import graft.GraftSession
import graft.obs.{Cost, JobCosts}
import graft.sinks.Writer
import graft.sources.FsOps

/** Write-surface decade measurement (SCALING.md's evidence for the
  * dataset sinks): on a GenDocs corpus,
  *   1. seed a source-partitioned cataloged dataset (overwrite);
  *   2. `overwrite_partitions` rewrites touching k of the 20 source
  *      partitions (k = 2 and k = 10) — files written and task-sec
  *      must scale with partitions TOUCHED, and untouched partitions'
  *      files must be byte-identical (verified by path+mtime set);
  *   3. `compactDataset` over the partitioned dataset after the
  *      partial rewrites — the overwrite_partitions + compaction
  *      interplay.
  *
  * Usage: runMain graft.tools.WriteMeasure <docsParquet> <label>
  */
object WriteMeasure {

  def main(args: Array[String]): Unit = {
    val docsPath = args(0)
    val label = args.lift(1).getOrElse("gen")
    val spark = GraftSession.builder("graft-write-measure", "local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.warehouse.dir",
        s"target/wm-warehouse-$label")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      GraftSession.applyEngineConf(spark)
      val sc = spark.sparkContext
      val costs = JobCosts.install(sc)

      val docs = spark.read.parquet(docsPath)
        .select("doc_id", "lang", "source", "text")
      val base = new java.io.File(s"target/wm-$label/dataset")
        .getAbsolutePath
      val db = s"wm_$label"
      graft.catalog.Catalog.createDatabase(spark, db)

      def files(): Map[String, Long] =
        FsOps.listObjects(spark, base)
          .filter(_.path.endsWith(".parquet"))
          .map(o => o.path -> o.modifiedMs).toMap

      def timed(name: String)(body: => Unit): Double = {
        sc.setJobGroup(name, name)
        val t0 = System.nanoTime()
        try body finally sc.clearJobGroup()
        (System.nanoTime() - t0) / 1e9
      }

      def report(name: String, wall: Double, extra: String): Unit = {
        val c = costs.drain().groups.getOrElse(name, Cost())
        println(f"[wm] $name | wall=$wall%.2f s | task=${c.runMs / 1e3}%.1f s | tasks=${c.tasks} | $extra")
      }

      // 1. seed: full overwrite, partitioned by source (20 partitions)
      val wSeed = timed("seed_overwrite") {
        Writer.toParquetCataloged(spark, docs, base, db, "docs",
          Writer.WriteOptions(dataset = true, partitionCols = Seq("source"),
            mode = "overwrite"))
      }
      val afterSeed = files()
      report("seed_overwrite", wSeed, s"files=${afterSeed.size}")

      // 2. overwrite_partitions touching k of 20 sources
      for (k <- Seq(2, 10)) {
        val srcs = docs.select("source").distinct()
          .orderBy("source").limit(k)
          .collect().map(_.getString(0)).toSet
        val touched = docs.filter(F.col("source").isin(srcs.toSeq: _*))
          .withColumn("text", F.upper(F.col("text")))
        val before = files()
        val name = s"overwrite_${k}_of_20"
        val w = timed(name) {
          Writer.toParquetCataloged(spark, touched, base, db, "docs",
            Writer.WriteOptions(dataset = true,
              partitionCols = Seq("source"), mode = "overwrite_partitions"))
        }
        val after = files()
        val untouchedBefore = before.filter { case (p, _) =>
          !srcs.exists(s => p.contains(s"source=$s/")) }
        val untouchedAfter = after.filter { case (p, _) =>
          !srcs.exists(s => p.contains(s"source=$s/")) }
        val untouchedIntact = untouchedBefore == untouchedAfter
        val written = after.keySet.diff(before.keySet).size
        report(name, w,
          s"files_written=$written untouched_intact=$untouchedIntact")
        require(untouchedIntact,
          s"$name rewrote partitions it should not have touched")
      }

      // 3. compaction of the partitioned dataset post-rewrites
      val preFiles = files().size
      var stats: FsOps.CompactStats = null
      val wC = timed("compact") {
        stats = FsOps.compactDataset(spark, base,
          targetFileMb = 128, partitionCols = Seq("source"))
      }
      report("compact", wC,
        s"files_before=$preFiles files_after=${stats.filesAfter} rows=${stats.rows}")
    } finally spark.stop()
  }
}
