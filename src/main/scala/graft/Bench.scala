package graft

import org.apache.spark.sql.SparkSession

import graft.obs.JobCosts

/** Per-round benchmark main. Times every SparkEntry query at the
  * SPARK_GRAFT_SF_DIR scale factor and emits one JSON line.
  *
  * Methodology:
  *   - the action is a `noop`-format write, not `count()` — count lets
  *     Catalyst prune unreferenced projections, under-measuring
  *     expression-heavy queries;
  *   - one warmup pass at sf0.001 first (JIT + codegen caches), so the
  *     first timed query doesn't absorb JVM warmup;
  *   - each query is timed SPARK_GRAFT_BENCH_REPS times (default 3) and
  *     the MEDIAN is reported — a single timing conflates the query
  *     with whatever GC/compilation debt the previous query left
  *     behind (the round-2 q31/q43 outliers were exactly this);
  *   - reps are interleaved (all queries rep 1, then all rep 2, …) so a
  *     run-order effect lands on different queries each rep instead of
  *     inflating the same median 3×;
  *   - a query that throws records -1 (NOT its time-to-failure, which
  *     reads as a plausible fast timing) and lands in the "errors"
  *     list;
  *   - per-query executor metrics (shuffle read/write, spill, task
  *     time, GC, jobs) are rolled up per job group by `JobCosts` and
  *     emitted as "stageMetrics" (per-rep averages) — the difference
  *     between wall time and task time is driver/scheduling/codegen
  *     overhead, which is what distinguishes a real shuffle regression
  *     from run-to-run noise;
  *   - "q53_probe_only" is a bench-only extra (not a CORRECTNESS
  *     query): q53 times index build + probe together, so this times
  *     the probe against a pre-built index — the cost that actually
  *     recurs per ingest batch;
  *   - "flood_dedup_guard" is a bench-only extra: minhash dedup over
  *     the corpus plus a 3000×-replicated boilerplate doc with the
  *     degenerate-bucket guard on — the mass-duplication resilience
  *     the composed pipelines now default to; excluded (like
  *     q53_probe_only) from the headline total;
  *   - bench-only extras run ONCE, not `reps` times (round-12 verdict
  *     #5: flood_dedup_guard alone was ~12% of suite wall at 3 reps —
  *     it is instrumentation, not an operator), and their summed wall
  *     is emitted separately as "instrumentation_sec" so the record
  *     keeps the guard evidence without taxing the suite;
  *   - q40's in-memory Derby database is shut down (`drop=true`) at
  *     the query boundary after each q40 run (round-12 verdict #4):
  *     left resident it taxes every later query's GC in the one-JVM
  *     suite — BENCHNOTES round-12 measured 76 s of q77 inflation
  *     from exactly this co-tenancy in a ScaleMeasure batch; q40
  *     recreates the DB itself (`create=true` + overwrite) so later
  *     reps are unaffected;
  *   - OUTPUT (round-11 parse fix): the process' last stdout line is a
  *     TINY JSON record (~250 bytes: headline total, errors,
  *     calibration, query count, "record" pointer) printed after
  *     spark.stop(). The driver's capture keeps only the LAST 2,000
  *     characters of stdout, so even the round-10 ~4 KB compact line
  *     (which carried per-query medians) lost its head — per-query
  *     numbers now live ONLY in $SPARK_GRAFT_BENCH_OUT (default
  *     bench_out.json, the full record with stage metrics and the
  *     spliced clean-medians history) and in the committed
  *     bench_clean_medians.json;
  *   - a fixed library-independent calibration probe runs before,
  *     MIDWAY THROUGH, and after the suite ("calib_pre"/"calib_mid"/
  *     "calib_post"/"calib_sec"): ambient drift between two rounds'
  *     records is normalized by their calibration ratio instead of
  *     prose adjudication, and the mid-suite sample localizes a
  *     window shift to one half of the suite.
  */
object Bench {

  import org.apache.spark.sql.{functions => F}

  /** Probe the pre-built (by `setupProbeIndex`) q53 index — the
    * recurring half of the q53 incremental-dedup cycle.
    */
  private def probeOnly(spark: SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
    graft.llm.Dedup.probeMinhashIndex(Tables.scratch(dir, "q53b_idx"),
      docs.filter(F.col("doc_id") < 400),
      docs.filter(F.col("doc_id") >= 400),
      "doc_id", "text", threshold = 0.8, minBandMatches = 3)
  }

  /** One-time (untimed) index build for `probeOnly`, same corpus split
    * as q53.
    */
  private def setupProbeIndex(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.read(spark, dir, "documents")
    graft.llm.Dedup.buildMinhashIndex(docs.filter(F.col("doc_id") < 400),
      "doc_id", "text", Tables.scratch(dir, "q53b_idx"))
  }

  /** Bench-only flood extra: the corpus plus ONE boilerplate doc
    * replicated 3000× — the mass-duplication case that kills LSH dedup
    * jobs. With `maxBandBucket = 1000` the oversized band buckets emit
    * linear min-id stars, so the run completes in near-clean-corpus
    * time; uncapped, the same corpus puts ~1.4e8 rows through the band
    * self-join and ~4.5e6 all-above-threshold pairs through the exact
    * verify (measured once in BENCHNOTES.md — the quadratic slope, not
    * a timing worth repeating every round).
    */
  private def floodGuard(spark: SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
      .select(F.col("doc_id").cast("long").as("doc_id"), F.col("text"))
    val boiler = docs.orderBy("doc_id").limit(1)
      .select("text").head().getString(0)
    val corpus = docs.unionByName(spark.range(3000).select(
      (F.col("id") + 1000000L).as("doc_id"), F.lit(boiler).as("text")))
    graft.llm.Dedup.minhashNearDups(corpus, "doc_id", "text",
      threshold = 0.8, minBandMatches = 3, maxBandBucket = 1000)
  }

  /** Fixed ambient-drift calibration probe — library-INDEPENDENT
    * (spark.range → hash agg → shuffle → sort), so its timing moves
    * only with the machine, never with this repo's code. Run before
    * and after the suite; the committed clean-medians record carries
    * the same probe, so round-over-round wall ratios can be
    * normalized by the calibration ratio instead of adjudicating
    * ambient load from prose (the round-9 1.22× footnote). DO NOT
    * change this workload once a record referencing it is committed.
    */
  private def calibrate(spark: SparkSession, reps: Int): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      spark.range(20000000L)
        .select((F.col("id") * 2654435761L % 1000003L).as("k"),
          F.col("id").as("v"))
        .groupBy("k").agg(F.sum("v").as("s"), F.count(F.lit(1)).as("c"))
        .orderBy(F.desc("s")).limit(100)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.builder("graft-bench", s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    val compact = try suite(spark, sfDir, warmDir, reps) finally spark.stop()
    println(compact)
  }

  /** Runs the suite, writes the full record and returns the compact
    * stdout record.
    */
  private def suite(spark: SparkSession, sfDir: String, warmDir: String,
                    reps: Int): String = {
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.applyEngineConf(spark)
    val sc = spark.sparkContext
    val costs = JobCosts.install(sc)

    /** Runs one query and returns the ACTION's elapsed seconds. The
      * boundary cleanup is OUTSIDE the timed window — it is harness
      * hygiene, not query cost (billing it inflated every fast query
      * ~uniformly when first measured inside the window).
      */
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
            dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally {
        // LLM operators persist() their returned frame; free it between
        // queries so 50 queries don't accumulate cached blocks
        spark.catalog.clearCache()
        // and kick GC so GC-RECLAIMED state (localCheckpoint blocks
        // from quantiles/dedup internals, dropped cache entries) is
        // actually freed at the query boundary: without this, a query
        // late in the suite pays its predecessors' garbage — measured
        // as q71 6.7 s solo vs 77 s late in a 35-query sweep (round-10
        // ScaleMeasure diagnosis; the round-9 q71/q135 above-drift
        // movers were this coupling, not code regressions)
        System.gc()
      }
    }

    setupProbeIndex(spark, warmDir)
    setupProbeIndex(spark, sfDir)
    // bench-only instrumentation extras: timed ONCE (not `reps`×) and
    // summed into "instrumentation_sec" instead of the headline total
    val extrasOnce = Set("q53_probe_only", "flood_dedup_guard")
    val all = SparkEntry.queries +
      ("q53_probe_only" -> (probeOnly _)) +
      ("flood_dedup_guard" -> (floodGuard _))
    // protocol-testing filter (bench-only; the driver never sets it):
    // SPARK_GRAFT_BENCH_ONLY=q01_agg_groupby,q05_scalar_fns
    val queries = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).toSet
        all.filter { case (k, _) => keep(k) }
      case None => all
    }
    // warm the JIT/codegen paths the calibration probe uses, then take
    // the PRE-suite calibration sample
    calibrate(spark, 1)
    val calibPre = calibrate(spark, 3)

    // warmup (untimed, small scale; no job group → excluded from metrics)
    queries.foreach { case (name, fn) =>
      try run(fn, warmDir) catch { case _: Throwable => () }
      finally if (name == "q40_jdbc_roundtrip")
        graft.db.Db.shutdownInMemoryDerby("graftq40")
    }

    val names = queries.keys.toSeq.sorted
    // timings(name) accumulates one entry per successful rep
    val timings = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // mid-suite calibration: one probe at the iteration midpoint
    // (~3 s) so BENCHNOTES can attribute an ambient window shift to
    // the first or second half of the suite instead of bounding it
    // suite-wide with pre/post alone (round-10 verdict task #6)
    val iters = for {
      r <- 1 to reps
      name <- names
      if r == 1 || !extrasOnce(name)
    } yield (r, name)
    val midAt = iters.size / 2
    var calibMid = Double.NaN
    iters.zipWithIndex.foreach { case ((_, name), i) =>
      if (i == midAt) calibMid = calibrate(spark, 3)
      val fn = queries(name)
      // Single-rep extras get ONE untimed warm pass at the bench
      // scale immediately before their timed rep (round-13 verdict
      // #9): a cold single shot inherits whatever GC/codegen debt the
      // previous queries left behind and swings wildly — the driver's
      // r13 record read q53_probe_only at 31.3 s at 32 cores vs 3.0 s
      // at 8, while the same code path inside q53/q54's 3-rep medians
      // IMPROVED; this session's isolated rerun read 4.1 s. The warm
      // pass runs outside the job group (excluded from stage metrics)
      // and run()'s boundary cleanup leaves a GC'd JVM for the timed
      // rep. Headline totals are unaffected (extras were already
      // excluded); instrumentation_sec now reports a warm timing.
      if (extrasOnce(name)) {
        try run(fn, sfDir) catch { case _: Throwable => () }
      }
      sc.setJobGroup(name, s"bench $name")
      try timings(name) ::= run(fn, sfDir)
      catch { case _: Throwable => failed += name }
      finally {
        sc.clearJobGroup()
        // release q40's in-memory Derby at the query boundary — the
        // resident DB taxes every LATER query's GC in the one-JVM
        // suite (see the scaladoc); q40 rebuilds it next rep
        if (name == "q40_jdbc_roundtrip")
          graft.db.Db.shutdownInMemoryDerby("graftq40")
      }
    }
    val calibPost = calibrate(spark, 3)
    val groups = costs.drain().groups

    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      s(s.size / 2)
    }
    // ANY failed rep marks the query failed (-1, listed in errors) —
    // reporting a median of the surviving reps would let an
    // intermittently-broken query masquerade as a clean timing
    val results = names.map { name =>
      val ts = timings(name)
      name -> (if (failed(name) || ts.isEmpty) -1.0 else median(ts))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // bench-only extras stay out of the headline total so it remains
    // comparable round-over-round with the CORRECTNESS query set;
    // their summed wall is reported separately (instrumentation, not
    // operator time)
    val total = results.collect {
      case (k, v) if v >= 0 && !extrasOnce(k) => v
    }.sum
    val instrumentationSec = results.collect {
      case (k, v) if v >= 0 && extrasOnce(k) => v
    }.sum
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    // metrics for a query with any failed rep would mix partial work
    // from the failure into the per-rep average (and a query that
    // failed EVERY rep would fabricate metrics for a run that never
    // finished) — emit metrics only for clean queries
    val sm = names.filterNot(failed).flatMap { name =>
      val n = math.max(timings(name).size, 1)
      groups.get(name).filter(_.tasks > 0).map { c =>
        "\"" + name + "\":{" +
          s""""shuffle_read_mb":${r3(c.shuffleReadBytes / 1e6 / n)},""" +
          s""""shuffle_write_mb":${r3(c.shuffleWriteBytes / 1e6 / n)},""" +
          s""""spill_mb":${r3(c.spillBytes / 1e6 / n)},""" +
          s""""task_sec":${r3(c.runMs / 1e3 / n)},""" +
          s""""gc_sec":${r3(c.gcMs / 1e3 / n)},""" +
          s""""tasks":${c.tasks / n},""" +
          s""""jobs":${c.jobs / n}}"""
      }
    }.mkString("{", ",", "}")
    // recorded idle-machine medians (bench_clean_medians.json,
    // committed per round by the builder): the driver's own run is
    // co-tenant with the rest of the gate and lands uniformly ~30%
    // high, so the JSON carries BOTH — round-over-round adjudication
    // compares clean-vs-clean without fishing numbers out of
    // BENCHNOTES prose. The file is PARSED (Jackson, already on
    // Spark's classpath) before splicing: a malformed file must
    // become null, not corrupt the whole bench record. The clean
    // record also carries a "task_sec" map (executor task-seconds per
    // query from the clean run's stage metrics) — re-emitted here as
    // "cleanTaskSec", the round-over-round headline: task_sec is
    // scheduling-noise-immune where wall time is not.
    val cleanPath = sys.env.getOrElse("SPARK_GRAFT_CLEAN_MEDIANS",
      "bench_clean_medians.json")
    val (clean, cleanTaskSec) = {
      val p = java.nio.file.Paths.get(cleanPath)
      if (java.nio.file.Files.exists(p)) {
        try {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val node = om.readTree(java.nio.file.Files.readString(p))
          if (node != null && node.isObject) {
            val ts = node.get("task_sec")
            (om.writeValueAsString(node),
              if (ts != null && ts.isObject) om.writeValueAsString(ts)
              else "null")
          } else ("null", "null")
        } catch { case _: Exception => ("null", "null") }
      } else ("null", "null")
    }
    // TWO records (the round-9 parse fix — BENCH_r{7,8,9} all carry
    // "parsed": null because this line used to splice the whole
    // clean-medians file plus stage metrics, ~20 KB, and the driver's
    // stdout capture cut it mid-stream):
    //   - STDOUT gets a COMPACT record (~4 KB: headline, errors,
    //     calibration, 3-decimal wall medians) printed AFTER
    //     spark.stop() so nothing trails it — small enough to survive
    //     any plausible capture window intact;
    //   - the FULL record (stage metrics, the spliced clean-medians
    //     history) goes only to $SPARK_GRAFT_BENCH_OUT
    //     (bench_out.json), referenced from the stdout line via
    //     "record".
    // Key order in the compact line: per-query WALL medians last, so
    // even a truncated tail reads as wall seconds (the round-8
    // convention).
    val calibMidStr = if (calibMid.isNaN) "null" else r3(calibMid).toString
    val calib =
      s""""calib_sec":${r3(math.min(calibPre, calibPost))},"calib_pre":${r3(calibPre)},"calib_mid":$calibMidStr,"calib_post":${r3(calibPost)}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"instrumentation_sec":${r3(instrumentationSec)},"errors":$errs,$calib,"stageMetrics":$sm,"cleanMedians":$clean,"cleanTaskSec":$cleanTaskSec,"sf":"$sfDir","queries":$qs}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full + "\n")
    // round-stamped archive (round-12 verdict #3): bench_out.json is
    // overwritten every round, so no per-query record survived for
    // round-over-round regression math (bench_compare.py). The round
    // number is inferred from the committed BENCH_r{N}.json files —
    // this run's record belongs to round max+1 (the driver writes
    // BENCH_r{N}.json only after the round closes).
    try {
      val rx = "BENCH_r(\\d+)\\.json".r
      val listed = java.nio.file.Files.list(java.nio.file.Paths.get("."))
      val round =
        try {
          import scala.jdk.CollectionConverters._
          val ns = listed.iterator().asScala.flatMap { p =>
            p.getFileName.toString match {
              case rx(n) => Some(n.toInt)
              case _     => None
            }
          }.toSeq
          if (ns.isEmpty) 1 else ns.max + 1
        } finally listed.close()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"bench_out_r$round%02d.json"), full + "\n")
    } catch { case scala.util.control.NonFatal(_) => () }
    // The stdout record carries NO per-query map: the driver keeps
    // only the last 2,000 chars of stdout, and four rounds of
    // "parsed": null proved anything bigger loses its head. Per-query
    // medians live in bench_out.json ("record") and the committed
    // bench_clean_medians.json.
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$reps,"nQueries":${results.size},"instrumentation_sec":${r3(instrumentationSec)},"errors":$errs,$calib,"record":"$out","sf":"$sfDir"}"""
  }
}
