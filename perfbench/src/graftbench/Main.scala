package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{functions => F, SparkSession}

import graft.GraftSession

/** Benchmark driver: one client runs a workload's pass in a closed
  * loop for `--seconds`, after set-up: session up, inputs loaded,
  * tables created, one untimed warm pass. `setup_s` is the time from
  * JVM start to the end of the warm pass, less the one-off generation
  * of a new seed's inputs. With `--trace 0`
  * it prints the end-to-end metrics; with `--trace 1` it measures a
  * third of the window traced between two untraced thirds, and prints
  * per-layer metrics.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <scratch dir> --inputs <input cache dir>
  *   --traces <span output dir>
  *   [--corrupt-expected]
  *
  * The last stdout line is the result record; the line before it,
  * prefixed `report `, carries the details (pass count, tail
  * percentile, calibration, failures, tracing overhead).
  */
object Main {

  val Workloads: Map[String, Workload] =
    Seq(DedupFunnel, LakeCard).map(w => w.name -> w).toMap

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, inputs: String, traces: String,
                        corrupt: Boolean)

  def parse(a: Array[String]): Args = {
    def opt(k: String) = a.indexOf(k) match {
      case -1 => throw new IllegalArgumentException(s"missing $k")
      case i  => a(i + 1)
    }
    Args(opt("--workload"), opt("--seed").toLong, opt("--seconds").toDouble,
      opt("--trace") == "1", opt("--work"), opt("--inputs"), opt("--traces"),
      a.contains("--corrupt-expected"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val spark = GraftSession.builder("graftbench", s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.applyEngineConf(spark)
    spark
  }

  /** Library-independent drift probe (range → hash agg → sort): context
    * for telling machine drift from code changes, not a gated metric.
    */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200000L)
      .select((F.col("id") * 2654435761L % 1000003L).as("k"), F.col("id").as("v"))
      .groupBy("k").agg(F.sum("v").as("s"), F.count(F.lit(1)).as("c"))
      .orderBy(F.desc("s")).limit(100)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile of `xs` with at least ten samples beyond it:
    * (value, percentile, n).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds(): Double = cpuBean.getProcessCpuTime / 1e9

  /** Persisted RDDs and checkpoint blocks the session holds. */
  def leftovers(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.values.toSeq
    val ckpt = persisted.filter(_.isCheckpointed).map(_.id).toSet
    val blocks = sc.getRDDStorageInfo.filter(i => ckpt(i.id)).map(_.numCachedPartitions.toLong).sum
    (persisted.size - ckpt.size, blocks)
  }

  final class Loop(w: Workload, ctx: Ctx) {
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val steps = mutable.ArrayBuffer.empty[(String, Double)]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    val left = mutable.ArrayBuffer.empty[(Int, Long)]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    private var nextPass = 0
    private lazy val base = leftovers(ctx.spark)

    /** One pass: clock it, then check outputs and sample the heap. */
    def run(): Unit = {
      base
      ctx.pass = nextPass
      nextPass += 1
      ctx.stepTimes.clear()
      val c0 = cpuSeconds()
      val t0 = System.nanoTime()
      val threw =
        try {
          ctx.tracer match {
            case Some(t) => t("pass", "bench", ctx.pass)(w.pass(ctx))
            case None    => w.pass(ctx)
          }
          None
        } catch { case e: Exception => Some(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSeconds() - c0
      attempted += ctx.stepTimes.size
      threw.foreach { e =>
        failed += 1
        failures += s"pass ${ctx.pass} step ${ctx.stepTimes.lastOption.map(_._1).orNull} threw: $e"
        ctx.clearChecks()
      }
      val bad = ctx.tracer match {
        case Some(t) => t("check", "bench", ctx.pass)(ctx.runChecks())
        case None    => ctx.runChecks()
      }
      failed += bad.map(_._1).distinct.size
      bad.foreach { case (s, m) => failures += s"pass ${ctx.pass} $s: $m" }
      if (threw.isEmpty) {
        passWall += wall
        passCpu += cpu
        steps ++= ctx.stepTimes
      }
      // the ContextCleaner frees broadcast and shuffle state on its own
      // thread once a GC has found them unreachable: collect, let it
      // run, collect again, so the sample is the live set
      System.gc()
      Thread.sleep(300)
      System.gc()
      heapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      val (r, b) = leftovers(ctx.spark)
      left += ((r - base._1, b - base._2))
    }

    def runFor(seconds: Double): Unit = {
      val t0 = System.nanoTime()
      val before = passWall.size
      while (passWall.size == before || (System.nanoTime() - t0) / 1e9 < seconds) {
        val n = passWall.size
        run()
        if (passWall.size == n && failed > 3 * attempted / 4 + 2)
          throw new IllegalStateException(s"passes keep failing: ${failures.last}")
      }
    }
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  private def json(m: Seq[(String, Any)]): String = m.map {
    case (k, v: Double) => s""""$k":${num(v)}"""
    case (k, v: Float)  => s""""$k":${num(v.toDouble)}"""
    case (k, v: Int)    => s""""$k":$v"""
    case (k, v: Long)   => s""""$k":$v"""
    case (k, v: Boolean) => s""""$k":$v"""
    case (k, v: Seq[_]) => s""""$k":[${v.map(x => "\"" + esc(x.toString) + "\"").mkString(",")}]"""
    case (k, v)         => s""""$k":"${esc(v.toString)}""""
  }.mkString("{", ",", "}")

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    }

  private def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; " +
        s"one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val inputDir = s"${a.inputs}/${w.name}-${a.seed}"
    def newCtx(spark: SparkSession, tracer: Option[Tracer]) =
      new Ctx(spark, a.work, inputDir, a.seed, tracer, a.corrupt)

    val tGen = System.nanoTime()
    if (!new java.io.File(s"$inputDir/_COMPLETE").exists()) {
      val spark = session(a.work)
      try {
        Fs.rm(inputDir)
        w.generate(newCtx(spark, None))
        Fs.write(s"$inputDir/_COMPLETE", "")
      } finally spark.stop()
    }

    val genS = (System.nanoTime() - tGen) / 1e9
    var spark: SparkSession = null
    var ctx: Ctx = null
    var loop: Loop = null
    try {
      val tSetup = System.nanoTime()
      spark = session(a.work)
      ctx = newCtx(spark, None)
      w.setup(ctx)
      val sessionS = (System.nanoTime() - tSetup) / 1e9
      loop = new Loop(w, ctx)
      val tWarm = System.nanoTime()
      loop.run() // the untimed warm pass
      val warmS = (System.nanoTime() - tWarm) / 1e9
      val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 - genS
      val warmFailures = loop.failures.toSeq
      val warmAttempted = loop.attempted
      val warmFailed = loop.failed
      val calibPre = calibrate(spark)
      val tWindow = System.nanoTime()

      val main = new Loop(w, ctx)
      var traced: Loop = null
      var layers: Map[String, Double] = Map.empty
      var spans: Seq[Span] = Nil
      if (!a.trace) main.runFor(a.seconds)
      else {
        // untraced, traced, untraced: the traced passes sit between the
        // untraced ones on the JIT warm-up curve, so their difference is
        // the tracing overhead, not the warm-up
        main.runFor(a.seconds / 3)
        val sc = spark.sparkContext
        org.apache.spark.BenchBus.drain(sc)
        val listener = new SpanListener
        sc.addSparkListener(listener)
        val tracer = new Tracer(sc)
        val tracedCtx = newCtx(spark, Some(tracer))
        traced = new Loop(w, tracedCtx)
        traced.runFor(a.seconds / 3)
        org.apache.spark.BenchBus.drain(sc)
        sc.removeSparkListener(listener)
        main.runFor(a.seconds / 3)
        spans = tracer.spans.toSeq
        val n = traced.passWall.size
        val rowsOut = tracedCtx.counters("sources.rows_out")
        val rowsRead = spans.filter(_.layer == "sources")
          .flatMap(s => listener.costs.get(s.id)).map(_.recordsRead).sum
        layers = LayerReport.build(spans, listener, n, cores) ++ Map(
          "sources.rows_read_per_row_out" -> (if (rowsOut > 0) rowsRead / rowsOut else 0.0),
          "llm.dedup.pairs_out" -> tracedCtx.counters("llm.dedup.pairs_out") / math.max(n, 1),
          "session.cached_rdds_left" -> traced.left.map(_._1.toDouble).sum / math.max(n, 1),
          "session.checkpoint_blocks_left" -> traced.left.map(_._2.toDouble).sum / math.max(n, 1),
          "trace.overhead_s" -> (median(traced.passWall.toSeq) - median(main.passWall.toSeq)))
        writeSpans(s"${a.traces}/${w.name}-${a.seed}-spans.jsonl", spans, listener)
      }
      val windowS = (System.nanoTime() - tWindow) / 1e9
      val calibPost = calibrate(spark)
      val (stored, raw) = w.storedBytes(ctx)

      val loops = Seq(main) ++ Option(traced)
      val attempted = warmAttempted + loops.map(_.attempted).sum
      val failed = warmFailed + loops.map(_.failed).sum
      val failures = warmFailures ++ loops.flatMap(_.failures)
      val (tailV, tailP, tailN) = tail(main.steps.map(_._2).toSeq)
      val passS = median(main.passWall.toSeq)
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("rows_per_s", w.rowsPerPass * main.passWall.size / main.passWall.sum, "rows/s"),
        ("cpu_s", median(main.passCpu.toSeq), "s"),
        ("heap_live_mb", (loop.heapMb ++ main.heapMb).max, "MB"),
        ("stored_bytes_ratio", stored.toDouble / raw, "ratio"))
      val report = Seq[(String, Any)](
        "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace,
        "passes" -> main.passWall.size, "steps" -> main.steps.size,
        "pass_walls_s" -> main.passWall.map(num).toSeq, "pass_cpu_s" -> main.passCpu.map(num).toSeq,
        "warm_cpu_s" -> loop.passCpu.map(num).toSeq,
        "step_s_tail" -> tailV, "step_s_tail_percentile" -> tailP, "step_s_tail_n" -> tailN,
        "failed_frac" -> failed.toDouble / math.max(attempted, 1L),
        "input_rows_per_pass" -> w.rowsPerPass,
        "stored_bytes" -> stored, "written_raw_bytes" -> raw,
        "calib_pre_s" -> calibPre, "calib_post_s" -> calibPost,
        "cores" -> cores, "failures" -> failures.take(20),
        "phase_s" -> Seq(s"generate=${num(genS)}", s"session_and_inputs=${num(sessionS)}",
          s"warm_pass=${num(warmS)}", s"window=${num(windowS)}",
          s"jvm_uptime=${num(ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)}"),
        "step_median_s" -> main.steps.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=${num(median(v.map(_._2).toSeq))}" }) ++
        e2e.map { case (k, v, _) => k -> v } ++
        (if (a.trace) Seq("traced_passes" -> traced.passWall.size,
          "traced_pass_s" -> median(traced.passWall.toSeq), "untraced_pass_s" -> passS)
         else Nil)
      println("report " + json(report))
      val ms =
        if (!a.trace) e2e
        else Perlayer.names.map(k => (k, layers.getOrElse(k, 0.0), Perlayer.unit(k)))
      println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":${metrics(ms)}}""")
    } finally {
      if (ctx != null) try w.teardown(ctx) catch { case _: Exception => }
      if (spark != null) spark.stop()
    }
  }

  private def writeSpans(path: String, spans: Seq[Span], l: SpanListener): Unit = {
    val lines = spans.map { s =>
      val c = l.costs.getOrElse(s.id, new SpanCost)
      json(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "failed" -> s.failed, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "task_s" -> c.taskMs / 1000.0, "gc_s" -> c.gcMs / 1000.0,
        "shuffle_mb" -> c.shuffleBytes / 1e6, "spill_mb" -> c.spillBytes / 1e6,
        "bytes_read_mb" -> c.bytesRead / 1e6, "bytes_written_mb" -> c.bytesWritten / 1e6,
        "files_written" -> c.filesWritten))
    }
    Fs.write(path, lines.mkString("", "\n", "\n"))
  }
}

/** The per-layer metric names and units `--trace 1` reports. */
object Perlayer {
  val families: Seq[(String, String)] = Seq("calls" -> "count", "failed" -> "count",
    "self_s" -> "s", "driver_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "busy_frac" -> "ratio")
  val extras: Seq[(String, String)] = Seq(
    "sinks.bytes_written_mb" -> "MB", "sinks.files_written" -> "count",
    "sources.bytes_read_mb" -> "MB", "sources.rows_read_per_row_out" -> "ratio",
    "llm.dedup.pairs_out" -> "count", "session.cached_rdds_left" -> "count",
    "session.checkpoint_blocks_left" -> "count", "trace.overhead_s" -> "s",
    "trace.unattributed_task_frac" -> "ratio")
  private val all: Seq[(String, String)] =
    LayerReport.Layers.flatMap(l => families.map { case (f, u) => s"$l.$f" -> u }) ++ extras
  val names: Seq[String] = all.map(_._1)
  def unit(k: String): String = all.toMap.apply(k)
}
