package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload sees while it runs: the session, its scratch
  * directory, and the step/check bookkeeping of the current pass.
  *
  * A step is one public call into a graft layer plus the action that
  * materializes its result. Its output checks are registered with
  * [[verify]] and run by the driver loop after the pass clock stops.
  */
final class Ctx(val spark: SparkSession, val work: String,
                val inputDir: String, val seed: Long,
                val tracer: Option[Tracer], val corruptExpected: Boolean) {
  var pass = 0
  /** (step name, wall seconds) of every step of the current pass. */
  val stepTimes = mutable.ArrayBuffer.empty[(String, Double)]
  private val checks = mutable.ArrayBuffer.empty[(String, () => Option[String])]
  /** Workload-reported counts (rows out of a scan, pairs out of dedup). */
  val counters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  def step[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer match {
      case Some(t) => t(name, layer, pass)(body)
      case None    => body
    }
    finally stepTimes += ((name, (System.nanoTime() - t0) / 1e9))
  }

  /** Register an output check for step `name`; `None` means correct. */
  def verify(name: String)(check: => Option[String]): Unit =
    checks += ((name, () => check))

  /** Runs and clears the registered checks; returns the failing step
    * names with their messages.
    */
  def runChecks(): Seq[(String, String)] = {
    val out = checks.toSeq.flatMap { case (n, c) =>
      (try c() catch { case e: Throwable => Some(s"check threw: $e") }).map(n -> _)
    }
    checks.clear()
    out
  }

  def clearChecks(): Unit = checks.clear()

  /** The expected value a check compares against — perturbed when the
    * benchmark is asked to prove that its checks catch a wrong result.
    */
  def expect(x: Double): Double = if (corruptExpected) x + 1.0 else x
  def expect(x: Long): Long = if (corruptExpected) x + 1L else x

  def near(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.abs(b))
}

/** A pipeline of steps with its inputs and session state: a whole
  * workload, or a part that a workload runs in each of its passes.
  */
trait Section {
  /** Input rows one pass completes (for `rows_per_s`). */
  def rowsPerPass: Long
  /** Writes the seed's inputs under `ctx.inputDir` (once per seed). */
  def generate(ctx: Ctx): Unit
  /** Session-scoped set-up: load inputs, create tables, build indexes. */
  def setup(ctx: Ctx): Unit
  /** One pass; registers its checks on `ctx`. */
  def pass(ctx: Ctx): Unit
  /** Releases everything `setup` created. */
  def teardown(ctx: Ctx): Unit
}

/** One benchmark workload: a closed loop of passes from one client. */
trait Workload extends Section {
  def name: String
  /** (bytes on disk of what the passes wrote through `sinks`, raw text
    * bytes of the rows written there).
    */
  def storedBytes(ctx: Ctx): (Long, Long)
}

object Fs {
  def du(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => du(c.getPath)).sum).getOrElse(0L)
  }

  def rm(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => rm(c.getPath)))
    f.delete()
  }

  def write(path: String, text: String): Unit = {
    new java.io.File(path).getParentFile.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))
  }

  def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  /** key \t value lines. */
  def writeKv(path: String, kv: Seq[(String, String)]): Unit =
    write(path, kv.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))

  def readKv(path: String): Map[String, String] =
    read(path).linesIterator.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t", 2); k -> v
    }.toMap
}
