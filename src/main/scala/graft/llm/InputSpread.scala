package graft.llm

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Scan-parallelism decoupling for explode-heavy operators (guide
  * §2.5 "input skew": one small or unsplittable input file runs a
  * whole gram-explode pipeline in a single task, serializing the map
  * side on a many-core executor — measured at sf0.1, where the
  * single-file documents table ran q55/q106/q110's explode + partial
  * aggregate at parallelism ≈ 1 on 32 cores).
  *
  * `spreadSmallScan` hash-repartitions by a DETERMINISTIC key (the
  * guide's retry-safety rule — never `rand()`) ONLY when driver-side
  * file metadata says the scan cannot reach the session's default
  * parallelism: estimated splits = Σ ceil(fileBytes/maxPartitionBytes)
  * over the frame's backing files, compared against
  * `sparkContext.defaultParallelism`. At scale the gate never fires —
  * a 100 TB table has orders of magnitude more splits than cores — so
  * no exchange is ever added to the big-data path; locally it costs
  * one exchange of the NARROW pre-explode projection (text bytes,
  * ~1/k of the gram mass the downstream stages handle) in return for
  * full map-side parallelism. This is the same trade
  * `Dedup.shingleHashRows` makes unconditionally for the minhash
  * funnel, gated so operators whose downstream exchange is BOUNDED
  * (partial-aggregated distincts) don't inherit a corpus-sized
  * shuffle at scale.
  *
  * The gate reads only `df.inputFiles` plus FileSystem.getFileStatus
  * — it never plans an adaptive stage or runs a job. Frames not
  * backed by a simple file relation (joins, unions, cached frames)
  * report no input files and are left unchanged (unknown layout =
  * conservative no-op).
  */
private[graft] object InputSpread {

  /** Compressed input bytes per spread slice (≈ a few hundred docs). */
  private val SliceBytes = 64L * 1024

  def spreadSmallScan(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val files =
      try df.inputFiles
      catch { case NonFatal(_) => Array.empty[String] }
    // more files than cores → the scan parallelizes on its own
    if (files.isEmpty || files.length >= par) return df
    val maxSplit =
      try spark.sessionState.conf.filesMaxPartitionBytes
      catch { case NonFatal(_) => 128L * 1024 * 1024 }
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val (estSplits, totalBytes) =
      try {
        val lens = files.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(hadoopConf).getFileStatus(p).getLen
        }
        (lens.map(l => math.max(1L, (l + maxSplit - 1) / maxSplit)).sum,
          lens.sum)
      } catch { case NonFatal(_) => return df }
    // Spread width is BYTES-CAPPED, not blindly the core count: every
    // task carries a fixed overhead (measured ~0.25 s of codegen /
    // aggregate-buffer setup per task in the gram pipelines), so
    // fanning a 100 KB reference table out to 32 tasks costs more
    // wall than the serial explode it replaces (measured: q126
    // +1 s wall at width 32). One slice per `SliceBytes` of
    // compressed input keeps the per-task overhead amortized while
    // medium inputs still reach full parallelism.
    val width = math.min(par.toLong,
      math.max(2L, (totalBytes + SliceBytes - 1) / SliceBytes)).toInt
    // EXPLICIT partition count: a bare `repartition(col)` is an
    // AQE-coalescible exchange, and the pre-explode projection is
    // tiny by construction here (that's why the gate fired) — AQE's
    // bytes-based coalescer folds it straight back to one partition
    // (measured: q110's post-spread explode still ran 1 task),
    // because it cannot see the explode fan-out downstream. A
    // user-specified partition count is exempt from coalescing.
    if (estSplits >= width) df else df.repartition(width, col(key))
  }
}
