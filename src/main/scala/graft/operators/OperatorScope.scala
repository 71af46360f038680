package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{GraftCheckpointStats, LogicalRDD}
import org.apache.spark.storage.StorageLevel

/** The one owner of an operator's temporary state in the caller's
  * long-lived SparkSession: the frames it persists, the lineage cuts
  * it makes, the broadcasts it ships and the session SQL conf it needs.
  *
  * {{{
  * OperatorScope(spark, OperatorScope.Coalesced) { scope =>
  *   val base = scope.persist(df.select(...))   // released on exit
  *   val cut  = scope.checkpoint(iterate(base)) // released on exit
  *   val out  = derive(cut).persist(StorageLevel.MEMORY_AND_DISK)
  *   out.count(); out                           // the caller unpersists
  * }
  * }}}
  *
  * On exit — return or throw — everything still registered is
  * released (`blocking = false`) and the scoped conf is handed back.
  * A returned frame is never registered.
  *
  * Lineage cuts (eager `localCheckpoint`) bound iterative plan growth
  * and keep cached-frame nesting out of explain trees (BENCHNOTES
  * round 8). Their blocks live outside the CacheManager, so the scope
  * keeps the backing RDDs taken from the frame's own `LogicalRDD` —
  * never a `getPersistentRDDs` diff, which under a multi-threaded
  * driver captures other queries' blocks (measured:
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND under the parallel test suite).
  *
  * Scoped conf ([[Setting]]) is held per session under a refcount: the
  * first scope to need a key saves the session's value and sets the
  * scoped one, the last one holding it restores the saved value, so
  * nested and overlapping scopes compose and the session ends as it
  * started. Settings change plan shape (partition counts, aggregate
  * fallback), never values: while scopes overlap, one operator's
  * persists may follow keys only the other holds — and so may frames
  * another thread persists outside any scope — so partition counts can
  * differ, results cannot.
  */
final class OperatorScope private () {

  // (handle, release action); identity-matched, released in reverse
  private val held = mutable.ArrayBuffer.empty[(AnyRef, () => Unit)]

  private def register(handle: AnyRef, release: () => Unit): Unit =
    synchronized { held += ((handle, release)) }

  /** Persist `ds` (MEMORY_AND_DISK) until [[release]] or scope exit. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    register(p, () => p.unpersist(blocking = false))
    p
  }

  /** Take ownership of a frame a callee persisted and returned (its
    * documented "`.unpersist()` the result when done" contract).
    */
  def adopt[T](ds: Dataset[T]): Dataset[T] = {
    register(ds, () => ds.unpersist(blocking = false))
    ds
  }

  /** Eager lineage cut: `localCheckpoint` with the MEASURED block size
    * as the leaf's stats — the copied pre-cut estimate compounds in
    * iterative self-joins until Catalyst's sizeInBytes overflows at ~25
    * rounds (GraftCheckpointStats). Unreadable once released.
    */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val out = GraftCheckpointStats.withMeasuredStats(ds.localCheckpoint(true))
    val rdds = out.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
    register(out, () => rdds.foreach(_.unpersist(blocking = false)))
    out
  }

  /** Broadcast `value`; the executor copies are unpersisted (not
    * destroyed — a recompute re-sends from the driver) on release.
    */
  def broadcast[T: ClassTag](spark: SparkSession, value: T): Broadcast[T] = {
    val b = spark.sparkContext.broadcast(value)
    register(b, () => b.unpersist(blocking = false))
    b
  }

  /** Release a registered handle now (superseded round state, a frame
    * no later step reads). A handle this scope does not hold is left
    * alone, so conditionally-persisted frames release uniformly.
    */
  def release(handle: AnyRef): Unit = take(handle).foreach(_())

  /** Hand a registered frame to the caller: it is no longer released
    * on exit (its blocks are then reclaimed by ContextCleaner once the
    * frame is garbage-collected, or by the caller).
    */
  def keep[T](ds: Dataset[T]): Dataset[T] = { take(ds); ds }

  private def take(handle: AnyRef): Option[() => Unit] = synchronized {
    val i = held.indexWhere(_._1 eq handle)
    if (i < 0) None else Some(held.remove(i)._2)
  }

  private def releaseAll(): Unit = {
    val all = synchronized { val a = held.toList; held.clear(); a }
    all.reverse.foreach { case (_, r) =>
      // best effort: a failed release must not mask the body's result
      // or exception (e.g. a SparkContext already stopped)
      try r() catch { case NonFatal(e) =>
        OperatorScope.log.warn(s"operator scope release failed: $e") }
    }
  }
}

object OperatorScope {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A session SQL conf value a scope holds while it runs. With a
    * `default`, the key is one a user may pin: the scope sets it only
    * when the session holds no value or Spark's `default`, and leaves
    * any other (pinned) value alone.
    */
  final case class Setting(key: String, value: String,
                           default: Option[String] = None)

  /** Cached-plan AQE. With the Spark default (false) the CacheManager
    * plans every persisted frame with adaptive execution off, so each
    * exchange below a `persist()` runs at the raw shuffle-partition
    * count — on dimension-sized frames that is cores-proportional
    * micro-tasks (measured r14 at 32 cores, sf0.1: q135 1401 tasks /
    * 40 task-sec for 0.4 MB of shuffle). On, those exchanges coalesce
    * by bytes. Read at `persist()` time, so a scope covers exactly its
    * own persists. Scoped, not session-wide: session-wide it regressed
    * the minhash funnel/probe 1.2–1.5× (r14; SCALING.md "Retired
    * levers").
    */
  val CachedPlanAqe = Setting(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")

  /** AQE's coalescing floor at 64 KB, for the CPU-dense-at-tiny-bytes
    * dedup funnels: at the default 1 MB their exchanges coalesce to one
    * partition and serialize (measured r14: q53's probe 601 → 42 tasks
    * but wall 6.2 → 8.0 s); 64 KB keeps ~8–16-way parallelism while
    * still deleting the empty micro-tasks.
    */
  val SmallPartitionFloor = Setting(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")

  /** ObjectHashAggregate's sort fallback (Spark default: 128 keys per
    * partition, far below any shingle corpus) for the minhash signature
    * aggregates; buffers are ~8·numHashes bytes, so ~256 MB/partition
    * worst case.
    */
  val ObjectAggThreshold = Setting(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144",
    default = Some("128"))

  /** The operators whose persisted frames are dimension-sized. */
  val Coalesced: Seq[Setting] = Seq(CachedPlanAqe)

  /** The minhash funnel and index probe. */
  val Minhash: Seq[Setting] =
    Seq(CachedPlanAqe, SmallPartitionFloor, ObjectAggThreshold)

  /** Run `body` with a fresh scope holding `conf` on `spark`. */
  def apply[T](spark: SparkSession, conf: Seq[Setting] = Nil)
      (body: OperatorScope => T): T = {
    enter(spark, conf)
    val scope = new OperatorScope
    try body(scope)
    finally try scope.releaseAll() finally exit(spark, conf)
  }

  // per session, per key: the value to restore and the holder count
  private final class Held(val saved: Option[String], val changed: Boolean) {
    var holders = 0
  }
  private val sessions = mutable.Map.empty[SparkSession, mutable.Map[String, Held]]

  private def enter(spark: SparkSession, conf: Seq[Setting]): Unit =
    if (conf.nonEmpty) sessions.synchronized {
      val keys = sessions.getOrElseUpdate(spark, mutable.Map.empty)
      // explicitly-set values only: getOption would report Spark's
      // default for an unset key, and restoring that would leave the
      // key set
      lazy val set = spark.conf.getAll
      conf.foreach { s =>
        val h = keys.getOrElseUpdate(s.key, {
          val saved = set.get(s.key)
          val pinned = s.default.exists(d => saved.exists(_ != d))
          if (!pinned) spark.conf.set(s.key, s.value)
          new Held(saved, changed = !pinned)
        })
        h.holders += 1
      }
    }

  private def exit(spark: SparkSession, conf: Seq[Setting]): Unit =
    if (conf.nonEmpty) sessions.synchronized {
      val keys = sessions(spark)
      conf.foreach { s =>
        val h = keys(s.key)
        h.holders -= 1
        if (h.holders == 0) {
          keys.remove(s.key)
          if (h.changed) h.saved match {
            case Some(v) => spark.conf.set(s.key, v)
            case None    => spark.conf.unset(s.key)
          }
        }
      }
      if (keys.isEmpty) sessions.remove(spark)
    }
}
