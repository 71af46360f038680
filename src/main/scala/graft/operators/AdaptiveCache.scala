package graft.operators

import org.apache.spark.sql.SparkSession

/** Scoped opt-in to AQE planning of CACHED plans
  * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`).
  *
  * With the Spark default (false) the CacheManager compiles every
  * persisted frame's plan with adaptive execution OFF, so each
  * exchange below a `persist()` materializes at the raw
  * `spark.sql.shuffle.partitions` — on dimension-sized frames that
  * fans cores-proportional micro-tasks (measured r14 at 32 cores,
  * sf0.1: q135_data_card_diff 1401 tasks / 40 executor-task-sec for
  * 0.4 MB of total shuffle; 10 task-sec at 8 cores — pure per-task
  * overhead). With the flag on, those exchanges coalesce by BYTES,
  * which is scale-adaptive: at production scale the same exchanges
  * are byte-heavy and keep their width.
  *
  * Scoped, not session-wide: a session-wide `true` was benched and
  * REJECTED (r14) — the minhash probe/funnel operators regressed
  * 1.2–1.5× wall with task-sec and GC inflation across their
  * signature-cache scans, while the quantile/data-card/winnow
  * operators improved 0.66–0.92×. The operators that win wrap their
  * bodies in [[withCoalescedCaches]]; everything else keeps the
  * Spark default.
  *
  * The conf is read by the CacheManager at `persist()` call time, so
  * wrapping an operator body covers exactly the frames it persists.
  * The flag changes plan shape only (partition counts), never values;
  * restore is in `finally`, so a throwing operator cannot leak the
  * setting into the session.
  */
object AdaptiveCache {

  val Key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
  val MinPartKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** @param minPartitionSize optional scoped override of AQE's
    *   coalescing floor. The default floor (1 MB) is right for
    *   byte-bound stages, but the dedup funnels are CPU-DENSE AT TINY
    *   BYTES — milliseconds of work per kilobyte — and coalescing
    *   their exchanges to 1 partition serializes them (measured r14:
    *   q53's probe collapsed from 601 tasks / 66 task-sec to 42 tasks
    *   / 8.3 task-sec — an 8× CPU-overhead saving — but wall went
    *   6.2 → 8.0 s because the 8 real task-seconds ran on one core).
    *   A 64 KB floor keeps ~8–16-way parallelism on those exchanges
    *   while still deleting the hundreds of empty micro-tasks. At
    *   production scale exchanges are ≫ the floor either way — the
    *   override only matters in the tiny-bytes regime it is for.
    *
    * Assumes ONE operator at a time per SparkSession: the scope sets
    * and restores session-wide SQL conf, so another thread persisting
    * frames on the same session inside the window inherits the scoped
    * values, and two overlapping scopes can restore out of order and
    * leave the wrong value behind. Nested scopes on one thread compose
    * correctly. Run concurrent operators on separate sessions
    * (`spark.newSession()`).
    */
  def withCoalescedCaches[T](spark: SparkSession,
                             minPartitionSize: Option[String] = None)
      (body: => T): T = {
    val prev = spark.conf.getOption(Key)
    val prevMin = spark.conf.getOption(MinPartKey)
    spark.conf.set(Key, "true")
    minPartitionSize.foreach(spark.conf.set(MinPartKey, _))
    try body
    finally {
      prev match {
        case Some(v) => spark.conf.set(Key, v)
        case None    => spark.conf.unset(Key)
      }
      if (minPartitionSize.isDefined) prevMin match {
        case Some(v) => spark.conf.set(MinPartKey, v)
        case None    => spark.conf.unset(MinPartKey)
      }
    }
  }
}
