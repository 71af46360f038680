package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.exceptions._

/** Scale-safe EXACT interpolated quantiles (the `percentile` /
  * `quantile_cont` semantics) via distributed selection, replacing the
  * built-in `percentile` aggregate wherever the input column is
  * continuous and groups are data-sized.
  *
  * Why not `percentile`: Spark's exact `percentile` is a
  * TypedImperativeAggregate whose buffer is an in-heap value→count
  * map of every DISTINCT value in the group. For continuous doubles
  * distinct ≈ rows, so a global (or large-group) percentile holds the
  * whole column in ONE task's heap during the final merge — a
  * guaranteed OOM at the 100 TB design point. This operator computes
  * the same values (bit-identical: the same `p * (n-1)` position and
  * the same `(hi-pos)*vLo + (pos-lo)*vHi` interpolation) with nothing
  * but linear scans, O(buckets · |groups| · |ps|)-row aggregates, and
  * one final bounded window.
  *
  * Algorithm — iterative histogram refinement (distributed selection,
  * the classic "find rank k with log_B(n) counting passes"):
  *   1. per group: n, min, max → each needed rank k = ⌊(n−1)p⌋ / ⌈(n−1)p⌉
  *      becomes a target with state (interval [lo,hi], rowsBelow,
  *      rowsIn). Intervals start at [min,max] with rowsBelow = 0.
  *   2. while any target has rowsIn > threshold: one scan histograms
  *      each active target's interval into `buckets` buckets
  *      (monotonic float bucketing; equal values always share a
  *      bucket), a ≤buckets-row-per-target window picks the bucket
  *      containing the rank, and the interval shrinks to that
  *      bucket's EXACT member min/max (no float-boundary drift: the
  *      next membership predicate is v ∈ [bucketMin, bucketMax],
  *      both actual data values). A bucket whose min == max is all
  *      ties — the answer directly.
  *   3. final pass: candidates (≤ threshold per target) get a
  *      row_number window per (group, rank) — bounded partitions,
  *      spill-safe — and the row at rank k−rowsBelow is the value.
  *   4. interpolate per (group, p) exactly as Spark's Percentile:
  *      pos = p·(n−1) in double; q = (⌈pos⌉−pos)·v⌊pos⌋ +
  *      (pos−⌊pos⌋)·v⌈pos⌉ (QuantilesSpec pins bit-equality against
  *      `percentile` across seeded random data).
  *
  * Convergence: each pass divides rowsIn by up to `buckets`; heavy
  * ties collapse via the min==max rule, so n = 10¹² needs ~5 passes
  * at buckets = 256. If an interval stops shrinking (all remaining
  * values within one float ulp — width underflows), the loop exits
  * and the final window handles the residue; its partitions are
  * then tie-dominated and still sort-spillable, never an in-heap map.
  *
  * Groups that are entirely NULL yield q = NULL (matching
  * `percentile`). NaN values are rejected up front
  * (InvalidArgumentValue) rather than silently diverging from
  * `percentile`'s NaN-sorts-last convention — a NaN in a quantile
  * input is a data bug upstream.
  *
  * The iterative driver loop materializes per-round state with eager
  * `localCheckpoint` and releases superseded blocks immediately (the
  * `dupClusters` pattern — plan growth stays bounded). The RESULT is
  * persisted and materialized (groups × ps rows) so internal state
  * can be released before return — `.unpersist()` the result when
  * done.
  */
object Quantiles {

  /** Exact interpolated quantiles per group.
    *
    * @param df        input frame (scanned 2–4 times; the 2-column
    *                  projection is persisted MEMORY_AND_DISK for the
    *                  refinement passes and released before return)
    * @param groupCols grouping columns (empty = one global group)
    * @param valueCol  numeric column to take quantiles of
    * @param ps        probabilities in [0, 1]
    * @param buckets   histogram resolution per refinement pass
    * @param threshold max candidate rows a final window partition may
    *                  hold; the refinement loop runs until every
    *                  unresolved target is under it
    * @param persistResult when true the returned frame is
    *                  CacheManager-persisted and the CALLER must
    *                  `.unpersist()` it once consumed (the composing-
    *                  operator contract — DataCard uses it for its own
    *                  cache hygiene). Default false: the result is an
    *                  eager localCheckpoint at MEMORY_AND_DISK_2
    *                  (replicated — lineage is truncated, so on a real
    *                  cluster an unreplicated block lost to executor
    *                  decommission would be unrecomputable) whose
    *                  blocks ContextCleaner
    *                  reclaims when the frame is garbage-collected, so
    *                  fire-and-forget callers (profileNumeric,
    *                  winsorize, quantileTiers, gumbelTopFrac) never
    *                  accumulate pinned cache entries across calls in
    *                  a long-lived driver loop
    * @return one row per (group × p): groupCols ++ (p DOUBLE, q DOUBLE)
    */
  def exactQuantiles(df: DataFrame, groupCols: Seq[String],
                     valueCol: String, ps: Seq[Double],
                     buckets: Int = 256, threshold: Long = 4096,
                     maxIter: Int = 48,
                     broadcastTargetLimit: Long = 100000L,
                     persistResult: Boolean = false): DataFrame = {
    if (ps.isEmpty)
      throw InvalidArgumentValue("ps must be non-empty")
    ps.foreach { p =>
      if (p.isNaN || p < 0 || p > 1)
        throw InvalidArgumentValue(s"p must be in [0,1]: $p")
    }
    if (buckets < 2)
      throw InvalidArgumentValue(s"buckets must be >= 2: $buckets")
    if (threshold < 1)
      throw InvalidArgumentValue(s"threshold must be >= 1: $threshold")
    (groupCols :+ valueCol).foreach { c =>
      if (!df.columns.contains(c))
        throw InvalidArgumentValue(s"no such column: $c")
      if (c.startsWith("__"))
        throw InvalidArgumentValue(
          s"column $c collides with internal __ prefix")
    }
    val spark = df.sparkSession
    // scoped cached-plan AQE (OperatorScope.CachedPlanAqe): the
    // refinement loop's per-round state, the stats pass, and the
    // result are all dimension-sized persists whose exchanges
    // otherwise materialize at cores-proportional width — measured
    // r14: the quantile consumers (q70/q88/q98/q117/q134/q135) dropped
    // 0.76–0.92× wall and ~8× task count with this scope on, at
    // identical values (QuantilesSpec bit-equality stays green)
    OperatorScope(spark, OperatorScope.Coalesced) { scope =>
    // a global quantile still needs join/group keys downstream — give
    // it a constant synthetic group and drop it on the way out
    val (workDf, gNames) =
      if (groupCols.isEmpty) (df.withColumn("__grp", lit(0)), Seq("__grp"))
      else (df, groupCols)
    val g = gNames.map(col)

    // narrow projection, persisted: every refinement pass re-scans
    // it. Once the first round action has measured the target-state
    // size, the MANY-group regime re-persists this projection
    // hash-partitioned by the group keys (see below) so the per-pass
    // keyed join never re-exchanges the data side; `data`/`nonNull`
    // are vars only for that swap.
    val narrow =
      workDf.select((g :+ col(valueCol).cast("double").as("__v")): _*)
    var data = scope.persist(narrow)
    // ONE full pass computes everything the driver needs up front —
    // per-group n/min/max, the NaN presence flag, and the complete
    // group spine (all-NULL groups included) — where three separate
    // scans used to run: the old NaN `limit(1).count()` probe, the
    // stats aggregate, and the final `data.select(g).distinct()`
    // spine. The probe and the spine were each a full scan (and the
    // spine a data-keyed exchange) folded here into the aggregate's
    // map-side combine for free (guide §1.2: remove redundant passes).
    val statsAll = scope.persist(data.groupBy(g: _*).agg(
        count(col("__v")).as("__n"),
        min(col("__v")).as("__gmin"), max(col("__v")).as("__gmax"),
        max(when(isnan(col("__v")), 1).otherwise(0)).as("__hasnan")))
    var nonNull = data.filter(col("__v").isNotNull)
    // this count is the operator's first action: it materializes
    // `data` and `statsAll` in one pass and surfaces the NaN flag
    if (statsAll.filter(col("__hasnan") === 1).limit(1).count() > 0)
      throw InvalidArgumentValue(
        s"$valueCol contains NaN — exactQuantiles requires NaN-free input")

    // per-group n/min/max → one target per needed RANK (0-indexed);
    // floor and ceil ranks of every p, deduplicated. All-NULL
    // groups (n = 0) carry no targets — they rejoin via the spine.
    val stats = statsAll.filter(col("__n") > 0).drop("__hasnan")
    val psFrame = {
      import spark.implicits._
      ps.toDF("__p")
    }
    // (group, p, n, pos): the interpolation spine, reused at step 4
    val posMap = scope.persist(stats.crossJoin(broadcast(psFrame))
      .withColumn("__pos",
        col("__p") * (col("__n") - 1).cast("double"))
      .withColumn("__kl", floor(col("__pos")).cast("long"))
      .withColumn("__kh", ceil(col("__pos")).cast("long")))
    posMap.count()

    val groupKey = gNames // shorthand for join keys
    // target state: (group, __k, __cb rowsBelow, __lo, __hi,
    //                __cnt rowsIn, __ans resolved value or null)
    val targets0 = posMap
      .select((g :+ explode(array(col("__kl"), col("__kh"))).as("__k")
        :+ col("__n") :+ col("__gmin") :+ col("__gmax")): _*)
      .distinct()
      .select((g :+ col("__k") :+ lit(0L).as("__cb")
        :+ col("__gmin").as("__lo") :+ col("__gmax").as("__hi")
        :+ col("__n").as("__cnt")
        :+ when(col("__gmin") === col("__gmax"), col("__gmin"))
          .cast("double").as("__ans")): _*)

    // round state is a lineage cut per round, the superseded round
    // released as soon as the next one lands
    var targets = scope.checkpoint(targets0)
    val isActive = col("__ans").isNull && col("__cnt") > threshold
    // one action per round returns BOTH the convergence signal and
    // the active-target row count. The count gates an explicit
    // broadcast of the target side in the data join below:
    // localCheckpoint erases size stats (LogicalRDD reports the
    // default huge sizeInBytes), so WITHOUT the hint Catalyst
    // sort-merge-joins and re-shuffles the FULL data frame every
    // refinement pass — the measured full-column exchange this
    // branch exists to avoid. Above the limit (data-sized group
    // counts) the keyed shuffle join is the correct physical plan.
    val bcastTargetLimit = broadcastTargetLimit
    def roundStats(d: DataFrame): (Any, Long) = {
      val r = d.filter(isActive)
        .agg(max("__cnt"), count(lit(1))).head()
      (r.getAs[Any](0), r.getLong(1))
    }
    var (remaining, activeCnt) = roundStats(targets)
    // MANY-group regime: the target state will never broadcast, so
    // every pass would re-exchange the data side of the keyed join.
    // Re-persist the projection hash-partitioned by the group keys
    // once — the cached distribution satisfies the join requirement
    // for every subsequent pass (and for the final gather).
    if (groupCols.nonEmpty && activeCnt > bcastTargetLimit) {
      val partitioned = scope.persist(narrow.repartition(g: _*))
      partitioned.count() // materialize before dropping the old blocks
      scope.release(data)
      data = partitioned
      nonNull = data.filter(col("__v").isNotNull)
    }
    var prevRemaining = Long.MaxValue
    var iter = 0
    while (remaining != null &&
      // progress guard: when every unresolved interval is ≤ 1 ulp
      // wide the histogram can't split it further (max __cnt stops
      // strictly decreasing) — exit and let the final bounded
      // window absorb the tie-dominated residue
      remaining.asInstanceOf[Long] < prevRemaining &&
      iter < maxIter) {
      prevRemaining = remaining.asInstanceOf[Long]
      val active = targets.filter(isActive)
      val settled = targets.filter(!isActive)
      // histogram pass: monotonic float bucketing over each active
      // target's interval; equal values always share a bucket
      val w = (col("__hi") - col("__lo")) / buckets
      val activeSide =
        if (activeCnt <= bcastTargetLimit) broadcast(active) else active
      val hist = nonNull.join(activeSide, groupKey)
        .filter(col("__v") >= col("__lo") && col("__v") <= col("__hi"))
        .withColumn("__b",
          least(greatest(floor((col("__v") - col("__lo")) / w), lit(0)),
            lit(buckets - 1L)).cast("long"))
        .groupBy((g :+ col("__k") :+ col("__cb") :+ col("__b")): _*)
        .agg(count(lit(1)).as("__c"),
          min(col("__v")).as("__bmin"), max(col("__v")).as("__bmax"))
      // ≤ `buckets` rows per (group, k): pick the rank's bucket
      val cumW = Window
        .partitionBy((g :+ col("__k")): _*).orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val refined = hist
        .withColumn("__cum", coalesce(sum("__c").over(cumW), lit(0L)))
        .filter(col("__cb") + col("__cum") <= col("__k") &&
          col("__k") < col("__cb") + col("__cum") + col("__c"))
        .select((g :+ col("__k")
          :+ (col("__cb") + col("__cum")).as("__cb")
          :+ col("__bmin").as("__lo") :+ col("__bmax").as("__hi")
          :+ col("__c").as("__cnt")
          :+ when(col("__bmin") === col("__bmax"), col("__bmin"))
            .cast("double").as("__ans")): _*)
      val next = scope.checkpoint(settled.unionByName(refined))
      val (r, c) = roundStats(next)
      remaining = r
      activeCnt = c
      scope.release(targets)
      targets = next
      iter += 1
    }

    // final gather: candidates per unresolved target are bounded by
    // `threshold` (or by the tie-residue), so the per-(group, k)
    // row_number window partitions are small and sort-spillable
    val pending = targets.filter(col("__ans").isNull)
    // same broadcast gate as the histogram pass (targets is
    // checkpointed and tiny to scan, so the count action is cheap)
    val pendingSide =
      if (pending.count() <= bcastTargetLimit) broadcast(pending)
      else pending
    val rnW = Window.partitionBy((g :+ col("__k")): _*)
      .orderBy(col("__v"))
    val gathered = nonNull.join(pendingSide, groupKey)
      .filter(col("__v") >= col("__lo") && col("__v") <= col("__hi"))
      .withColumn("__rn", row_number().over(rnW))
      .filter(col("__cb") + col("__rn") - 1 === col("__k"))
      .select((g :+ col("__k") :+ col("__v").as("__ans")): _*)
    val resolved = targets.filter(col("__ans").isNotNull)
      .select((g :+ col("__k") :+ col("__ans")): _*)
      .unionByName(gathered)

    // interpolation — EXACTLY Spark Percentile.getPercentile:
    // pos = p·(n−1); q = (⌈pos⌉−pos)·v_lo + (pos−⌊pos⌋)·v_hi
    val vLo = resolved.select((g :+ col("__k").as("__kl")
      :+ col("__ans").as("__vl")): _*)
    val vHi = resolved.select((g :+ col("__k").as("__kh")
      :+ col("__ans").as("__vh")): _*)
    val interpolated = posMap
      .join(vLo, groupKey :+ "__kl")
      .join(vHi, groupKey :+ "__kh")
      .select((g :+ col("__p").as("p")
        // the two shortcuts mirror Spark Percentile.getPercentile
        // exactly: integral position, and equal neighbor values
        // (where algebraic interpolation could perturb an ulp)
        :+ when(col("__kl") === col("__kh") ||
            col("__vl") === col("__vh"), col("__vl"))
          .otherwise(
            (col("__kh").cast("double") - col("__pos")) * col("__vl") +
              (col("__pos") - col("__kl").cast("double")) * col("__vh"))
          .as("q")): _*)

    // all-NULL groups carry no targets but `percentile` still emits
    // them with q = NULL — restore via the group spine, read from
    // the cached stats pass instead of a second full-data
    // scan+distinct (the stats aggregate already IS the distinct)
    val spine = statsAll.select(g: _*)
      .crossJoin(broadcast(psFrame.select(col("__p").as("p"))))
    val out = spine.join(interpolated, groupKey :+ "p", "left")
      .select((groupCols.map(col) :+ col("p") :+ col("q")): _*)
    // the iterative loop already ran actions; materialize the final
    // join so the scope can release the persisted inputs on return.
    // persistResult chooses the result's lifecycle: a caller-
    // releasable CacheManager entry (composing operators) vs a
    // GC-reclaimed localCheckpoint (fire-and-forget callers) — see
    // the param doc
    if (persistResult) {
      val f = out.persist(StorageLevel.MEMORY_AND_DISK)
      f.count()
      f
    } else
      // replicated level: localCheckpoint truncates lineage, so a
      // non-replicated block lost to executor decommission (dynamic
      // allocation, spot kill) would make the returned frame
      // permanently unrecomputable mid-read on a real cluster. The
      // result is tiny (groups × ps rows), so the second replica
      // costs nothing; single-executor local mode keeps one copy
      // (replication degrades with a warn, never fails).
      out.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_2)
    }
  }
}
