package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exceptions._
import graft.operators.OperatorScope

/** Corpus-level statistical diagnostics for training-data curation —
  * the "what is in this 100 TB pile" layer that sits above the
  * per-document quality filters in [[TextAnalysis]]:
  *
  *   - [[sourceOverlapMatrix]] — cross-source n-gram overlap (the
  *     corpus-level contamination / split-leakage diagnostic);
  *   - [[charEntropy]] — per-document character entropy (a
  *     zero-shuffle noise/garbage signal: natural text sits ~4 bits,
  *     base64 blobs and key-mash ~6, repeated filler < 2);
  *   - [[zipfSlope]] — per-group token rank-frequency log-log slope
  *     (natural corpora fit ≈ −1; templated/synthetic text flattens
  *     it — Piantadosi 2014's diagnostic as a GROUP BY);
  *   - [[pmiCollocations]] — top adjacent-token collocations by
  *     pointwise mutual information (Church & Hanks 1990), the
  *     boilerplate-phrase / template-mining signal;
  *   - [[heavyHitterTokens]] — mergeable space-saving top-k tokens
  *     (Metwally et al. 2005; merge rule from Agarwal et al. 2013
  *     "Mergeable Summaries"), the bounded-memory path when the token
  *     vocabulary itself is too large to shuffle.
  *
  * All but the sketch are single-scan declarative plans (explode →
  * partial-aggregating groupBy), so Catalyst keeps the map side
  * combining and nothing data-sized crosses a shuffle that the
  * aggregate has not already reduced to (group × key) rows.
  */
object CorpusStats {

  /** Per-group KL divergence from the corpus-wide token distribution
    * — the drift dashboard between sources / snapshots / ingest
    * batches: KL(p_group ‖ p_corpus) over md5-hashed token buckets
    * (the fixed DSIR-style feature space, so the per-group state is
    * ≤ numBuckets rows at any corpus size), add-λ smoothed on both
    * sides. 0 ⇒ the group looks like the corpus; large ⇒ a source
    * whose vocabulary diverges (different language, template spam, a
    * broken extractor) — the triage signal for which source to
    * inspect with [[zipfSlope]] / [[heavyHitterTokens]].
    *
    * Exactness: the sum runs over the full bucket space — the
    * ≤ numBuckets corpus-observed buckets explicitly (every group
    * bucket is corpus-observed by construction), plus the closed-form
    * constant for never-observed buckets, so the result is the exact
    * KL of the smoothed distributions, not a truncation.
    *
    * Scale shape: one token explode → per-(group, bucket) counts with
    * map-side combine (≤ groups × numBuckets rows), the corpus bucket
    * table (≤ numBuckets rows, broadcast), one bounded join — nothing
    * data-sized past the first aggregation.
    *
    * @return (group, n_tokens, kl_nats)
    */
  def sourceDivergence(df: DataFrame, groupCol: String,
                       textCol: String, numBuckets: Int = 1000,
                       smoothing: Double = 1.0): DataFrame = {
    if (numBuckets < 2 || numBuckets > (1 << 24))
      throw InvalidArgumentValue(
        s"numBuckets must be in [2, 2^24], got $numBuckets")
    if (smoothing <= 0 || smoothing.isNaN)
      throw InvalidArgumentValue(
        s"smoothing must be positive, got $smoothing")
    // scoped cached-plan AQE (OperatorScope.CachedPlanAqe): every
    // persisted frame here is dimension-sized (≤ groups × buckets rows)
    OperatorScope(df.sparkSession, OperatorScope.Coalesced) { scope =>
    val lam = smoothing
    val lamB = smoothing * numBuckets
    val toks = df.select(col(groupCol).as("grp"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .select(col("grp"),
        pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10)
          .cast("long"), lit(numBuckets.toLong)).as("b"))
    // the (group, bucket) count table is the ONLY thing derived from
    // the corpus — ≤ groups × numBuckets rows — and feeds the corpus
    // model, the grid, and the totals, so it is persisted (one
    // tokenization pass total) and released before returning; the
    // |groups|-row result is materialized eagerly
    val gb = scope.persist(toks.groupBy("grp", "b").agg(count(lit(1)).as("cg")))
    // corpus bucket counts derive from the group counts (Σ over
    // groups is exact — same exploded tokens)
    val cb = gb.groupBy("b").agg(sum("cg").as("cc"))
    val gTot = gb.groupBy("grp").agg(sum("cg").as("ng"))
    val cTot = cb.agg(sum("cc").as("nc"),
      count(lit(1)).as("nObserved"))
    // full (group × corpus-observed bucket) grid — ≤ groups × B rows
    val grid = gTot.crossJoin(broadcast(cb))
      .join(gb, Seq("grp", "b"), "left")
      .na.fill(0L, Seq("cg"))
      .crossJoin(broadcast(cTot))
    val pg = (col("cg") + lam) / (col("ng") + lamB)
    val pc = (col("cc") + lam) / (col("nc") + lamB)
    // min, not first: ng/nc/nObserved are functionally determined by
    // grp, and min keeps the aggregate in partial-combining hash mode
    val observedPart = grid.groupBy("grp")
      .agg(min(col("ng")).as("n_tokens"),
        min(col("nc")).as("__nc"),
        min(col("nObserved")).as("__nb"),
        sum(pg * log(pg / pc)).as("__klObs"))
    // never-observed buckets: cg = cc = 0 for all of them — one
    // closed-form term per group
    val p0g = lit(lam) / (col("n_tokens") + lamB)
    val out = observedPart
      .select(col("grp").as(groupCol), col("n_tokens"),
        (col("__klObs") +
          (lit(numBuckets.toLong) - col("__nb")) * p0g *
            log(p0g / (lit(lam) / (col("__nc") + lamB))))
          .as("kl_nats"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
    }
  }

  /** Cross-group character n-gram overlap matrix.
    *
    * For every unordered pair of groups (sources, splits, snapshot
    * versions): the distinct-gram intersection size, Jaccard
    * similarity, and containment (intersection over the SMALLER gram
    * set — the direction-free analogue of [[Dedup.ngramContainmentJoin]]'s
    * doc-level signal). High containment between a train source and an
    * eval source is the corpus-level leakage alarm that doc-level
    * contamination checks (q59/q66) localize afterwards.
    *
    * Scale shape: ONE explode + distinct to (group, gram) — the hash
    * aggregate partial-combines map-side so the shuffle carries
    * distinct (group, gram) rows, bounded by gram-space × groups, not
    * by corpus size; the pair join is an equi-join ON gram whose
    * output is |pairs sharing a gram| ≤ groups² × gram-space. With
    * tens of groups this is dimension-table sized at any corpus size.
    * The gram set is persisted and the (tiny) result materialized
    * before returning (round-13): the sizes aggregate and the two
    * self-join sides are three separate subtrees Catalyst does not
    * dedup, so unpersisted they re-ran the full corpus explode three
    * times (measured: 2 of q110's 3 explode jobs were duplicates).
    * The result frame is persisted — `.unpersist()` it when done (the
    * `minhashNearDups` caller contract).
    */
  def sourceOverlapMatrix(df: DataFrame, groupCol: String,
                          textCol: String, n: Int = 4): DataFrame = {
    if (n < 1) throw InvalidArgumentValue(s"n must be >= 1, got $n")
    // scoped cached-plan AQE (OperatorScope.CachedPlanAqe): the gram
    // set and the pair matrix are dimension-bounded persists
    OperatorScope(df.sparkSession, OperatorScope.Coalesced) { scope =>
    // spreadSmallScan: the explode + partial-aggregated distinct
    // below otherwise runs in ONE task on a single-file corpus (the
    // wordGramRows rationale); the gate adds no exchange at scale
    val grams = scope.persist(InputSpread.spreadSmallScan(
        df.select(col(groupCol).as("grp"), col(textCol).as("__txt")),
        "__txt")
      .select(col("grp"), explode(Dedup.shingles(col("__txt"), n)).as("g"))
      .distinct())
    val sizes = grams.groupBy("grp").agg(count(lit(1)).as("n_grams"))
    val a = grams.as("a")
    val b = grams.as("b")
    val inter = a.join(b, col("a.g") === col("b.g") &&
        col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("group_a"), col("b.grp").as("group_b"))
      .agg(count(lit(1)).as("n_common"))
    val out = inter
      .join(sizes.withColumnRenamed("grp", "group_a")
        .withColumnRenamed("n_grams", "n_a"), "group_a")
      .join(sizes.withColumnRenamed("grp", "group_b")
        .withColumnRenamed("n_grams", "n_b"), "group_b")
      .select(col("group_a"), col("group_b"),
        col("n_a"), col("n_b"), col("n_common"),
        (col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
          .as("jaccard"),
        (col("n_common") / least(col("n_a"), col("n_b")))
          .as("containment"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
    }
  }

  /** Per-row Shannon character entropy (bits): −Σ p(c)·log₂ p(c) over
    * the code points of `textCol`, plus the code-point count.
    *
    * A single zero-shuffle `mapPartitions` kernel with an
    * allocation-reused BMP count array (the `compressionRatio`
    * pattern — Spark's higher-order array functions are
    * CodegenFallback and measured ~9× slower here): O(len) per row,
    * one scan at any scale. Astral code points fall back to a small
    * hash map; NULL text yields NULL metrics, empty text entropy 0.0.
    */
  def charEntropy(df: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the kernel decodes ids into a primitive Long — a non-integral
    // id would cast to NULL and die deep in the deserializer with an
    // opaque error; fail fast with the module's own exception instead
    df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => ()
      case dt => throw InvalidArgumentValue(
        s"idCol '$idCol' must be an integral type, got ${dt.simpleString}")
    }
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val counts = new Array[Int](65536)
        val touched = new Array[Int](65536)
        val ln2 = math.log(2.0)
        rows.map { case (id, t) =>
          if (t == null) (id, None, None)
          else if (t.isEmpty) (id, Some(0L), Some(0.0))
          else {
            var astral: java.util.HashMap[Integer, Int] = null
            var nTouched = 0
            var n = 0L
            var i = 0
            while (i < t.length) {
              val cp = t.codePointAt(i)
              if (cp < 65536) {
                if (counts(cp) == 0) { touched(nTouched) = cp; nTouched += 1 }
                counts(cp) += 1
              } else {
                if (astral == null) astral = new java.util.HashMap
                val prev = astral.get(cp)
                astral.put(cp, if (prev == null) 1 else prev + 1)
              }
              i += Character.charCount(cp)
              n += 1
            }
            var ent = 0.0
            val nd = n.toDouble
            var j = 0
            while (j < nTouched) {
              val p = counts(touched(j)) / nd
              ent -= p * (math.log(p) / ln2)
              counts(touched(j)) = 0 // reset for the next row
              j += 1
            }
            if (astral != null) astral.values.forEach { c =>
              val p = c.toDouble / nd
              ent -= p * (math.log(p) / ln2)
            }
            (id, Some(n), Some(ent))
          }
        }
      }
      .toDF("id", "n_chars_text", "char_entropy")
  }

  /** Token rank-frequency Zipf slope per group: regression slope of
    * ln(frequency) on ln(rank) over the group's token frequency table
    * (rank 1 = most frequent; ties broken token-ascending so the rank
    * is a total order and replays identically anywhere). Natural
    * language fits ≈ −1; strongly templated or deduplicated-to-death
    * corpora flatten toward 0.
    *
    * Scale shape: explode → (group, token) count (map-side combined,
    * shuffle ≤ vocab × groups) → one keyed window for rank →
    * `regr_slope` aggregate (constant-size buffer). Nothing holds the
    * vocabulary in one task's heap.
    */
  def zipfSlope(df: DataFrame, groupCol: String,
                textCol: String): DataFrame = {
    val freq = df
      .select(col(groupCol).as("grp"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("grp")
      .orderBy(col("cnt").desc, col("tok").asc)
    freq.withColumn("rk", row_number().over(w))
      .groupBy("grp")
      .agg(
        expr("regr_slope(ln(cnt), ln(rk))").as("zipf_slope"),
        count(lit(1)).as("n_types"),
        sum("cnt").as("n_tokens"))
  }

  /** Top-k adjacent-token collocations by pointwise mutual
    * information with a minimum pair count (Church & Hanks 1990):
    * PMI(a,b) = ln( (c_ab / B) / ((c_a / T) · (c_b / T)) ) where B =
    * total bigrams and T = total tokens. Every input to the final ln
    * is an exact integer count, so the score is reproducible
    * bit-for-bit from the counts on any engine.
    *
    * Scale shape: two explode+count aggregates (bigrams via one
    * arrays_zip of the token array with its tail — no self-join),
    * broadcast-joined unigram counts onto the ≥minCount bigram
    * survivors, one global top-k. Shuffle ≤ vocab² (and in practice
    * the minCount filter prunes before the join).
    */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 5, k: Int = 100): DataFrame = {
    if (k < 1) throw InvalidArgumentValue(s"k must be >= 1, got $k")
    val toks = df.select(TextAnalysis.tokens(col(textCol)).as("t"))
    val uni = toks.select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val biAll = toks
      .select(explode(expr(
        "arrays_zip(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1))"))
        .as("p"))
      .select(col("p.0").as("a"), col("p.1").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val bi = biAll.where(col("c_ab") >= minCount)
    // totals are over ALL tokens/bigrams — computed before the
    // minCount filter, which prunes candidates, not probability mass
    val totals = uni.agg(sum("c").as("t_tokens")).crossJoin(
      biAll.agg(sum("c_ab").as("t_bigrams")))
    // prune the unigram table to tokens that actually appear in a
    // surviving bigram BEFORE it is joined: the full vocabulary is
    // web-scale (the reason heavyHitterTokens exists), but the
    // survivors are bounded by the minCount filter — ≤ 2·|bi| tokens.
    // No forced broadcast: AQE picks broadcast when the pruned side
    // measures small, shuffle-join when an adversarial corpus leaves
    // it large, so the 8 GB broadcast ceiling is never a correctness
    // cliff.
    val liveToks = bi.select(col("a").as("tok"))
      .union(bi.select(col("b").as("tok"))).distinct()
    val uniLive = uni.join(liveToks, Seq("tok"), "left_semi")
    val scored = bi
      .join(uniLive.select(col("tok").as("a"), col("c").as("c_a")), "a")
      .join(uniLive.select(col("tok").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(totals))
      .withColumn("pmi",
        log((col("c_ab") / col("t_bigrams")) /
          ((col("c_a") / col("t_tokens")) * (col("c_b") / col("t_tokens")))))
    // top-k first (TakeOrderedAndProject — distributed selection, no
    // global window over the full candidate set), then rank the ≤k
    // survivors; the single-partition window is bounded by k
    scored
      .orderBy(col("pmi").desc, col("a").asc, col("b").asc)
      .limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(
        col("pmi").desc, col("a").asc, col("b").asc)).cast("long"))
      .select("a", "b", "c_ab", "c_a", "c_b", "pmi", "rk")
  }

  /** Token frequency-of-frequencies (the Good–Turing count-of-counts
    * table, Gale & Sampson 1995): for each observed token count r,
    * how many types N_r have it, the mass r·N_r they carry, and its
    * share of all tokens. The singleton row (r = 1) is the
    * vocabulary's open-endedness signal; a heavy low-r tail means
    * tokenizer/vocab pressure, a fat high-r head means boilerplate.
    *
    * Scale shape: two map-combined aggregations — (token → count)
    * bounded by vocab, then (count → types) bounded by distinct
    * counts — plus a broadcast 1-row total. Nothing data-sized
    * shuffles twice.
    */
  def freqOfFreqs(df: DataFrame, textCol: String): DataFrame = {
    val f = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val total = f.agg(sum("c").as("__t"))
    f.groupBy("c").agg(count(lit(1)).as("n_types"))
      .crossJoin(broadcast(total))
      .select(col("c").as("cnt"), col("n_types"),
        (col("c") * col("n_types")).as("mass"),
        (col("c") * col("n_types") / col("__t")).as("mass_share"))
  }

  /** Quantile-tiered corpus stats: cut a numeric column into
    * `tiers` equal-probability buckets with EXACT interpolated bounds
    * ([[graft.operators.Quantiles.exactQuantiles]] — scale-safe at
    * any group size) and aggregate per tier. The curation dashboard's
    * "what does each decile of document length / quality score look
    * like" row, built from the same selection primitive the profiler
    * uses, so the bounds replay exactly in any engine with
    * `quantile_cont`.
    *
    * Tier t ∈ [1, tiers] = 1 + number of interior bounds strictly
    * below the value (a value sitting exactly on a bound stays in
    * the lower tier); NULL values are dropped, matching the
    * quantile's own null semantics. Scale shape: one exactQuantiles
    * call (linear scans, O(buckets) state), a (tiers−1)-row
    * broadcast join, one aggregation.
    */
  def quantileTiers(df: DataFrame, valueCol: String,
                    tiers: Int = 10): DataFrame = {
    if (tiers < 2)
      throw InvalidArgumentValue(s"tiers must be >= 2, got $tiers")
    val ps = (1 until tiers).map(_.toDouble / tiers)
    val bounds = graft.operators.Quantiles
      .exactQuantiles(df, Nil, valueCol, ps)
      .agg(collect_list(col("q")).as("__bs"))
    // Column-API aggregate (not an interpolated SQL string): a value
    // column whose name needs backticks (dots, spaces) resolves the
    // same way it does everywhere else in the module
    val v = col(valueCol).cast("double")
    df.filter(col(valueCol).isNotNull)
      .crossJoin(broadcast(bounds))
      .withColumn("tier",
        (lit(1) + aggregate(col("__bs"), lit(0),
          (acc, b) => acc + when(v > b, 1).otherwise(0)))
          .cast("long"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_rows"),
        min(col(valueCol)).as("v_min"),
        max(col(valueCol)).as("v_max"),
        avg(col(valueCol)).as("v_avg"))
  }

  // ---------------------------------------------------------------
  // Mergeable space-saving heavy hitters
  // ---------------------------------------------------------------

  /** One space-saving counter summary: `thr` is the summary-wide
    * upper bound on the true count of any ABSENT token; per token,
    * true count ∈ [lower, upper]. (Metwally et al. 2005: upper = est,
    * lower = est − err, thr = min est once the summary is full.)
    */
  private final case class Summary(
      thr: Long, items: scala.collection.mutable.HashMap[String, (Long, Long)])

  /** Resumable space-saving counter set with a lazily rebuilt
    * min-heap (stale entries skipped; heap rebuilt from the live map
    * when it exceeds 8× capacity, so updates stay O(log capacity)
    * amortized and memory stays O(capacity)). `private[graft]` so the
    * streaming layer can carry the counters as
    * flatMapGroupsWithState state and keep inserting across
    * micro-batches — space-saving is an insertion algorithm, so the
    * continuation is exactly the batch single-pass.
    */
  private[graft] final class SpaceSaving(capacity: Int) {
    val counters = new scala.collection.mutable.HashMap[String, (Long, Long)]
    private val cmp: java.util.Comparator[(String, Long)] =
      (x: (String, Long), y: (String, Long)) =>
        java.lang.Long.compare(x._2, y._2)
    private val pq = new java.util.PriorityQueue[(String, Long)](
      math.max(16, capacity), cmp)

    private def push(t: String, est: Long): Unit = {
      pq.add((t, est))
      if (pq.size > 8 * capacity) {
        pq.clear()
        counters.foreach { case (tk, (e, _)) => pq.add((tk, e)) }
      }
    }

    /** Restore a counter (state resume); caller feeds ≤ capacity. */
    def seed(t: String, est: Long, err: Long): Unit = {
      counters.update(t, (est, err)); push(t, est)
    }

    def insert(t: String): Unit =
      counters.get(t) match {
        case Some((est, err)) =>
          counters.update(t, (est + 1, err)); push(t, est + 1)
        case None if counters.size < capacity =>
          counters.update(t, (1L, 0L)); push(t, 1L)
        case None =>
          // evict the live minimum (skip heap entries superseded by
          // later increments or prior evictions)
          var popped = pq.poll()
          while (!counters.get(popped._1).exists(_._1 == popped._2))
            popped = pq.poll()
          val (victim, minEst) = popped
          counters.remove(victim)
          counters.update(t, (minEst + 1, minEst)); push(t, minEst + 1)
      }

    /** Upper bound on the true count of any token NOT in `counters`. */
    def threshold: Long =
      if (counters.size < capacity) 0L
      else counters.valuesIterator.map(_._1).min
  }

  private def spaceSaving(toks: Iterator[String], capacity: Int): Summary = {
    val ss = new SpaceSaving(capacity)
    toks.foreach(ss.insert)
    // convert (est, err) counters to the (upper, lower) bound
    // representation the merge layer works in
    val bounds = ss.counters.map { case (t, (est, err)) =>
      t -> (est, est - err)
    }
    Summary(ss.threshold, bounds)
  }

  /** Agarwal et al. 2013 merge: thresholds add; a token absent from
    * one side contributes that side's threshold to the upper bound
    * and 0 to the lower; pruning back to `capacity` keeps the largest
    * uppers and folds the largest pruned upper into the threshold
    * (every pruned upper ≤ every kept upper, so the bound is sound).
    */
  private def mergeSummaries(a: Summary, b: Summary,
                             capacity: Int): Summary = {
    val out = new scala.collection.mutable.HashMap[String, (Long, Long)]
    (a.items.keysIterator ++ b.items.keysIterator).foreach { t =>
      if (!out.contains(t)) {
        val (ua, la) = a.items.get(t)
          .map { case (u, l) => (u, l) }.getOrElse((a.thr, 0L))
        val (ub, lb) = b.items.get(t)
          .map { case (u, l) => (u, l) }.getOrElse((b.thr, 0L))
        out.update(t, (ua + ub, la + lb))
      }
    }
    var thr = a.thr + b.thr
    if (out.size > capacity) {
      val sorted = out.toSeq.sortBy { case (t, (u, _)) => (-u, t) }
      val pruned = sorted.drop(capacity)
      thr = math.max(thr, pruned.head._2._1)
      Summary(thr, scala.collection.mutable.HashMap(sorted.take(capacity): _*))
    } else Summary(thr, out)
  }

  private def summaryToRows(pid: Int, s: Summary): Iterator[(Int, String, Long, Long, Long)] =
    s.items.iterator.map { case (t, (u, l)) => (pid, t, u, l, s.thr) }

  /** Regroup summary rows by summary id. Returns (minId, summaries) —
    * the min id re-tags a MERGED summary uniquely: task ids must NOT
    * be used for that, because `coalesce` runs several mapPartitions
    * invocations inside one task, and identically-tagged summaries
    * would silently collide at the next regroup.
    */
  private def rowsToSummaries(rows: Iterator[(Int, String, Long, Long, Long)]): (Int, Seq[Summary]) = {
    val byPid = scala.collection.mutable.HashMap[Int, Summary]()
    rows.foreach { case (pid, t, u, l, thr) =>
      val s = byPid.getOrElseUpdate(pid,
        Summary(thr, scala.collection.mutable.HashMap()))
      s.items.update(t, (u, l))
    }
    (if (byPid.isEmpty) 0 else byPid.keysIterator.min,
      byPid.values.toSeq)
  }

  /** Top-k heavy-hitter tokens via mergeable space-saving summaries —
    * the bounded-memory alternative to a full (token → count) shuffle
    * when the vocabulary itself is web-scale (URLs, hashes, n-grams).
    *
    * Three levels, every task O(capacity · summaries-in-task) memory:
    *   1. per input partition: one space-saving pass over the token
    *      stream (lower/upper bounds per kept token, threshold for
    *      absent ones);
    *   2. summaries hash-partition by summary id into `mergeGroups`
    *      tasks, each folding its summaries with the Agarwal merge;
    *   3. one final task folds the ≤mergeGroups group summaries and
    *      emits the top k by upper bound.
    *
    * Returned columns: token, est (upper bound), err (upper − lower),
    * rk. When `capacity` exceeds every partition's distinct-token
    * count no counter is ever evicted, so est is the EXACT count and
    * err = 0 regardless of partitioning — the configuration the
    * oracle-checked query pins; the approximate regime's bound
    * invariants (lower ≤ true ≤ upper, true top-1 survives) are
    * property-tested in CorpusStatsSpec.
    */
  def heavyHitterTokens(df: DataFrame, textCol: String, k: Int,
                        capacity: Int = 1 << 16,
                        mergeGroups: Int = 32): DataFrame =
    heavyHitterItems(
      df.select(explode(TextAnalysis.tokens(col(textCol))).as("item")),
      "item", k, capacity, mergeGroups)

  /** [[heavyHitterTokens]] over an arbitrary already-itemized column
    * — the form the motivating vocabularies actually arrive in
    * (URLs, n-gram streams, hash buckets). Same summary tree, same
    * bounds.
    */
  def heavyHitterItems(df: DataFrame, itemCol: String, k: Int,
                       capacity: Int = 1 << 16,
                       mergeGroups: Int = 32): DataFrame = {
    if (k < 1) throw InvalidArgumentValue(s"k must be >= 1, got $k")
    if (capacity < k)
      throw InvalidArgumentValue(
        s"capacity ($capacity) must be >= k ($k)")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(itemCol).cast("string"))
      .filter(col(itemCol).isNotNull).as[String]
    // tuple Datasets throughout (column names stay _1.._5) so the
    // repartition key can be addressed without a rename round-trip.
    // mapPartitionsWithIndex (not TaskContext.partitionId) for the
    // summary id: under a coalesced input several partition
    // invocations share one task id, and colliding ids would merge
    // summaries by overwrite instead of by the bound-preserving rule
    val partials = spark.createDataset(
      toks.rdd.mapPartitionsWithIndex { (idx, it) =>
        summaryToRows(idx, spaceSaving(it, capacity))
      })
    val grouped = partials
      .repartition(mergeGroups, col("_1"))
      .as[(Int, String, Long, Long, Long)]
      .mapPartitions { rows =>
        val (minId, ss) = rowsToSummaries(rows)
        if (ss.isEmpty) Iterator.empty
        else summaryToRows(minId, ss.reduce(mergeSummaries(_, _, capacity)))
      }
    val finalRows = grouped.coalesce(1).mapPartitions { rows =>
      val (_, ss) = rowsToSummaries(rows)
      if (ss.isEmpty) Iterator.empty
      else {
        val merged = ss.reduce(mergeSummaries(_, _, capacity))
        merged.items.toSeq
          .sortBy { case (t, (u, _)) => (-u, t) }
          .take(k).zipWithIndex.iterator
          .map { case ((t, (u, l)), i) => (t, u, u - l, i + 1L) }
      }
    }
    finalRows.toDF("token", "est", "err", "rk")
  }
}
