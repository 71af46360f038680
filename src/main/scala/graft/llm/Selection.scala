package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exceptions._
import graft.operators.OperatorScope

/** Data-selection operators for training-data pipelines: hashed
  * n-gram importance resampling (DSIR, Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling") and
  * temperature-based source mixing (the multilingual-sampling rule of
  * Arivazhagan et al. 2019 §5 / XLM-R). Everything is deterministic —
  * hash-derived uniforms replace random state, so a 100 TB selection
  * is re-derivable forever and replayable in any SQL engine (the
  * correctness oracles recompute the same formulas in DuckDB).
  */
object Selection {

  /** md5-derived bucket of a gram string: the top 60 bits of md5 mod
    * `numBuckets` — the same engine-replayable convention as
    * `TextAnalysis.hashSample` (DuckDB:
    * `('0x' || substr(md5(g), 1, 15))::BIGINT % B`).
    */
  private def gramBucket(gram: Column, numBuckets: Int): Column =
    pmod(conv(substring(md5(gram), 1, 15), 16, 10).cast("long"),
      lit(numBuckets.toLong))

  /** Bag-of-grams rows (id, bucket): unigrams plus bigrams of the
    * whitespace-split lowercase text, WITH multiplicity (DSIR features
    * are counts, not sets), each hashed into `numBuckets`. ONE scan:
    * a doc with L tokens explodes positions 1..2L−1 — 1..L are the
    * unigrams, L+1..2L−1 the bigrams at start i−L — so the corpus is
    * tokenized once, not once per gram order; everything stays inside
    * whole-stage codegen. Zero-length tokens are dropped before
    * hashing (an empty/whitespace-only doc would otherwise mint one
    * spurious empty-string gram and every empty doc would share its
    * bucket — the trainBpeMerges length(w) > 0 convention); empty
    * docs therefore emit NO gram rows and are absent from DSIR
    * scores rather than identically-weighted.
    */
  private def gramBucketRows(df: DataFrame, idCol: String,
                             textCol: String,
                             numBuckets: Int): DataFrame = {
    // spreadSmallScan: the unigram+bigram explode below otherwise
    // runs in ONE task on a single-file corpus (the wordGramRows
    // rationale); the file-metadata gate adds no exchange at scale
    val toks = graft.llm.InputSpread.spreadSmallScan(
        df.select(col(idCol).cast("long").as("id"),
          col(textCol).as("__txt")), "id")
      .select(col("id"),
        filter(split(trim(lower(col("__txt"))), "\\s+"),
          w => length(w) > 0).as("t"))
      .filter(size(col("t")) > 0)
    val L = size(col("t"))
    val gram = when(col("i") <= L, element_at(col("t"), col("i")))
      .otherwise(concat_ws(" ",
        element_at(col("t"), col("i") - L),
        element_at(col("t"), col("i") - L + 1)))
    toks.select(col("id"), col("t"),
        explode(sequence(lit(1), greatest(L * 2 - 1, lit(1)))).as("i"))
      .select(col("id"), gramBucket(gram, numBuckets).as("b"))
  }

  private def checkArgs(numBuckets: Int, smoothing: Double): Unit = {
    if (numBuckets < 2 || numBuckets > (1 << 24))
      throw InvalidArgumentValue(
        s"numBuckets must be in [2, 2^24], got $numBuckets")
    if (smoothing <= 0 || smoothing.isNaN)
      throw InvalidArgumentValue(
        s"smoothing must be positive, got $smoothing")
  }

  /** DSIR importance weights: fit add-λ-smoothed hashed bag-of-ngram
    * (uni+bi) bucket distributions p̂_T on `target` and p̂_R on `raw`,
    * then score every raw document
    *
    *   log w(x) = Σ_{g ∈ grams(x)} [ log p̂_T(b(g)) − log p̂_R(b(g)) ]
    *
    * with p̂(b) = (c_b + λ) / (N + λ·B). High log_w ⇒ the document
    * looks like the target distribution relative to the raw corpus —
    * the importance score DSIR resamples by ([[dsirSampleFraction]]).
    *
    * Scale shape: the feature space is the FIXED bucket space, so the
    * model is ≤ `numBuckets` rows no matter how large either corpus
    * is — it is broadcast by construction (capped at 2^24 buckets ≈
    * a few hundred MB; DSIR uses 10^4). Both corpora are scanned once
    * into (id, bucket) gram rows; the raw gram frame feeds BOTH the
    * model build and the scoring join, so it is persisted across the
    * two uses (one corpus tokenization, not two — the unigramLogProb
    * pattern) and released before returning; per-(doc, bucket) counts
    * partial-aggregate map-side; the scoring join is gram-rows ⋈
    * broadcast model followed by one per-doc aggregation — no
    * windows, no driver-side data, shuffles keyed on fixed-width
    * longs only. The small (one row per doc) result is persisted and
    * materialized — `.unpersist()` it when done.
    *
    * @param raw    corpus to score (the selection pool)
    * @param target corpus defining the wanted distribution (only its
    *               bucket counts are used; typically orders of
    *               magnitude smaller than raw)
    * @return (id, n_grams, log_w) — log_w unrounded; round for
    *         display / cross-engine comparison
    */
  def dsirLogWeights(raw: DataFrame, target: DataFrame,
                     idCol: String, textCol: String,
                     numBuckets: Int = 10000,
                     smoothing: Double = 1.0): DataFrame = {
    checkArgs(numBuckets, smoothing)
    // scoped cached-plan AQE (OperatorScope.CachedPlanAqe): the
    // gram-bucket cache and the per-doc weight result are the only
    // persists — both shuffle-bounded by buckets/docs, never
    // CPU-dense per byte
    OperatorScope(raw.sparkSession, OperatorScope.Coalesced) { scope =>
    val rawGrams =
      scope.persist(gramBucketRows(raw, idCol, textCol, numBuckets))
    val tgtCnt = gramBucketRows(target, idCol, textCol, numBuckets)
      .groupBy("b").agg(count(lit(1)).as("__ct"))
    // every scored bucket appears in the raw counts by construction
    // (the scored docs ARE the raw corpus), so raw-left-join-target
    // covers the whole support; absent target buckets smooth to λ
    val rawCnt = rawGrams.groupBy("b").agg(count(lit(1)).as("__cr"))
    val model = rawCnt.join(tgtCnt, Seq("b"), "left")
      .select(col("b"), col("__cr"),
        coalesce(col("__ct"), lit(0L)).as("__ct"))
    val tgtTot = tgtCnt.agg(sum("__ct").as("__nt"))
    val rawTot = rawCnt.agg(sum("__cr").as("__nr"))
    val lam = lit(smoothing)
    val lamB = lit(smoothing * numBuckets)
    // the model is ≤ numBuckets rows by construction — statically
    // broadcastable at the DSIR-typical 10^4..10^6; above 2^20 the
    // hint comes off and AQE picks the strategy from measured size
    val modelSide =
      if (numBuckets <= (1 << 20)) broadcast(model) else model
    val perBucket = rawGrams.groupBy("id", "b")
      .agg(count(lit(1)).as("__c"))
      .join(modelSide, "b")
      .crossJoin(broadcast(tgtTot))
      .crossJoin(broadcast(rawTot))
      .select(col("id"), col("__c"),
        (log((col("__ct") + lam) /
            (coalesce(col("__nt"), lit(0L)) + lamB)) -
          log((col("__cr") + lam) / (col("__nr") + lamB))).as("__lr"))
    val out = perBucket.groupBy("id")
      .agg(sum("__c").as("n_grams"),
        sum(col("__c") * col("__lr")).as("log_w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
    }
  }

  /** Hash-derived uniform in (0, 1) and its Gumbel transform — the
    * deterministic replacement for DSIR's Gumbel-top-k noise: u is
    * the md5 convention reduced mod 10^6 shifted off the endpoints,
    * g = −ln(−ln u). Reproducible across engines, runs, and retries.
    */
  private def gumbelKey(idCol: Column): Column = {
    val u = (pmod(conv(substring(md5(idCol.cast("string")), 1, 15),
      16, 10).cast("long"), lit(1000000L)).cast("double") + lit(0.5)) /
      lit(1000000.0)
    -log(-log(u))
  }

  /** DSIR selection, top-n form: Gumbel-top-k resampling without
    * replacement — key(x) = log w(x) + Gumbel(u(id)), keep the n
    * largest keys. Spark plans the sort+limit as a per-partition
    * top-n (TakeOrdered), so no partition ever holds the corpus; the
    * n survivors do pass through the driver, so for selections sized
    * as a fraction of a 100 TB corpus use [[dsirSampleFraction]],
    * which thresholds distributedly instead.
    *
    * @return (id, log_w, key) of the n selected documents
    */
  def dsirResampleTopN(raw: DataFrame, target: DataFrame,
                       idCol: String, textCol: String, n: Int,
                       numBuckets: Int = 10000,
                       smoothing: Double = 1.0): DataFrame = {
    if (n <= 0) throw InvalidArgumentValue(s"n must be positive, got $n")
    OperatorScope(raw.sparkSession) { scope =>
      val w = scope.adopt(dsirLogWeights(raw, target, idCol, textCol,
        numBuckets, smoothing))
      val out = w.select(col("id"), col("log_w"),
          (col("log_w") + gumbelKey(col("id"))).as("key"))
        .orderBy(col("key").desc, col("id").asc)
        .limit(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    }
  }

  /** DSIR selection, fraction form — the 100 TB path: compute the
    * (1 − frac) exact quantile of the Gumbel-perturbed keys with the
    * distributed histogram-refinement selector (O(buckets) state, no
    * driver-side data) and keep every document whose key clears it.
    * Returns ≈ frac·N documents (exactly the set above the exact
    * threshold — re-derivable, engine-replayable).
    *
    * @return (id, log_w, key) of the selected documents — persisted
    *         and materialized (the keyed frame it derives from is
    *         already released); `.unpersist()` when done
    */
  def dsirSampleFraction(raw: DataFrame, target: DataFrame,
                         idCol: String, textCol: String, frac: Double,
                         numBuckets: Int = 10000,
                         smoothing: Double = 1.0): DataFrame = {
    if (frac.isNaN || frac <= 0 || frac >= 1)
      throw InvalidArgumentValue(s"frac must be in (0,1), got $frac")
    OperatorScope(raw.sparkSession) { scope =>
      val w = scope.adopt(dsirLogWeights(raw, target, idCol, textCol,
        numBuckets, smoothing))
      // a narrow projection of the already-persisted weights — the
      // quantile passes re-read w's cache, no second persist needed
      val keyed = w.select(col("id"), col("log_w"),
        (col("log_w") + gumbelKey(col("id"))).as("key"))
      // empty in ⇒ empty out (there is no quantile of nothing — head()
      // on the threshold row would throw)
      if (w.count() == 0) keyed
      else {
        val thr = graft.operators.Quantiles
          .exactQuantiles(keyed, Seq.empty, "key", Seq(1.0 - frac))
          .select(col("q")).head().getDouble(0)
        val out = keyed.filter(col("key") >= lit(thr))
        out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          .count()
        out
      }
    }
  }

  /** Temperature-based source sampling weights (Arivazhagan et al.
    * 2019 §5; the XLM-R mixing rule): with source masses m_i (total
    * `costCol` per group), sample source i with probability
    * q_i ∝ m_i^α. α = 1 reproduces the natural distribution, α = 0 is
    * uniform, α ∈ (0, 1) upweights low-resource sources. Returns the
    * per-source audit table; `round9` pins m^α to 9 decimals so the
    * weights are engine-replayable (pow is ≤ 1 ulp, not correctly
    * rounded, in both JVMs and C libms — the rounding absorbs it).
    *
    * Scale shape: one partial-aggregated groupBy to |sources| rows;
    * everything after is arithmetic on that table.
    *
    * @return (group, mass, weight, share) — weight = round(m^α, 9),
    *         share = weight / Σ weights
    */
  def temperatureWeights(df: DataFrame, groupCol: String,
                         costCol: String,
                         alpha: Double): DataFrame = {
    if (alpha.isNaN || alpha < 0 || alpha > 1)
      throw InvalidArgumentValue(s"alpha must be in [0,1], got $alpha")
    val masses = df.groupBy(col(groupCol))
      .agg(sum(col(costCol).cast("long")).as("mass"))
    val w = round(pow(col("mass").cast("double"), lit(alpha)), 9)
    val tot = masses.select(w.as("__w"))
      .agg(sum("__w").as("__ws"))
    masses.select(col(groupCol), col("mass"), w.as("weight"))
      .crossJoin(broadcast(tot))
      .select(col(groupCol), col("mass"), col("weight"),
        (col("weight") / col("__ws")).as("share"))
  }

  /** Temperature-mixed corpus sample: per-source budgets
    * ⌊totalBudget · share_i⌋ from [[temperatureWeights]], filled by
    * the deterministic hash-ordered prefix rule of
    * `TextAnalysis.sampleToBudget` (its 256-bucket two-phase running
    * sum — no per-source window ever holds a source). Only the
    * |sources|-row weight table passes through the driver.
    */
  def temperatureMixSample(df: DataFrame, idCol: String,
                           costCol: String, groupCol: String,
                           alpha: Double,
                           totalBudget: Long): DataFrame = {
    // a zero-MASS source is dropped regardless of α: at α > 0 its
    // weight is already 0, but at α = 0 pow(0, 0) = 1 would hand it a
    // real budget (diluting every live source) and then "select" all
    // its zero-cost docs — mass > 0 is the contract, not weight > 0
    // alone; null group keys likewise select nothing
    val wrows = temperatureWeights(df, groupCol, costCol, alpha)
      .filter(col(groupCol).isNotNull && col("weight") > 0 &&
        col("mass") > 0)
      .select(col(groupCol).cast("string"), col("weight"))
      .collect()
    val weights = wrows
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // empty corpus (or all sources mass-0/null) ⇒ empty selection,
    // not sampleToBudget's require() blowing up
    if (weights.isEmpty) return df.filter(lit(false))
    TextAnalysis.sampleToBudget(df, idCol, costCol, groupCol,
      weights, totalBudget)
  }
}
