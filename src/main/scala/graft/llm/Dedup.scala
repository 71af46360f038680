package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exceptions._
import graft.operators.OperatorScope

/** Document deduplication operators for training-data pipelines.
  *
  * Not in the reference's surface (its dedup story stops at
  * drop-duplicated-column-names, awswrangler/catalog/_utils.py:166) —
  * these are the engine's 100 TB-scale extensions. Design rules:
  *
  *   - signatures (MinHash / SimHash) are computed ROW-LOCALLY with
  *     codegen'd higher-order functions — zero shuffle until buckets;
  *   - candidate pairs come from banded/chunked bucket joins, NEVER an
  *     all-pairs cross join (O(n²) is impossible at 5B documents);
  *   - every candidate is exact-verified (Jaccard / Hamming) so LSH
  *     false positives never escape; band counts are sized so false
  *     negatives are negligible (miss probability < 1e-7 at the
  *     threshold).
  */
object Dedup {

  /** Large prime modulus for the universal-hash family (fits minhash
    * products in a long without ANSI overflow: p² < 2⁶²).
    */
  private val P = 2147483647L // 2^31 - 1, Mersenne prime

  /** Deterministic universal-hash parameters (a·h + b mod P). */
  private def hashParams(n: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((rnd.nextInt(Int.MaxValue - 1).toLong + 1L,
                 rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Distinct lowercase character k-gram shingles of a text column —
    * built with sequence/transform so the whole thing stays inside
    * whole-stage codegen.
    */
  def shingles(text: Column, k: Int): Column = {
    val lowered = lower(text)
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(lowered) - (k - 1), lit(1))),
        i => lowered.substr(i, lit(k))))
  }

  /** Per-group exact duplicate metrics — which sources/snapshots are
    * polluting the corpus: same single-pass content-hash aggregation
    * as [[exactDupStats]] but keyed, plus the duplicate-mass rate.
    * Shuffle is the distinct (group, hash) set with map-side combine;
    * the second aggregate is |groups|-sized.
    */
  def exactDupStatsByGroup(df: DataFrame, groupCol: String,
                           textCol: String): DataFrame =
    df.groupBy(col(groupCol).as("grp"), md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("grp")
      .agg(
        sum("cnt").as("n_total"),
        count(lit(1)).as("n_unique"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        (sum("cnt") - count(lit(1))).as("n_removed"))
      .withColumn("dup_rate",
        round(col("n_removed").cast("double") / col("n_total"), 6))

  /** Exact duplicate metrics by content hash (md5 of the text column).
    * One aggregation: counts, distinct contents, and duplicate-group
    * count in a single pass.
    */
  def exactDupStats(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .agg(
        sum("cnt").as("n_total"),
        count(lit(1)).as("n_unique"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        (sum("cnt") - count(lit(1))).as("n_removed"))

  /** Drop exact duplicates keeping the smallest id per content hash
    * (deterministic winner, unlike dropDuplicates' arbitrary row).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol)))
      .orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** One (id, 64-bit shingle hash) row per sliding-window OCCURRENCE —
    * deliberately NOT deduped (round-12): minhash MIN aggregates are
    * idempotent under duplicates, so the signature path never needed
    * set semantics, yet the old global `.distinct()` here was a
    * full-corpus exchange of the HASHED SHINGLE mass (~16 bytes per
    * input character — q31's single biggest job at sf0.1: ~117 MB /
    * 55 task-sec, corpus-sized at 100 TB) paid before ANY candidate
    * pruning. Consumers that DO need set semantics (the exact-Jaccard
    * verifies) dedup AFTER pruning to candidate docs, where the
    * exchange is candidate-sized instead of corpus-sized.
    *
    * The (id, text) projection is hash-repartitioned by id BEFORE the
    * explode — the one exchange this pipeline keeps, and it moves
    * TEXT bytes (~1/16 of the shingle mass the old distinct moved).
    * It buys three things: explode parallelism independent of the
    * scan's file layout (a small single-file corpus otherwise runs
    * the whole funnel's map side in ONE task — measured when the
    * distinct's exchange was first dropped); id-clustering that the
    * signature groupBy(id) and the downstream distinct-on-(id, s)
    * both SATISFY without further exchanges (hash(id) ⊆ any
    * clustering keyed on id); and per-doc locality for the verify's
    * candidate prune scans.
    */
  private def shingleHashRows(df: DataFrame, idCol: String,
                              textCol: String, shingleK: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        lower(col(textCol)).as("txt"))
      .repartition(col("id"))
      .select(col("id"), col("txt"),
        explode(sequence(lit(1),
          greatest(length(col("txt")) - (shingleK - 1), lit(1)))).as("i"))
      .select(col("id"),
        xxhash64(expr(s"substring(txt, i, $shingleK)")).as("s"))

  /** One-permutation signatures (`minhash_oph_sigs`): numHashes
    * high-bit buckets over ONE hash per shingle occurrence, min per
    * bucket, rotation densification — one bucket update per row in
    * place of numHashes affine evaluations + buffer updates, the
    * 100-TB formulation of signature CPU. A DIFFERENT hash family:
    * signatures, bands, and candidates all differ from the affine
    * family's, but every surviving pair is still exact-verified, so
    * the returned pair set agrees wherever both families' LSH recall
    * is 1 (LlmSpec pins oph == affine == exact on the spec corpus;
    * q142 pins it against the DuckDB brute-force oracle). Run it
    * inside a scope holding `OperatorScope.ObjectAggThreshold`.
    */
  private def ophSignaturesOf(shingleRows: DataFrame, numHashes: Int,
                              seed: Long): DataFrame = {
    val spark = shingleRows.sparkSession
    graft.functions.GraftFunctions.register(spark)
    shingleRows.groupBy("id")
      .agg(call_function("minhash_oph_sigs", col("s"),
        lit(numHashes.toLong), lit(seed)).as("ms"))
      .select(col("id") +:
        (0 until numHashes).map(i => col("ms")(i).as(s"m$i")): _*)
  }

  /** Signatures via the one-buffer `minhash_sigs` typed aggregate
    * over the hashed shingles — partial (map-side) aggregation shrinks
    * the shuffle to |docs|·numHashes longs. Output schema
    * (id, m0..m{n-1}). Measured −25/−31% task-sec on q31 at 500k docs
    * and −15/−20% at 50k against the 128-MIN-expression formulation,
    * both orders, identical shuffle (SCALING.md round-13). The row
    * hash `h` keeps Spark's `pmod` (one per ROW, and its
    * signed-negative semantics differ from an unsigned fold). Run it
    * inside a scope holding `OperatorScope.ObjectAggThreshold`.
    */
  private def signaturesOf(shingleRows: DataFrame, numHashes: Int,
                           seed: Long): DataFrame = {
    val spark = shingleRows.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val params = hashParams(numHashes, seed)
    shingleRows.withColumn("h", pmod(col("s"), lit(P)))
      .groupBy("id")
      .agg(call_function("minhash_sigs", col("h"),
        typedlit(params.map(_._1).toArray),
        typedlit(params.map(_._2).toArray)).as("ms"))
      .select(col("id") +:
        (0 until numHashes).map(i => col("ms")(i).as(s"m$i")): _*)
  }

  /** (id, band, bh) LSH band projection of a signature table. With
    * `sketchLongs > 0` each banded row also carries sk0..sk{n-1}: the
    * low BYTES of the first 8·n minhash components packed 8-per-long —
    * the map-side pair estimator `minhashNearDups` cuts on BEFORE the
    * pair-band exchange. A byte is a truncation of the component, so
    * P(byte match) = J + (1−J)/256 — the +1/256 collision bias is
    * folded into the cut arithmetic at the call site.
    */
  private def bandedOf(sig: DataFrame, numHashes: Int, bands: Int,
                       sketchLongs: Int = 0): DataFrame = {
    val r = numHashes / bands
    val sk = (0 until sketchLongs).map { j =>
      (0 until 8).map(b =>
        shiftleft(col(s"m${8 * j + b}").bitwiseAND(lit(255L)), 8 * b))
        .reduce(_.bitwiseOR(_)).as(s"sk$j")
    }
    sig.select((col("id") +:
        explode(array((0 until bands).map { j =>
          struct(lit(j).as("band"),
            xxhash64((lit(j) +: (0 until r).map(i =>
              col(s"m${j * r + i}"))): _*).as("bh"))
        }: _*)).as("b") +: sk): _*)
      .select((col("id") +: col("b.band").as("band") +:
        col("b.bh").as("bh") +:
        (0 until sketchLongs).map(j => col(s"sk$j"))): _*)
  }

  /** Matching-byte count between two packed-byte long columns — the
    * codegen'd kernel of the map-side pair estimate. Per long: XOR,
    * then an OR-spread of each byte's bits into its bit 0 (shifts stay
    * within the byte for the sampled position, so the mask is EXACT —
    * no SWAR borrow caveats), mask to 0x0101…, popcount = nonzero
    * (mismatching) bytes; 8 − that = matches.
    */
  private def byteMatches(a: Column, b: Column): Column = {
    val y = a.bitwiseXOR(b)
    val nz = (1 to 7).map(s => shiftrightunsigned(y, s))
      .foldLeft(y)(_.bitwiseOR(_))
      .bitwiseAND(lit(0x0101010101010101L))
    lit(8) - bit_count(nz)
  }

  /** The map-side sketch cut shared by `minhashNearDups` and
    * `probeMinhashIndex`: (packed sketch longs, pair predicate over the
    * `x`/`y` banded sides) for a 6σ one-sided cut at `threshold` on a
    * ≤32-byte signature truncation, with the byte-truncation collision
    * bias folded in as P(match) = J + (1−J)/256. When the threshold is
    * too low for the sketch to separate at 6σ, or `engage` is false,
    * no sketch columns are carried and the predicate is `true`.
    */
  private def sketchCut(numHashes: Int, threshold: Double,
                        engage: Boolean): (Int, Column) = {
    val pMatch = threshold + (1 - threshold) / 256.0
    val skLongs = math.min(4, numHashes / 8)
    val kBytes = 8 * skLongs
    val cutBytes =
      if (skLongs <= 0) 0
      else math.floor(kBytes * pMatch -
        6.0 * math.sqrt(kBytes * pMatch * (1 - pMatch))).toInt
    if (!engage || cutBytes < 1) (0, lit(true))
    else (skLongs, (0 until skLongs).map(j =>
      byteMatches(col(s"x.sk$j"), col(s"y.sk$j"))).reduce(_ + _) >=
      lit(cutBytes))
  }

  /** Shared parameter check of the minhash operators: a zero `bands`
    * would divide by zero, and a threshold outside (0, 1] (NaN
    * included) makes the 6σ slack NaN, so every estimate comparison is
    * false and the operator would silently return no pairs.
    */
  private def requireMinhashParams(numHashes: Int, bands: Int,
                                   threshold: Double): Unit = {
    if (numHashes <= 0)
      throw InvalidArgumentValue(
        s"numHashes must be positive, got $numHashes")
    if (bands <= 0)
      throw InvalidArgumentValue(s"bands must be positive, got $bands")
    requireThreshold(threshold)
    if (numHashes % bands != 0)
      throw InvalidArgumentValue(
        s"numHashes ($numHashes) must be divisible by bands ($bands)")
  }

  /** `threshold` in (0, 1]; written so that NaN fails too. */
  private def requireThreshold(threshold: Double): Unit =
    if (!(threshold > 0.0 && threshold <= 1.0))
      throw InvalidArgumentValue(
        s"threshold must be in (0, 1], got $threshold")

  /** Signature-similarity prefilter over candidate (id_a, id_b) pairs:
    * the fraction of matching minhash components is an unbiased
    * Jaccard estimate with σ = sqrt(J(1−J)/numHashes) (≈0.035 at
    * J=0.8, 128 hashes), so pairs estimated below threshold − 6σ are
    * dropped before the expensive set intersection — a true pair at
    * the threshold fails a 6σ one-sided cut at ~1e-9 (4σ would be
    * ~3e-5, ABOVE the module's <1e-7 budget). The estimate is
    * numHashes codegen'd comparisons per pair. `sigA` / `sigB` are
    * (id, m0..) signature frames for the two sides; `hintB` wraps the
    * projected b side (a caller's broadcast hint).
    */
  private def signatureEstimate(pairs: DataFrame, sigA: DataFrame,
                                sigB: DataFrame, numHashes: Int,
                                threshold: Double,
                                hintB: DataFrame => DataFrame = identity)
      : DataFrame = {
    val slack = 6.0 * math.sqrt(threshold * (1 - threshold) / numHashes)
    def side(sig: DataFrame, id: String, p: String): DataFrame =
      sig.select(col("id").as(id) +:
        (0 until numHashes).map(i => col(s"m$i").as(s"$p$i")): _*)
    val estMatches = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(side(sigA, "id_a", "a"), "id_a")
      .join(hintB(side(sigB, "id_b", "b")), "id_b")
      .filter(estMatches.cast("double") / numHashes >= threshold - slack)
      .select("id_a", "id_b")
  }

  /** |A ∩ B| per candidate pair, join-based: `a` and `b` are DISTINCT
    * (id, `key`) rows of the two sides, and the pairs join each side
    * on its id, then the b side on (id_b, key). No arrays are
    * materialized or carried through shuffles, and every step is
    * codegen'd; a candidate side AQE sees as small broadcasts, so each
    * join streams its set rows once and drops non-candidates in place.
    * Output (id_a, id_b, ix).
    */
  private def overlaps(pairs: DataFrame, a: DataFrame, b: DataFrame,
                       key: String): DataFrame =
    pairs
      .join(a.select(col("id").as("id_a"), col(key)), "id_a")
      .join(b.select(col("id").as("id_b"), col(key)), Seq("id_b", key))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("ix"))

  /** Exact Jaccard verify: |A ∪ B| = |A|+|B|−|A∩B| from the caller's
    * per-doc set sizes (`sizesA` / `sizesB`: (id, size)), pairs below
    * `threshold` dropped. The result (id_a, id_b, jaccard) is persisted
    * and counted, so it is materialized when it is returned.
    */
  private def exactJaccard(pairs: DataFrame, a: DataFrame, b: DataFrame,
                           key: String, sizesA: DataFrame,
                           sizesB: DataFrame,
                           threshold: Double): DataFrame = {
    val result = overlaps(pairs, a, b, key)
      .join(sizesA.toDF("id_a", "na"), "id_a")
      .join(sizesB.toDF("id_b", "nb"), "id_b")
      .withColumn("jaccard",
        col("ix").cast("double") / (col("na") + col("nb") - col("ix"))
          .cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    result
  }

  /** MinHash-LSH near-duplicate pairs, exact-verified.
    *
    * @param numHashes signature length (bands × rowsPerBand)
    * @param bands     LSH bands; a pair becomes a candidate iff at
    *                  least `minBandMatches` band signatures match
    * @param threshold exact Jaccard cutoff applied to candidates
    * @param minBandMatches band-agreement prefilter. Classic LSH is 1;
    *   requiring ≥m matching bands cheaply drops the moderately-similar
    *   background that a small shingle alphabet lets through (expected
    *   matches at Jaccard J is bands·J^r — 13 at J=0.8 vs 0.2 at
    *   J=0.27 with b=32, r=4 — so m=3 costs ~1e-5 recall at the
    *   threshold while cutting the exact-verify set by ~100×)
    * @param maxBandBucket degenerate-bucket guard, ON BY DEFAULT
    *   (2000, the measured-exact value from SCALING.md round 8's
    *   open-vocabulary decade, where the UNguarded Σ|bucket|² band
    *   enumeration grew 4.4× in shuffle for 3× data — the corpus
    *   shape a web crawl actually has — while the cap produced the
    *   IDENTICAL pair set at every scale); `<= 0` opts out (the
    *   `winnowNearDups` `maxDocFreq` convention).
    *   The band-bucket self-join is quadratic PER BUCKET: a corpus
    *   with a mass-duplicated boilerplate doc (the common case at
    *   web scale) puts millions of ids in one bucket and the join
    *   tries 10^12 pairs — the standard way LSH dedup jobs die.
    *   When set, buckets larger than the cap emit a min-id STAR
    *   (every member paired with the bucket's smallest id — linear)
    *   instead of all pairs. Downstream semantics: returned pairs are
    *   still exact-verified (never a false positive), but pair
    *   ENUMERATION inside oversized buckets is reduced to hub edges —
    *   the mode is built for the `dupClusters`/`dedupNearDups`
    *   pipeline, where hub connectivity is all a connected component
    *   needs. For a mass-duplicated doc (bucket members pairwise ≥
    *   threshold) clusters are identical to the uncapped run; a
    *   mixed-similarity bucket can split a cluster when a hub edge
    *   fails verify, which is the documented recall trade for not
    *   dying. Choose the cap ≥ the corpus' largest legitimate
    *   near-dup family times a small factor (e.g. 10k): at J=0.8 a
    *   bucket is overwhelmingly same-doc copies, so the star's hub
    *   edges verify.
    * @return (idA, idB, jaccard) with idA < idB. The returned pairs
    *   are already materialized (persisted; the funnel's intermediates
    *   are released before returning) — `.unpersist()` the result when
    *   done. From `graft.dedup.estimateSemiJoinMinCorpus` docs up
    *   (default 20000; `<= 0` always) the result depends on a lineage
    *   cut: its lineage runs through a `localCheckpoint` of the
    *   candidate pairs, released before this returns, so only the
    *   result's own cached blocks keep it alive and it CANNOT be
    *   recomputed once unpersisted or evicted. The caller must
    *   materialize anything derived from it before unpersisting
    *
    * Candidate funnel, widest to narrowest: band-bucket self-join
    * (with a MAP-SIDE 32-byte signature-sketch cut inside the join
    * stage, before the pair exchange — see the cut comment in the
    * body) → `minBandMatches` band-agreement count → full
    * signature-similarity estimate (fraction of matching minhash
    * components ≥ threshold − 6σ) → exact join-based Jaccard. Each
    * stage is orders of magnitude cheaper per pair than the next, so
    * the expensive set intersection only ever sees a thin,
    * near-certain tail.
    *
    * Every bulk step but the signatures is whole-stage-codegen'd:
    * shingles come from explode+substring (not interpreted array
    * HOFs), candidate counting from a band-bucket self-join + count
    * aggregate, and the estimate from equi-joins against the persisted
    * signature table (AQE broadcasts them when small). Signatures come
    * from the one-buffer `minhash_sigs` typed aggregate (a JIT'd
    * primitive loop per row; see `signaturesOf`).
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 4, numHashes: Int = 128,
                      bands: Int = 32, threshold: Double = 0.8,
                      minBandMatches: Int = 1,
                      maxBandBucket: Int = 2000,
                      seed: Long = 42L,
                      sigFamily: String = "affine"): DataFrame = {
    requireMinhashParams(numHashes, bands, threshold)
    if (sigFamily != "affine" && sigFamily != "oph")
      throw InvalidArgumentValue(
        s"sigFamily must be 'affine' or 'oph', got '$sigFamily'")

    OperatorScope(df.sparkSession, OperatorScope.Minhash) { scope =>
    // persisted: signatures and the exact-verify both read it
    val shingleRows =
      scope.persist(shingleHashRows(df, idCol, textCol, shingleK))

    // persisted COLUMNAR: sig is the funnel's scan-hot frame — the
    // band projection reads it twice and the 128-column estimate
    // joins twice more (a lineage-cut checkpoint was tried here and
    // measured ~3× slower per scan: row blocks vs columnar batches)
    val sig = scope.persist(
      if (sigFamily == "oph") ophSignaturesOf(shingleRows, numHashes, seed)
      else signaturesOf(shingleRows, numHashes, seed))

    // Map-side sketch cut on the PAIR-BAND exchange (round-13): the
    // per-job costs at 500k open-vocab docs put ~85% of q31's
    // shuffle (6.3 GB of 7.4 GB written) in ONE exchange — the
    // (id_a, id_b) rows the band self-join emits toward the
    // band-agreement count, a mass that grew 30×/decade while every
    // other funnel exchange stayed ~linear (moderately-similar
    // background pairs band-collide ever more densely as the corpus
    // grows; SCALING.md "sketch cut (verdict #1)"). The same 6σ
    // signature-estimate the funnel already applies AFTER that
    // exchange is applied HERE map-side, on a
    // 32-byte truncation of the signature carried with each banded
    // row: a pair whose byte-match estimate sits below threshold − 6σ
    // dies inside the join stage, before the exchange. Identical to
    // the full estimate's contract — a TRUE pair at the threshold
    // fails the cut at ~1e-9 (the module's estimate-prefilter budget),
    // every survivor is still exact-verified, and the cut is a pure
    // function of the PAIR (same sketch in every band), so the
    // band-agreement count stays conjunctive: rows unchanged, oracle
    // hashes pinned. Byte truncation collides at 1/256, folded into
    // the cut as P(match) = J + (1−J)/256. Cut disabled (no sketch
    // columns, plan byte-identical to r12) when the threshold is too
    // low for 32 bytes to separate, and BELOW the corpus-size knee:
    // at 5k docs the cut measured −40% shuffle but +35-49% task-sec
    // at wall parity (wider banded rows + per-pair sketch eval), at
    // 50k docs −42% shuffle / −22/−45% task-sec / −44/−41% wall, and
    // at 500k −71% shuffle / −71/−75% task-sec and wall — the win
    // grows with the super-linear pair mass, so the cut engages only
    // where the mass exists. The corpus count is free here: the
    // funnel's own cache-materializing count() below supplies it
    // before any cut-dependent plan is built. Knee conf'd
    // (`graft.dedup.pairSketchMinCorpus`, default 20000, <= 0 =
    // always) — the autoLshParams budget-gate convention.

    // Materialize the caches BEFORE anything downstream is planned —
    // this one count is the funnel's whole join-strategy mechanism.
    // The measured open-vocab failure (SCALING.md round 8: a 176 MB /
    // 1.0 GB-in-memory band side statically BROADCAST at a 50k-doc
    // corpus) was the static planner reading a NOT-YET-MATERIALIZED
    // cache's near-zero stats. A materialized InMemoryRelation
    // reports its real byte size, so the planner never broadcasts a
    // corpus-proportional cache projection; and every join side that
    // sits behind a shuffle (the band-agreement aggregate, the
    // estimate output) gets re-planned by AQE from its ACTUAL stage
    // size — small sides broadcast, floods demote to sort-merge.
    // Explicit hint/count machinery was tried and measured SLOWER at
    // every scale (BENCHNOTES round 8) than priming the stats and
    // letting AQE pick per stage.
    val nDocs = sig.count()

    val sketchKnee = df.sparkSession.conf
      .get("graft.dedup.pairSketchMinCorpus", "20000").toLong
    val (skLongs, skCut) = sketchCut(numHashes, threshold,
      engage = sketchKnee <= 0 || nDocs >= sketchKnee)
    val skCols = (0 until skLongs).map(j => s"sk$j")

    // band signatures: a cheap projection of the persisted sig, so the
    // self-join's two reads cost two cache scans, not two pipelines
    val banded = bandedOf(sig, numHashes, bands, skLongs)

    // one row per (pair, matching band); both enumeration modes feed
    // the same band-agreement count below
    def bandSelfJoin(b: DataFrame): DataFrame =
      b.as("x")
        .join(b.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.id") < col("y.id"))
        .filter(skCut)
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    var guardReport: () => Unit = () => ()
    val pairBands =
      if (maxBandBucket <= 0) bandSelfJoin(banded)
      else {
        // per-bucket size + min id in one window pass (same window
        // spec → one shuffle+sort); a hot bucket lands in one task
        // but costs O(B), never the join's O(B²).
        // PERSISTED + materialized (round-13): the windowed frame
        // feeds THREE subtrees Catalyst does not dedup — the join's
        // x side, its y side, and the oversized-bucket star — and
        // unpersisted each re-ran the banded projection + window
        // exchange+sort (measured at sf0.1: three identical-size
        // exchange writes, ~23 of q31's ~106 task-sec). The count
        // materializes REAL cache stats before the self-join is
        // planned — the round-8 rule: an unmaterialized cache's
        // near-zero estimate would let the planner broadcast a
        // corpus-proportional side.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bh")
        val sized = scope.persist(banded
          .withColumn("bsz", count(lit(1)).over(w))
          .withColumn("mn", min("id").over(w)))
        sized.count()
        val allPairs = bandSelfJoin(sized.filter(col("bsz") <= maxBandBucket)
          .select(("id" +: "band" +: "bh" +: skCols).map(col): _*))
        // oversized buckets: min-id star, linear in bucket size
        val (over, report) = observeStarGuard(
          sized.filter(col("bsz") > maxBandBucket), "bsz",
          "minhashNearDups", "maxBandBucket", maxBandBucket)
        guardReport = report
        val starred = over
          .filter(col("id") =!= col("mn"))
          .select(col("mn").as("id_a"), col("id").as("id_b"))
        allPairs.unionByName(starred)
      }
    val candidates = pairBands
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("mb"))
      .filter(col("mb") >= minBandMatches)
      .select("id_a", "id_b")

    // signature-similarity prefilter (6σ, `signatureEstimate`): on a
    // high-background corpus this is the difference between
    // exact-verifying tens of thousands of moderate pairs and a few
    // hundred (measured 75k → O(100) at sf0.1). With the candidate
    // side broadcast, each signature join is a pure scan of the
    // persisted sig — at 5B docs the TB-scale signature table never
    // shuffles and never builds.
    // Estimate-join input (round-13 verdict #6): the two estimate
    // joins each scanned the FULL 128-column signature cache — at the
    // design point that is a TB-scale table read twice per funnel run.
    // Above the same corpus knee as the sketch cut, the candidate set
    // is first materialized (lineage-cut checkpoint, real stats), the
    // signature cache is semi-joined ONCE down to candidate ids, and
    // both estimate sides read that candidate-bounded frame: one
    // corpus-sized scan instead of two, at the price of one extra
    // (checkpoint + semi-join) materialization — the wrong trade on a
    // tiny corpus, which is why the knee gates it (same convention as
    // pairSketchMinCorpus). Values are unchanged: the estimate joins
    // only ever match candidate ids, so restricting their scan side
    // to candidate ids is a pure plan change.
    val estSemiKnee = df.sparkSession.conf
      .get("graft.dedup.estimateSemiJoinMinCorpus", "20000").toLong
    val (estCandidates, estSig) =
      if (estSemiKnee > 0 && nDocs < estSemiKnee) (candidates, sig)
      else {
        val candCk = scope.checkpoint(candidates)
        val ids = candCk.select(col("id_a").as("id"))
          .union(candCk.select(col("id_b").as("id"))).distinct()
        val sigCand = scope.persist(sig.join(ids, Seq("id"), "left_semi"))
        sigCand.count()
        (candCk, sigCand)
      }
    // candidates and strong sit behind shuffles (the band-agreement
    // aggregate), so AQE re-plans their joins from ACTUAL stage
    // sizes: small sides broadcast, floods demote to sort-merge — no
    // hints, no extra counting passes
    // persisted: `strong` (the thin post-estimate survivor set) is
    // read THREE times below — candIds derives from both its sides
    // and the intersection join consumes it directly. Unpersisted,
    // each reference re-runs the whole mid-funnel (band self-join +
    // agreement aggregate + two 128-column estimate joins) — measured
    // as a q31/q57 bench regression when the candidate-pruned verify
    // first landed referencing it twice more.
    val strong = scope.persist(signatureEstimate(estCandidates,
      estSig, estSig, numHashes, threshold))

    // exact verification (`exactJaccard`) over the DISTINCT shingle
    // rows of both candidate sides. Set semantics are restored HERE,
    // after pruning to candidate docs: the semi join streams the persisted
    // raw shingle cache once and drops non-candidates in place (the
    // tiny candidate side broadcasts — AQE, from its actual stage
    // size), so the dedup exchange is candidate-sized. The old shape
    // deduped the WHOLE corpus up front — q31's single biggest job
    // (~117 MB / 55 task-sec at sf0.1, corpus-sized at 100 TB) spent
    // on docs that were never candidates.
    val candIds = strong.select(col("id_a").as("id"))
      .union(strong.select(col("id_b").as("id"))).distinct()
    val candShingles = scope.persist(shingleRows
      .join(candIds, Seq("id"), "left_semi")
      .distinct())
    val sizes = candShingles.groupBy("id").agg(count(lit(1)).as("n"))
    val result = exactJaccard(strong, candShingles, candShingles, "s",
      sizes, sizes, threshold)
    guardReport()
    result
    }
  }

  /** Materialize a reusable minhash signature index for `df` at
    * `path` (parquet partitioned by a `batch` tag, schema
    * (id, m0..m{numHashes-1}, batch='base')). The incremental-ingest
    * primitive: a 5B-document corpus signs ONCE; each day's batch then
    * probes the stored signatures instead of re-reading 100 TB of text
    * (`probeMinhashIndex`), and each day's SURVIVORS fold into the
    * index via `appendToMinhashIndex` so tomorrow dedups against
    * today.
    *
    * The write is a STATIC overwrite of the whole path: a rebuild must
    * also clear every previously appended `batch=` partition, or
    * stale appends would resurface documents the new base no longer
    * contains.
    */
  def buildMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        path: String, shingleK: Int = 4,
                        numHashes: Int = 128, seed: Long = 42L): Unit = {
    OperatorScope(df.sparkSession, Seq(OperatorScope.ObjectAggThreshold)) { _ =>
      signaturesOf(shingleHashRows(df, idCol, textCol, shingleK),
        numHashes, seed)
        .withColumn("batch", lit(BaseBatchTag))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("batch").parquet(path)
    }
    writeIndexMeta(df.sparkSession, path, shingleK, numHashes, seed)
  }

  private val BaseBatchTag = "base"

  /** Fold a new document batch into an existing minhash index: sign
    * `df` with the index's own parameters (validated against the
    * sidecar meta) and land the signatures under `batch=<batchTag>`.
    *
    * The write is a DYNAMIC overwrite of just that partition, so
    * re-running a failed or replayed daily append with the same tag
    * REPLACES its previous output instead of double-signing —
    * idempotent per tag, which is what makes unattended retry safe.
    * Ids must be unique across the base corpus and every appended
    * batch (same contract as `probeMinhashIndex`).
    */
  def appendToMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                           path: String, batchTag: String,
                           shingleK: Int = 4, numHashes: Int = 128,
                           seed: Long = 42L): Unit = {
    requireValidBatchTag(batchTag, BaseBatchTag)
    // appending to a path that was never built would silently create a
    // meta-less partial "index" (the meta check passes vacuously)
    if (readIndexMeta(df.sparkSession, path).isEmpty)
      throw InvalidArgumentValue(
        s"no index meta at $path — build the index before appending")
    requireIndexCompatible(df.sparkSession, path, shingleK, numHashes, seed)
    // delete-then-write, not dynamic-overwrite alone: a same-tag re-run
    // whose batch is now EMPTY writes no partition, which under dynamic
    // overwrite would silently keep the previous append alive. The
    // non-atomic window (crash between delete and write) is repaired by
    // re-running the append — the operation stays idempotent.
    deleteTagPartition(df.sparkSession, path, batchTag)
    OperatorScope(df.sparkSession, Seq(OperatorScope.ObjectAggThreshold)) { _ =>
      signaturesOf(shingleHashRows(df, idCol, textCol, shingleK),
        numHashes, seed)
        .withColumn("batch", lit(batchTag))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(path)
    }
  }

  /** Shared batch-tag validation for index appends. */
  private[llm] def requireValidBatchTag(batchTag: String,
                                        reserved: String): Unit =
    if (batchTag.isEmpty || batchTag == reserved ||
        batchTag.exists(c => c == '/' || c == '=' || c.isWhitespace))
      throw InvalidArgumentValue(
        s"batchTag must be a non-empty path-safe tag other than " +
          s"'$reserved', got '$batchTag'")

  /** Remove `batch=<tag>` under `root` so a re-run REPLACES the tag's
    * previous output even when the new write lands fewer (or zero)
    * partitions than the old one did.
    */
  private[llm] def deleteTagPartition(
      spark: org.apache.spark.sql.SparkSession, root: String,
      batchTag: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, s"batch=$batchTag")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private val IndexMetaFile = "_graft_minhash_meta"

  /** Sidecar parameter record: column-count alone can't catch a
    * shingleK or seed mismatch between build and probe, and a
    * mismatch is silently-empty results, not an error.
    */
  private def writeIndexMeta(spark: org.apache.spark.sql.SparkSession,
                             path: String, shingleK: Int,
                             numHashes: Int, seed: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, IndexMetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"shingleK=$shingleK\nnumHashes=$numHashes\nseed=$seed\n"
        .getBytes("UTF-8"))
    finally out.close()
  }

  private def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
                            path: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(path, IndexMetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty // pre-meta index: fall back
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      buf.toString("UTF-8")
    } finally in.close()
    text.linesIterator.flatMap { l =>
      l.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _           => None
      }
    }.toMap
  }

  /** Compact a minhash index in place: every append lands its own
    * `batch=<tag>` files, so an index that has absorbed months of
    * daily batches is a small-files field that slows every probe's
    * scan planning. Delegates the rewrite to
    * [[graft.sources.FsOps.compactDataset]] (partition-layout
    * preserving, staged tmp→bak→swap), then RE-WRITES the sidecar
    * meta — the staged swap carries only the parquet tree, and an
    * index without its meta refuses appends. Probe results are
    * bit-identical before and after (LlmSpec pins it): only the file
    * geometry changes, never a row.
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, targetFileMb: Int = 128)
      : graft.sources.FsOps.CompactStats = {
    val meta = readIndexMeta(spark, path)
    if (meta.isEmpty)
      throw InvalidArgumentValue(
        s"no index meta at $path — not a minhash index (or pre-meta); " +
          "refusing to compact")
    val stats = graft.sources.FsOps.compactDataset(spark, path,
      targetFileMb, partitionCols = Seq("batch"))
    writeIndexMeta(spark, path, meta("shingleK").toInt,
      meta("numHashes").toInt, meta("seed").toLong)
    stats
  }

  /** A parameter mismatch between build and probe/append is
    * silently-empty results, not an error — so both validate against
    * the sidecar meta before touching the data.
    */
  private def requireIndexCompatible(
      spark: org.apache.spark.sql.SparkSession, path: String,
      shingleK: Int, numHashes: Int, seed: Long): Unit = {
    val meta = readIndexMeta(spark, path)
    val expect = Map("shingleK" -> shingleK.toString,
      "numHashes" -> numHashes.toString, "seed" -> seed.toString)
    val mismatched = expect.collect {
      case (k, v) if meta.get(k).exists(_ != v) =>
        s"$k: index=${meta(k)}, caller=$v"
    }
    if (mismatched.nonEmpty)
      throw InvalidArgumentValue(
        s"index parameters at $path do not match the caller: " +
          mismatched.mkString("; "))
  }

  /** Near-duplicate pairs BETWEEN a new batch and an indexed corpus
    * (reads the signatures written by `buildMinhashIndex`; shingleK /
    * numHashes / seed must match the build). Returns
    * (id_a = corpus id, id_b = batch id, jaccard).
    *
    * Scale shape: only the BATCH is signed fresh; the corpus costs one
    * scan of the (fixed-width) signature index for banding plus a
    * re-shingle of just the candidate corpus docs for the exact
    * verify — corpus text is never touched wholesale. Ids must be
    * unique across corpus and batch.
    *
    * @return (id_a, id_b, jaccard) pairs, already materialized
    *   (persisted; the probe's intermediates are released before
    *   returning) — `.unpersist()` the result when done. The result
    *   depends on a lineage cut: its lineage runs through the probe's
    *   `localCheckpoint` candidate blocks, which are released before
    *   this returns, so it CANNOT be recomputed once unpersisted or
    *   evicted: the caller must materialize anything derived from it
    *   before unpersisting.
    */
  def probeMinhashIndex(indexPath: String, corpus: DataFrame,
                        newDf: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 4, numHashes: Int = 128,
                        bands: Int = 32, threshold: Double = 0.8,
                        minBandMatches: Int = 1,
                        seed: Long = 42L,
                        excludeIndexBatches: Seq[String] = Nil): DataFrame = {
    requireMinhashParams(numHashes, bands, threshold)
    val spark = newDf.sparkSession
    val idxRaw = spark.read.parquet(indexPath)
    val sigWidth = idxRaw.columns.count(_.matches("m\\d+"))
    if (sigWidth != numHashes)
      throw InvalidArgumentValue(
        s"index at $indexPath has $sigWidth hashes, " +
          s"caller expects $numHashes — rebuild or fix parameters")
    requireIndexCompatible(spark, indexPath, shingleK, numHashes, seed)
    // a replayed ingest batch must not probe against its own previous
    // attempt's partition (it would flag its every doc as a dup of
    // itself-last-time); the filter is on the partition column, so
    // excluded batches are pruned, not scanned
    val idxScoped =
      if (excludeIndexBatches.isEmpty || !idxRaw.columns.contains("batch"))
        idxRaw
      else idxRaw.filter(!col("batch").isin(excludeIndexBatches: _*))
    // drop the batch partition tag (and anything else non-signature):
    // the probe treats base + appends as one corpus
    val idxSig = idxScoped.select(
      col("id") +: (0 until numHashes).map(i => col(s"m$i")): _*)

    OperatorScope(spark, OperatorScope.Minhash) { scope =>
    // batch-side set semantics restored at batch scale (the ingest
    // contract bounds it); the corpus side below dedups POST-prune
    val newShingles = scope.persist(
      shingleHashRows(newDf, idCol, textCol, shingleK).distinct())
    // persisted COLUMNAR (the minhashNearDups sig rationale): the
    // 128-column signature frame is scan-hot (banding + the estimate
    // join), so it keeps the fast columnar cache; the probe's
    // explain-nesting cut lives in the narrow `candidates` below
    val newSig = scope.persist(signaturesOf(newShingles, numHashes, seed))

    // Every static broadcast in the probe is DATA-DEPENDENT — the
    // batch by the ingest contract, candidates by band matches — and
    // a contract-violating batch or a boilerplate band flood can
    // inflate either past what a static broadcast survives (8 GB
    // hard limit / driver heap). Guard BEFORE committing each
    // broadcast; past the cap, fall back to shuffled joins with a
    // warning (the degrade-don't-die convention, gramSaturationGuard).
    val bcastCap = spark.conf
      .get("graft.dedup.maxBroadcastCandidates", "5000000").toLong
    // the batch count comes FIRST — before the band join below is
    // even planned — because that join's batch side is the probe's
    // first static broadcast: gating only the downstream joins would
    // still die at the band join on an oversized batch (the round-8
    // advice finding). The count doubles as the cache-priming action
    // for newSig, so it costs one small scan that was needed anyway.
    val nBatch = newSig.count()
    val batchSafe = nBatch <= bcastCap
    if (!batchSafe)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"probeMinhashIndex: batch ($nBatch docs) exceeds " +
          s"graft.dedup.maxBroadcastCandidates ($bcastCap) — falling " +
          "back to shuffled joins (correct but corpus-shuffling); " +
          "the ingest contract expects batches far smaller than the " +
          "indexed corpus")

    // candidate pairs: index bands vs batch bands. The batch side is
    // small by the ingest contract, so it is broadcast STATICALLY —
    // an AQE runtime conversion would still materialize the index
    // side's banded shuffle WRITE (the corpus-proportional cost the
    // decade measurement in SCALING.md flagged) before deciding;
    // the explicit hint keeps the index side a pure scan. An
    // over-cap batch degrades to a shuffled band join instead.
    //
    // Map-side sketch cut (the minhashNearDups round-13 mechanism,
    // same 6σ recall contract): each banded row carries a 32-byte
    // signature truncation and a pair below threshold − 6σ on the
    // byte-match estimate dies INSIDE the join stage, before the
    // (id_a, id_b) groupBy exchange. Unlike the self-join funnel the
    // probe has NO exchange that the extra sketch columns widen — the
    // index side is scan → broadcast-join → filter → project and the
    // batch side is small by contract — so there is no corpus-size
    // knee: the cut is on whenever the threshold is 6σ-separable on
    // 32 bytes (below-cut survivors are unchanged — the full estimate
    // and the exact verify still run).
    val (pSkLongs, pSkCut) = sketchCut(numHashes, threshold, engage = true)
    val newBanded = bandedOf(newSig, numHashes, bands, pSkLongs)
    // Lineage cut, not persist: nested caches re-print their plans at
    // every reference (measured: probe + funnel under foreachBatch
    // OOM'd an 8 GB driver heap in `explainString`); the stats the cut
    // erases are unused, every join below is chosen from counts.
    val candidates = scope.checkpoint(
      bandedOf(idxSig, numHashes, bands, pSkLongs).as("x")
        .join((if (batchSafe) broadcast(newBanded) else newBanded).as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.id") =!= col("y.id"))
        .filter(pSkCut)
        .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .agg(count(lit(1)).as("mb"))
        .filter(col("mb") >= minBandMatches)
        .select("id_a", "id_b"))

    // same gate for the downstream candidates / batch / candA
    // broadcasts: candidates is already persisted, so counting it is
    // the price of one small scan
    val nCand = candidates.count()
    val safeBcast = batchSafe && nCand <= bcastCap
    if (batchSafe && !safeBcast)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"probeMinhashIndex: candidate set ($nCand pairs) exceeds " +
          s"graft.dedup.maxBroadcastCandidates ($bcastCap) — falling " +
          "back to shuffled joins (correct but corpus-shuffling); a " +
          "flood this size usually means boilerplate bands — " +
          "consider minBandMatches > 1")
    def bcastIfSafe(df: DataFrame): DataFrame =
      if (safeBcast) broadcast(df) else df

    // persisted: `strong` feeds candA and the verify join — without
    // it each consumer would re-run the band join and estimate, i.e.
    // extra full scans of the signature index. Candidate/batch sides
    // broadcast statically for the same no-corpus-shuffle-write
    // reason as the band join above (candidates are bounded by the
    // batch's band matches, batch signatures by the batch itself)
    val strong = scope.persist(signatureEstimate(bcastIfSafe(candidates),
        idxSig, newSig, numHashes, threshold, hintB = bcastIfSafe)
      // a duplicate id in the index (a doc appended under two tags, in
      // violation of the uniqueness contract) would duplicate rows here
      // and double-count `ix` below — i.e. emit a WRONG jaccard rather
      // than an error; distinct on this O(candidates) frame is cheap
      // insurance that the verify stays exact
      .distinct())

    // exact verify: corpus text re-shingled ONLY for candidate docs.
    // candA broadcast statically — a shuffled semi join would write
    // the FULL corpus shingle set to shuffle before pruning (measured
    // 200+ MB/decade in SCALING.md round-7); broadcast keeps the
    // corpus side a scan that drops non-candidates in place
    val candA = strong.select(col("id_a").as("id")).distinct()
    // prune FIRST, dedup AFTER: shingleHashRows is raw occurrences
    // (round-12), so the set-semantics distinct the Jaccard needs now
    // shuffles only candidate docs' shingles — the old global distinct
    // paid a corpus-sized exchange before the prune could apply
    val corpusShingles = scope.persist(
      shingleHashRows(corpus, idCol, textCol, shingleK)
        .join(bcastIfSafe(candA), Seq("id"), "left_semi")
        .distinct())
    exactJaccard(strong, corpusShingles, newShingles, "s",
      corpusShingles.groupBy("id").agg(count(lit(1)).as("na")),
      newShingles.groupBy("id").agg(count(lit(1)).as("nb")), threshold)
    }
  }

  /** Distinct (id, 64-bit word-n-gram hash) rows — tokens come from a
    * whitespace split, grams from explode + slice + concat_ws, all
    * inside whole-stage codegen. Hashing before the distinct keeps
    * every downstream shuffle fixed-width (same rationale as
    * `shingleHashRows`).
    */
  /** The pre-explode projection goes through
    * `InputSpread.spreadSmallScan` (round-13): a single-file corpus
    * otherwise runs every gram consumer's explode + partial aggregate
    * in ONE task (the same layout hazard `shingleHashRows` documents);
    * the gate adds the exchange only when file metadata proves the
    * scan can't reach the session's parallelism, so no shuffle is
    * added at scale.
    */
  /** @param spread route the pre-explode projection through
    *   `InputSpread.spreadSmallScan` (default). Callers whose
    *   downstream work is BOUNDED relative to the explode — no
    *   self-join or rank window inheriting the gram cache's
    *   partitioning — opt out: for them the spread's exchange plus
    *   per-task overhead exceeds the serial map it parallelizes
    *   (driver r13 measured q126_gram_novelty 0.72× wall from
    *   exactly this; the whole query is ~2.4 task-sec, nothing to
    *   parallelize — OPTIMIZATION_r14.md §2). At production scale the
    *   gate is inert either way (files ≥ cores).
    */
  private def wordGramRows(df: DataFrame, idCol: String,
                           textCol: String, n: Int,
                           spread: Boolean = true): DataFrame = {
    val proj = df.select(col(idCol).cast("long").as("id"),
      col(textCol).as("__txt"))
    (if (spread) InputSpread.spreadSmallScan(proj, "id") else proj)
      .select(col("id"),
        split(trim(lower(col("__txt"))), "\\s+").as("t"))
      .select(col("id"), col("t"),
        explode(sequence(lit(1),
          greatest(size(col("t")) - (n - 1), lit(1)))).as("i"))
      .select(col("id"),
        xxhash64(concat_ws(" ", slice(col("t"), col("i"), lit(n)))).as("g"))
      .distinct()
  }

  /** Gram-space saturation guard for the prefix-filter joins
    * (measured hazard, SCALING.md round 5): prefix filtering is
    * linear only while distinct grams ≫ gram instances / docs — a
    * closed/templated vocabulary caps the n-gram space (31 words →
    * ≤ 31³ trigrams), every doc's rare-first prefix collapses onto
    * the same few grams, and the candidate join silently goes
    * quadratic (46.6× wall for 10× data in the measured case). The
    * distinct-grams / gram-instances ratio detects that from the
    * already-computed frequency frame: saturated corpora sit well
    * below `minRatio` (the measured 31-word corpus at n=3 was
    * ~0.0006 at sf1; open-vocabulary web text stays ≫ 0.05 even at
    * the billion-doc decade because new documents keep minting new
    * grams). `mode`: "warn" logs and proceeds (default — the
    * operator stays correct, just slow), "raise" fails fast with the
    * remediation, "off" skips the check (also skips its one
    * aggregate job over the persisted gram frame).
    */
  private def gramSaturationGuard(freq: DataFrame, n: Int, op: String,
                                  mode: String, minRatio: Double): Unit = {
    mode match {
      case "off" => ()
      case "warn" | "raise" =>
        val row = freq
          .agg(count(lit(1)).as("d"), sum("df").as("m")).head()
        val m = if (row.isNullAt(1)) 0L else row.getLong(1)
        if (m > 0) {
          val ratio = row.getLong(0).toDouble / m.toDouble
          if (ratio < minRatio) {
            val msg = f"$op: $n-gram space is SATURATED " +
              f"(distinct/instances = $ratio%.6f < $minRatio%.3f) — " +
              "the corpus vocabulary is closed/templated, prefix " +
              "buckets stop selecting, and the candidate join " +
              s"degrades toward all-pairs; raise n above $n or use " +
              "minhashNearDups (signatures don't saturate)"
            if (mode == "raise") throw InvalidArgumentValue(msg)
            else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
          }
        }
      case other =>
        throw InvalidArgumentValue(
          s"saturationMode must be off|warn|raise, got $other")
    }
  }

  /** Rare-first prefix build shared by the n-gram prefix-filter joins:
    * returns (grams, sizes, prefix). `grams` is the persisted distinct
    * (id, g) rows, `sizes` (id, sz) per doc, and `prefix` (id, g, sz)
    * each doc's first |d| − ⌈t·|d|⌉ + 1 grams in ascending global
    * document frequency (ties broken by gram hash, so the order is
    * total), persisted and counted. The saturation guard runs on the
    * frequency frame first, so `grams` is materialized by its pass.
    *
    * Join strategies downstream come from REAL sizes, not estimates:
    * both caches are materialized before anything downstream is
    * planned (the guard's pass fills grams; the prefix count fills
    * prefix — the work runs once either way), so the planner sees true
    * cache bytes and will never broadcast a corpus-proportional side
    * (the measured q31-class 1 GB-broadcast failure, SCALING.md round
    * 8); every side behind a shuffle (the candidate distinct) is
    * re-planned by AQE from its actual stage size — small sides
    * broadcast, floods demote to sort-merge. Explicit hint/count
    * machinery was tried and measured strictly slower (BENCHNOTES
    * round 8).
    */
  private def gramPrefixes(scope: OperatorScope, df: DataFrame,
                           idCol: String, textCol: String, n: Int,
                           threshold: Double, op: String,
                           saturationMode: String,
                           minDistinctGramRatio: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val grams = scope.persist(wordGramRows(df, idCol, textCol, n))
    val sizes = grams.groupBy("id").agg(count(lit(1)).as("sz"))
    val freq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    gramSaturationGuard(freq, n, op, saturationMode, minDistinctGramRatio)
    // rarest-first total order; row_number is one shuffle+sort per doc
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").asc, col("g").asc)
    val prefix = scope.persist(grams
      .join(freq, "g")
      .withColumn("rn", row_number().over(rankW))
      .join(sizes, "id")
      .filter(col("rn") <=
        col("sz") - ceil(col("sz") * lit(threshold) - lit(1e-9)) + 1)
      .select(col("id"), col("g"), col("sz")))
    prefix.count()
    (grams, sizes, prefix)
  }

  /** EXACT word-n-gram Jaccard near-duplicate pairs — no sketch, no
    * probabilistic recall: every pair with Jaccard ≥ `threshold` over
    * distinct word n-grams is returned (the complement of
    * `minhashNearDups`, for when a recall guarantee is contractual —
    * eval-set decontamination, licensing dedup).
    *
    * Never all-pairs. Candidates come from PREFIX FILTERING
    * (Chaudhuri et al., ICDE'06; Bayardo et al., WWW'07): order each
    * document's grams by ascending global document frequency (rarest
    * first — ties broken by gram hash so the order is total), keep
    * only the first |d| − ⌈t·|d|⌉ + 1 grams, and join documents on
    * shared PREFIX grams. Any pair with |A∩B| ≥ α shares a prefix
    * gram at prefix lengths |·| − α + 1, and Jaccard ≥ t implies
    * |A∩B| ≥ ⌈t·max(|A|,|B|)⌉ ≥ ⌈t·|d|⌉ per side, so the candidate
    * set is a guaranteed SUPERSET of the answer; rare-first ordering
    * makes prefix buckets tiny (a gram shared by half the corpus is
    * in almost nobody's prefix). A size filter (t·|A| ≤ |B| ≤ |A|/t)
    * prunes cross-size pairs inside the join, and the exact verify is
    * the same join-based intersection count as `minhashNearDups` —
    * no arrays through shuffles, every bulk step codegen'd.
    *
    * At 100 TB the funnel is: gram rows shuffle once for the
    * frequency count, once for the per-doc rank (window), and the
    * prefix self-join's per-gram cost is quadratic only in PREFIX
    * bucket sizes, which rare-first ordering keeps near 1 for all but
    * adversarial corpora (a corpus of identical docs degrades to the
    * true duplicate mass — which IS the output size).
    *
    * Sizing `n` (measured, SCALING.md round 5): prefix filtering is
    * linear only while the gram space stays ≫ the corpus' gram mass.
    * A closed/templated vocabulary saturates small-n gram spaces —
    * on a 31-word corpus, n=3 (≤ 31³ distinct grams) went quadratic
    * at 50k docs while n=5 over the same corpora stayed linear
    * (9.8× shuffle for 10× data). Open-vocabulary web text at n ≥ 5
    * is safely unsaturated; for templated corpora raise n or use
    * `minhashNearDups` (signatures don't saturate).
    *
    * Floating-point guard: prefix/size cutoffs use t·|d| − 1e-9
    * before ⌈·⌉ so a double rounding error can only LENGTHEN a prefix
    * (costing a candidate, never a miss).
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, already
    *   materialized; `.unpersist()` the result when done
    */
  def ngramJaccardNearDups(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3,
                           threshold: Double = 0.5,
                           saturationMode: String = "warn",
                           minDistinctGramRatio: Double = 0.05): DataFrame = {
    requireThreshold(threshold)
    if (n <= 0)
      throw InvalidArgumentValue(s"n must be positive, got $n")

    OperatorScope(df.sparkSession) { scope =>
    val (grams, sizes, prefix) = gramPrefixes(scope, df, idCol, textCol,
      n, threshold, "ngramJaccardNearDups", saturationMode,
      minDistinctGramRatio)
    val candidates = prefix.as("x")
      .join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id") &&
          col("y.sz") >= col("x.sz") * lit(threshold) - lit(1e-9) &&
          col("x.sz") >= col("y.sz") * lit(threshold) - lit(1e-9))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

    // exact verify: the candidate side broadcasts (AQE, actual size),
    // so each join streams the persisted gram rows once; the broadcast
    // join IS the candidate prune, applied in place during the scan
    exactJaccard(candidates, grams, grams, "g", sizes, sizes, threshold)
    }
  }

  /** EXACT n-gram containment join — the DIRECTIONAL complement of
    * `ngramJaccardNearDups`: all ordered pairs (a, b) with
    * C(a→b) = |grams(a) ∩ grams(b)| / |grams(a)| ≥ `threshold`,
    * i.e. documents substantially CONTAINED in another. Symmetric
    * Jaccard misses exactly this case: a short article pasted into a
    * long boilerplate page scores low Jaccard (the union is huge) but
    * containment 1.0 — the common shape of web-corpus duplication.
    *
    * Recall-guaranteed candidate generation (Bayardo et al. WWW'07
    * prefix filtering, containment form): if a and b share no gram
    * among a's ⌊|a|⌋ − ⌈t·|a|⌉ + 1 RAREST grams, the intersection is
    * < t·|a| — so candidates come from joining a's rare-first prefix
    * against the OTHER side's full gram set (asymmetric by nature),
    * plus the size filter |b| ≥ t·|a|. Exact set intersection
    * verifies every candidate.
    *
    * Scale shape: same funnel as `ngramJaccardNearDups` — hashed gram
    * rows, one frequency pass, per-doc rank window, gram equi-join,
    * join-based verify — with a wider (prefix × all-grams) candidate
    * join, the price of the asymmetric guarantee. Returned frame is
    * materialized; `.unpersist()` when done.
    *
    * @return (id_a, id_b, containment) — id_a is the contained side;
    *         both directions emitted when mutual
    */
  def ngramContainmentJoin(df: DataFrame, idCol: String,
                           textCol: String, n: Int = 3,
                           threshold: Double = 0.8,
                           saturationMode: String = "warn",
                           minDistinctGramRatio: Double = 0.05): DataFrame = {
    requireThreshold(threshold)
    if (n <= 0)
      throw InvalidArgumentValue(s"n must be positive, got $n")
    OperatorScope(df.sparkSession) { scope =>
    val (grams, sizes, prefix) = gramPrefixes(scope, df, idCol, textCol,
      n, threshold, "ngramContainmentJoin", saturationMode,
      minDistinctGramRatio)
    val allG = grams.join(sizes, "id")
    val candidates = prefix.as("x")
      .join(allG.as("y"),
        col("x.g") === col("y.g") && col("x.id") =!= col("y.id") &&
          col("y.sz") >= col("x.sz") * lit(threshold) - lit(1e-9))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val result = overlaps(candidates, grams, grams, "g")
      .join(sizes.select(col("id").as("id_a"), col("sz").as("na")),
        "id_a")
      .withColumn("containment",
        col("ix").cast("double") / col("na").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    result
    }
  }

  /** Connected components over a near-duplicate pair list: the step
    * that turns pairwise findings into the actual dedup deliverable
    * (one surviving document per duplicate CLUSTER — pairs alone
    * over-delete on chains a~b~c).
    *
    * Distributed path: iterative RANDOMIZED star contraction (the
    * classic parallel-connectivity shape, cf. Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014;
    * randomized labels are the random-mate variant). Each round every
    * supernode merges into the argmin by a per-round HASHED key over
    * itself and its neighbors (star formation) plus one root-of-root
    * hop, the edge set is REWRITTEN to (root(u), root(v)) with
    * self-loops dropped, and the global node→root mapping composes
    * one more step; after convergence one node-count-sized aggregate
    * relabels each component to its MIN id (the driver union-find
    * contract). A constant fraction of supernodes merges per round in
    * expectation ⇒ O(log n) rounds with high probability over the
    * per-round seeds — and because the keys are re-hashed each round,
    * NO fixed id assignment is adversarial (contracting on raw id
    * order was O(diameter) on a monotone-id chain: each node's min
    * neighbor is its predecessor, so a 1000-link chain needed ~500
    * rounds — round-12 advisor finding). The live edge set shrinks
    * geometrically (a 300k-edge critical-regime random graph
    * contracted to 0 live edges in 8 rounds). The earlier
    * label-propagation loop (kept the ORIGINAL edges, propagated min
    * labels with a jump) was also O(diameter): measured as a
    * ~100-labels-per-round plateau still unconverged at round 80 on
    * the same graph (BENCHNOTES round-11). `maxIter = 0` (the
    * default) sizes the budget to max(20, ⌈log₂(2·|E|)⌉ + 8); pass a
    * positive value to cap the rounds explicitly.
    *
    * Throws if contraction has not finished within the round budget
    * (a silent partial labeling would under-dedup downstream).
    *
    * @return (id, root) for every id appearing in `pairs`
    * @note the returned frame reads the final round's localCheckpoint
    *   blocks (already materialized); every superseded round's blocks
    *   are freed during iteration, and the final round's are released
    *   by ContextCleaner once the frame is garbage-collected
    */
  def dupClusters(pairs: DataFrame, idA: String = "id_a",
                  idB: String = "id_b", maxIter: Int = 0): DataFrame = {
    if (maxIter < 0)
      throw InvalidArgumentValue(
        s"maxIter must be positive (or 0 = auto): $maxIter")
    // Small-graph fast path: near-dup PAIR sets are corpus-sparse (a
    // clean corpus yields orders of magnitude fewer pairs than docs),
    // and the distributed pointer-jump loop pays ~10 AQE stage-jobs
    // per round in pure scheduling latency — measured as q130's
    // 80-tiny-job tail (~8 s wall for ~0 task-sec, BENCHNOTES
    // "Round-9: the dupClusters barrier collapse"). When the counted
    // edge set fits comfortably on the driver, run min-root
    // union-find locally: IDENTICAL labels (min-propagation converges
    // to the component min; union-find tracks the same min), two jobs
    // total, and the returned LocalRelation broadcasts into every
    // downstream join for free.
    // The count-BEFORE-collect is the bounded-collect contract: an
    // over-cap graph never reaches the driver, it takes the
    // distributed loop below. `graft.dedup.maxDriverEdges <= 0` opts
    // out (the maxBandBucket convention). Non-integral id types also
    // take the distributed path (SQL `least`/`min` ordering is only
    // replayed locally for integral ids).
    // The edge list is consumed at least twice (the count gate below,
    // then either the driver collect or the distributed rounds), and
    // callers may pass an UNPERSISTED pair pipeline — persist the
    // 2-column projection ONCE here so the pair funnel never re-runs
    // (it is the expensive half of every composed dedup). When the
    // caller's frame is ALREADY cached (the near-dup operators return
    // persisted, materialized pairs), the projection is a cheap cache
    // scan and a second persist would only duplicate blocks — skip it.
    // Released before return on every path (only if taken here).
    OperatorScope(pairs.sparkSession) { scope =>
    val proj0 = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    val proj =
      if (pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        scope.persist(proj0)
      else proj0
    // one priming aggregate: total edges (the fast-path gate) + the
    // non-null counts. NULL ids are rejected in BOTH paths: the
    // distributed min-propagation silently drops a null endpoint at
    // its first equi-join while the driver fast path would have to
    // replicate that accident — a null id in a near-dup pair list is
    // an upstream bug either way, so fail fast instead of diverging.
    val gate = proj.select(count(lit(1)).as("n"),
      count(col("src")).as("na"), count(col("dst")).as("nb")).head()
    val (nEdges, nA, nB) = (gate.getLong(0), gate.getLong(1), gate.getLong(2))
    if (nA != nEdges || nB != nEdges)
      throw InvalidArgumentValue(
        s"dupClusters: pair list has NULL ids (${nEdges - math.min(nA, nB)}" +
          s" of $nEdges rows) — near-dup pairs must carry non-null ids")
    val cap = pairs.sparkSession.conf
      .get("graft.dedup.maxDriverEdges", "2000000").toLong
    val idTypes = Seq(idA, idB).map(c => pairs.schema(c).dataType)
    val integral = idTypes.forall(t =>
      t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType ||
        t == org.apache.spark.sql.types.ShortType ||
        t == org.apache.spark.sql.types.ByteType)
    if (cap > 0 && integral && nEdges <= cap)
      dupClustersLocal(proj, idTypes.head, nEdges)
    else dupClustersDistributed(scope, proj, nEdges, maxIter)
    }
  }

  /** [[dupClusters]]' distributed rounds; `scope` holds every round's
    * checkpoint and hands the final mapping to the caller. */
  private def dupClustersDistributed(scope: OperatorScope, proj: DataFrame,
                                     nEdges: Long, maxIter: Int): DataFrame = {
    val edges = proj
      .union(proj.select(col("dst").as("src"), col("src").as("dst")))
    // each round MUST truncate lineage (eager localCheckpoint): the
    // round-N plan embeds round-N−1's plan several times, so without
    // truncation the logical plan grows ~2^N nodes and the DRIVER
    // OOMs during analysis after ~15 rounds — persist caches data but
    // does not shrink the plan. Each round's checkpoint is released
    // by the scope as soon as it is superseded — only the final
    // round's mapping blocks (backing the returned frame) remain,
    // freed by ContextCleaner when the frame is GC'd.
    // edges is an (already materialized) proj cache scan + its swap —
    // per round that costs two cache reads, never the pair pipeline
    // STAR CONTRACTION (round-11 rewrite). The previous loop kept the
    // ORIGINAL edge set and propagated min labels with a root-of-root
    // jump; that is O(diameter), not O(log): on a filament whose
    // local id-minima sit on the far side of each window, the jump
    // points AWAY from the component min and coverage advances one
    // hop per round — measured as a 100-labels-per-round plateau
    // still unconverged at round 80 on a 300k-edge critical-regime
    // random graph (BENCHNOTES round-11; near-dup graphs are dense
    // and shallow, which is why q52-style workloads never tripped
    // it). Contraction instead REWRITES the edges each round to
    // (root(u), root(v)): every supernode merges into its
    // neighborhood min (star formation), so any path of supernodes
    // at least halves per round — O(log d) rounds GUARANTEED — and
    // the live edge set shrinks geometrically (intra-star edges
    // become dropped self-loops), so later rounds are nearly free.
    // The composed mapping is maintained for ALL original nodes and
    // converges to the same component-min fixpoint as the driver
    // union-find (LlmSpec pins equality).
    var mapping = scope.checkpoint(
      edges.select(col("src").as("id")).distinct()
        .withColumn("root", col("id")))
    var live = scope.checkpoint(edges.distinct())
    var nLive = nEdges // upper bound; refreshed each round
    // auto round budget (maxIter = 0): contraction needs O(log d) ≤
    // O(log n) rounds, so size it from the edge count the gate
    // already measured — max(20, ceil(log2(2E)) + 8)
    val roundBudget =
      if (maxIter > 0) maxIter
      else math.max(20,
        64 - java.lang.Long.numberOfLeadingZeros(
          math.max(1L, 2 * nEdges - 1)) + 8)
    var iter = 0
    while (nLive > 0 && iter < roundBudget) {
      // supernode labels for THIS round's contracted graph: argmin by
      // HASHED key over self and neighbors (both edge directions are
      // present, so groupBy(src) sees every live node), then one
      // root-of-root hop — cheap (label-table self-join) and
      // collapses two-level stars in the same round.
      // The key is (xxhash64(round, node), node), fresh seed per
      // round: contracting on raw id order is O(diameter) on a chain
      // whose ids increase monotonically along the path (each node's
      // min neighbor is its predecessor, so the chain shortens by
      // ~2 nodes per round — round-12 advisor finding, and a PLAUSIBLE
      // input: sequentially-assigned doc ids with adjacent near-dup
      // pairs). Random keys make every node merge toward a random
      // local minimum, so a constant fraction of supernodes merges
      // each round — O(log n) rounds with high probability over the
      // seeds, REGARDLESS of id structure — and no fixed input is
      // adversarial for all rounds. The node component of the key
      // breaks hash ties deterministically, so rounds stay replayable.
      def hKey(c: Column): Column =
        struct(xxhash64(lit(iter), c).as("h"), c.as("n"))
      val r1 = live
        .groupBy(col("src").as("id")).agg(min(hKey(col("dst"))).as("mn"))
        .select(col("id"),
          least(hKey(col("id")), col("mn")).getField("n").as("root"))
      // root(u) has a strictly smaller key than u (or is u itself),
      // so root pointers form a forest — the hop is pure path
      // compression, never a cycle
      val roots = r1.as("a")
        .join(r1.select(col("id").as("rid"), col("root").as("rroot"))
          .as("b"), col("a.root") === col("b.rid"), "left")
        .select(col("a.id").as("id"),
          coalesce(col("rroot"), col("a.root")).as("root"))
      // contract: rewrite every live edge to its endpoints' new
      // roots; intra-star edges become self-loops and vanish
      val nextLive = scope.checkpoint(live
        .join(roots.select(col("id").as("src"), col("root").as("nsrc")),
          "src")
        .join(roots.select(col("id").as("dst"), col("root").as("ndst")),
          "dst")
        .filter(col("nsrc") =!= col("ndst"))
        .select(col("nsrc").as("src"), col("ndst").as("dst"))
        .distinct())
      // compose the global mapping: any original node whose current
      // root was relabeled this round follows it; roots that left the
      // live node set are final and pass through
      val nextMapping = scope.checkpoint(mapping
        .join(roots.select(col("id").as("root"), col("root").as("nr")),
          Seq("root"), "left")
        .select(col("id"), coalesce(col("nr"), col("root")).as("root")))
      nLive = nextLive.count()
      scope.release(live)
      scope.release(mapping)
      live = nextLive
      mapping = nextMapping
      iter += 1
      // one line per round: the convergence curve is the ONLY way to
      // distinguish "needs a few more rounds" from "a structure the
      // budget cannot finish" when the non-convergence guard fires
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"dupClusters round $iter: $nLive live contracted edges")
    }
    // wrong labels are worse than no labels: a component the budget
    // could not finish would silently keep several roots and
    // under-dedup downstream
    if (nLive > 0)
      throw InvalidArgumentValue(
        s"dupClusters did not converge in $roundBudget rounds " +
          s"($nLive edges still live) — raise maxIter " +
          "(0 = auto budget of max(20, log2(2E)+8) rounds)")
    // the converged roots are hash-argmin representatives — one per
    // component but arbitrary-VALUED; relabel to the component MIN id
    // (the driver union-find contract, and what keep-one dedup keys
    // on) with one aggregate over the node mapping. Node-count-sized
    // — trivial next to the edge rounds above — and it reads the
    // final round's checkpoint blocks, so the @note on block lifetime
    // holds unchanged.
    scope.keep(mapping)
      .join(mapping.groupBy("root").agg(min(col("id")).as("__mn")),
        "root")
      .select(col("id"), col("__mn").as("root"))
  }

  /** Driver-side min-root union-find over a SMALL (pre-counted, see
    * [[dupClusters]]) pair set: path-halving + union-by-smaller-id,
    * then every node labeled with its component's minimum id — the
    * exact fixpoint the distributed min-propagation loop converges
    * to, in O(E α(E)) with zero Spark rounds. Returns a
    * LocalRelation-backed (id, root) frame in the input id type, so
    * downstream joins against it plan as broadcasts.
    */
  private def dupClustersLocal(proj: DataFrame,
                               idType: org.apache.spark.sql.types.DataType,
                               nEdges: Long): DataFrame = {
    val spark = proj.sparkSession
    import spark.implicits._
    // PRIMITIVE collect: exploding (a, b) into adjacent scalar rows
    // and decoding as Dataset[Long] lands one Array[Long] on the
    // driver — 16 bytes/edge, vs ~48+ for boxed (Long, Long) tuples
    // (the round-9 advice's driver-heap term). Row order within a
    // collect preserves partition order, so endpoints stay at
    // (2i, 2i+1). Null ids were rejected by the caller's gate, so the
    // primitive decoder never sees a null.
    val packed: Array[Long] = proj
      .select(explode(array(col("src").cast("long"),
        col("dst").cast("long"))).as("v"))
      .as[Long].collect()
    // The (2i, 2i+1) endpoint pairing relies on explode emitting both
    // endpoints of a row adjacently and collect preserving row order —
    // true for today's narrow no-shuffle plan, but an optimizer
    // implementation detail. A length check is the cheap tripwire: any
    // row loss or duplication between the gate count and this collect
    // breaks the invariant before it can mislabel clusters (advisor
    // round-10). (It cannot catch a pure reordering, but no current
    // rule reorders a narrow projection's output within a collect.)
    require(packed.length == 2 * nEdges,
      s"dupClusters driver fast path: collected ${packed.length} " +
        s"endpoints for $nEdges counted edges — explode/collect row " +
        "contract violated; file a bug (the distributed path via " +
        "graft.dedup.maxDriverEdges=0 is unaffected)")
    // dense remap via sort + unique + binary search — no boxed
    // HashMap (a Long→Integer map costs ~50 bytes/node at 2× the
    // node count in capacity)
    val sorted = packed.clone()
    java.util.Arrays.sort(sorted)
    var nIds = 0
    var i = 0
    while (i < sorted.length) {
      if (i == 0 || sorted(i) != sorted(i - 1)) {
        sorted(nIds) = sorted(i)
        nIds += 1
      }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, nIds)
    def ix(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    val parent = Array.tabulate(nIds)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    var e = 0
    while (e < packed.length) {
      val ra = find(ix(packed(e)))
      val rb = find(ix(packed(e + 1)))
      if (ra != rb) {
        // ids is sorted ascending, so the smaller dense index IS the
        // smaller id — union toward it and the representative is
        // already the running min
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      e += 2
    }
    val out = (0 until nIds).map(i => (ids(i), ids(find(i))))
    spark.createDataset(out)
      .select(col("_1").cast(idType).as("id"),
        col("_2").cast(idType).as("root"))
  }

  /** Keep one document per near-duplicate cluster (the min id), plus
    * every document that is in no cluster — the end-to-end near-dedup
    * a training pipeline actually applies. Accepts precomputed
    * `dupClusters` output via `clusters` so the propagation isn't run
    * twice when the caller also needs the labels.
    */
  def dedupNearDups(df: DataFrame, idCol: String, pairs: DataFrame,
                    idA: String = "id_a", idB: String = "id_b",
                    clusters: Option[DataFrame] = None): DataFrame = {
    val losers = clusters.getOrElse(dupClusters(pairs, idA, idB))
      .filter(col("root") =!= col("id")).select("id")
    df.join(losers.withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
  }

  /** Eval-set contamination check (the decontamination pass every
    * training corpus needs before a benchmark is trustworthy): flags
    * corpus documents sharing at least one word n-gram with any eval
    * document — the n-gram-collision rule of the GPT-3/PaLM
    * decontamination appendices, with n defaulting to 8.
    *
    * @return one row per CONTAMINATED corpus doc:
    *   (id, n_shared_grams, n_eval_docs, contamination_frac) where
    *   contamination_frac = shared grams / doc's distinct grams
    *
    * Scale shape: both sides reduce to fixed-width (id, gram-hash)
    * rows; the join is an equi-join on the hash — the eval side is
    *  benchmarks, i.e. tiny, so AQE broadcasts it and the corpus
    * never shuffles. Distinct-gram counting is one partial-aggregated
    * groupBy. No arrays, no windows, no driver state.
    *
    * `bloomFpp`: when set, a Bloom filter over the eval gram hashes
    * (built distributed, ~1.2 MB/million grams at 1% fpp) is broadcast
    * and applied to the corpus gram rows BEFORE they reach the join —
    * at 100 TB this is the difference between shuffling every corpus
    * gram into the join's aggregation and shuffling only the ~0.01%
    * that might collide with an eval gram. Results are IDENTICAL to
    * the unfiltered path: Bloom false positives are removed by the
    * exact hash equi-join, and the contamination denominator
    * (`n_grams`) is counted before the prefilter. In this mode the
    * result is persisted and materialized before returning (so the
    * one-shot Bloom broadcast's executor copies can be released) —
    * `.unpersist()` the result when done.
    */
  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003 — the MOSS algorithm): over the char k-gram hash stream,
    * each w-window selects its RIGHTMOST minimal hash; the distinct
    * selected (position, hash) pairs are the fingerprint set. The
    * local guarantee: any shared substring of length ≥ w + k − 1
    * yields at least one shared fingerprint HASH on both sides, at
    * expected density 2/(w+1) — sub-document overlap detection with a
    * ~4.5× smaller index than the full gram set, and positions for
    * localization (which MinHash, a global sketch, cannot give).
    *
    * Hashes use the engine md5 convention (top 60 bits), grams the
    * shingle convention (positions 1..max(len−k+1, 1), end-truncated),
    * so the whole selection replays in SQL.
    *
    * Scale shape: a zero-shuffle row-parallel mapPartitions kernel —
    * per doc one hash pass and one window sweep (O(G·w), w small;
    * no cross-document state).
    *
    * @return (id, pos, fp) — pos is the 1-based gram position, fp the
    *         60-bit hash; one row per distinct selected pair
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 8): DataFrame = {
    if (k < 1) throw InvalidArgumentValue(s"k must be >= 1, got $k")
    if (w < 1) throw InvalidArgumentValue(s"w must be >= 1, got $w")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
        lower(col(textCol)).as("txt"))
      .filter(col("id").isNotNull && col("txt").isNotNull)
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // the first 15 hex digits of the MD5 are the digest's first
        // 60 bits read big-endian (7 full bytes + the high nibble of
        // byte 7) — computed directly instead of the round-trip
        // through a hex string and Long.parseLong the kernel used to
        // pay per gram (bit-identical values; the q128–q130 oracle
        // hashes pin it)
        def hash60(d: Array[Byte]): Long = {
          var v = 0L
          var i = 0
          while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
          (v << 4) | ((d(7) & 0xff) >>> 4)
        }
        def utf8Len(c: Char): Int =
          if (c < 0x80) 1 else if (c < 0x800) 2 else 3
        rows.flatMap { case (id, txt) =>
          val len = txt.length
          val g = math.max(len - k + 1, 1)
          val h = new Array[Long](g + 1) // 1-based
          // Surrogate-free text (the overwhelmingly common case)
          // encodes each UTF-16 unit independently in UTF-8, so every
          // gram's bytes are a SLICE of the whole doc's encoding —
          // one encode per doc plus a per-char byte-offset table
          // replaces a substring + getBytes allocation pair per gram.
          // Text with surrogates keeps the per-gram substring path:
          // a window boundary can split a surrogate pair, and
          // String.getBytes replaces the orphan half with '?', which
          // a byte slice of the full encoding would not reproduce.
          var hasSurrogate = false
          var ci = 0
          while (ci < len && !hasSurrogate) {
            val c = txt.charAt(ci)
            if (c >= 0xD800 && c <= 0xDFFF) hasSurrogate = true
            ci += 1
          }
          var j = 1
          if (!hasSurrogate) {
            val bytes = txt.getBytes("UTF-8")
            val offs = new Array[Int](len + 1)
            var bo = 0
            var i2 = 0
            while (i2 < len) {
              offs(i2) = bo
              bo += utf8Len(txt.charAt(i2))
              i2 += 1
            }
            offs(len) = bo
            while (j <= g) {
              val from = offs(j - 1)
              val until = offs(math.min(j - 1 + k, len))
              md.reset()
              md.update(bytes, from, until - from)
              h(j) = hash60(md.digest())
              j += 1
            }
          } else {
            while (j <= g) {
              md.reset()
              md.update(txt.substring(j - 1, math.min(j - 1 + k, len))
                .getBytes("UTF-8"))
              h(j) = hash60(md.digest())
              j += 1
            }
          }
          // rightmost-minimal selection per window; a position selected
          // by several windows emits once
          val sel = scala.collection.mutable.LinkedHashSet
            .empty[(Long, Long)]
          val nW = math.max(g - w + 1, 1)
          var s = 1
          while (s <= nW) {
            val end = math.min(s + w - 1, g)
            var best = s
            var jj = s + 1
            while (jj <= end) {
              if (h(jj) <= h(best)) best = jj // <= keeps the rightmost
              jj += 1
            }
            sel += ((best.toLong, h(best)))
            s += 1
          }
          sel.iterator.map { case (pos, fp) => (id, pos, fp) }
        }
      }.toDF("id", "pos", "fp")
  }

  /** Fingerprint-overlap pair detection over winnowed sets: docs
    * sharing ≥ `minShared` distinct fingerprint hashes — the
    * sub-document plagiarism/overlap alarm the local guarantee backs
    * (a shared substring ≥ w + k − 1 chars ⇒ ≥ 1 shared hash, so
    * minShared = 1 has guaranteed recall for overlaps of that length;
    * higher values trade recall for precision).
    *
    * `containment` = n_shared / min(|fps_a|, |fps_b|) — a verbatim
    * substring's fingerprints are ALL in its source (the guarantee
    * applied to every interior window), so extracted/quoted fragments
    * sit at exactly 1.0 while topically-similar noise spreads low;
    * threshold on it the way [[ngramContainmentJoin]] does on gram
    * containment.
    *
    * Scale shape: the equi-join runs on the winnowed sets (density
    * 2/(w+1) of the gram stream), keyed on fixed-width hashes.
    * `maxDocFreq` drops hashes present in more than that many docs
    * from CANDIDATE GENERATION only — the standard boilerplate/flood
    * guard (a corpus-wide header's fingerprint would otherwise join
    * quadratically; same mechanism class as the banded-LSH cap).
    * `n_shared` and `containment` are then recomputed EXACTLY on the
    * unfiltered fingerprint sets of the surviving candidate pairs
    * (the guarded-candidates + exact-verify shape of
    * [[probeMinhashIndex]]), so the guard never changes a reported
    * score — a verbatim fragment whose fingerprints include
    * corpus-wide hashes still scores containment 1.0. What the guard
    * CAN do is drop a pair entirely when every one of its shared
    * hashes is flood-frequent (that pruning is its purpose).
    *
    * @return (id_a, id_b, n_shared, containment) with id_a < id_b
    */
  def winnowOverlapJoin(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 4, w: Int = 8, minShared: Int = 1,
                        minContainment: Double = 0.0,
                        maxDocFreq: Option[Int] = None): DataFrame = {
    if (minShared < 1)
      throw InvalidArgumentValue(
        s"minShared must be >= 1, got $minShared")
    if (minContainment.isNaN || minContainment < 0 || minContainment > 1)
      throw InvalidArgumentValue(
        s"minContainment must be in [0,1], got $minContainment")
    maxDocFreq.foreach { m =>
      if (m < 2) throw InvalidArgumentValue(
        s"maxDocFreq must be >= 2, got $m")
    }
    // scoped cached-plan AQE (OperatorScope.CachedPlanAqe): the
    // winnow pair path persists fps / freq / result — dimension-to-
    // candidate sized frames whose exchanges otherwise run cores-wide
    // (measured r14: q130 1106 tasks → 111, wall 0.66×)
    OperatorScope(df.sparkSession, OperatorScope.Coalesced) { scope =>
    val fps = scope.persist(winnowFingerprints(df, idCol, textCol, k, w)
      .select(col("id"), col("fp")).distinct())
    // ONE priming action materializes the kernel (needed anyway so
    // join strategies come from measured sizes, not planner
    // estimates — the q31 1 GB-broadcast lesson) and, with the guard
    // requested, ALSO measures the max per-fp doc frequency off the
    // persisted freq table the guarded join was going to aggregate
    // regardless. Two wins at once: (a) when NO fingerprint exceeds
    // the cap — the common case on a clean corpus — the guard
    // provably cannot prune anything, so the filter join AND the
    // exact-rescore pass (two joins + an aggregate, about a third of
    // q130's jobs) are skipped with bit-identical output; (b) when
    // the guard does engage, the lazy plan reuses the persisted freq
    // table instead of re-aggregating it.
    val lazyOut = maxDocFreq match {
      case Some(m) =>
        val freq =
          scope.persist(fps.groupBy("fp").agg(count(lit(1)).as("__df")))
        val head = freq.agg(sum("__df").as("rows"), max("__df").as("mx"))
          .head()
        val nRows = if (head.isNullAt(0)) 0L else head.getLong(0)
        val maxDf = if (head.isNullAt(1)) 0L else head.getLong(1)
        if (maxDf <= m)
          winnowOverlapLazy(fps, minShared, minContainment, None,
            fpsRows = Some(nRows))
        else
          winnowOverlapLazy(fps, minShared, minContainment, Some(m),
            fpsRows = Some(nRows), freqTable = Some(freq))
      case None =>
        winnowOverlapLazy(fps, minShared, minContainment, None,
          fpsRows = Some(fps.count()))
    }
    val out = lazyOut
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
    }
  }

  /** The lazy (un-persisted) overlap-join plan over a prepared
    * distinct (id, fp) frame — split out so the Plans tool and
    * PlanSpec can inspect the full join/guard/verify structure, which
    * the public entry point hides behind its result cache.
    *
    * Join strategies never come from planner estimates (an
    * un-materialized cache reports near-zero stats, and the measured
    * consequence at the open-vocab decade was a 1 GB corpus-side
    * broadcast — SCALING.md round 8): with `fpsRows` measured and
    * small the self-join broadcasts one side, otherwise every
    * corpus-proportional join is forced sort-merge; the verify joins
    * are candidate-bounded and always sort-merge here (laziness
    * forbids counting the candidate set).
    */
  private[graft] def winnowOverlapLazy(fps: DataFrame, minShared: Int,
                                       minContainment: Double,
                                       maxDocFreq: Option[Int],
                                       fpsRows: Option[Long] = None,
                                       freqTable: Option[DataFrame] = None)
      : DataFrame = {
    val bcastCap = fps.sparkSession.conf
      .get("graft.dedup.maxBroadcastCandidates", "5000000").toLong
    def fpsSide(c: DataFrame): DataFrame =
      if (fpsRows.exists(_ <= bcastCap / 8)) broadcast(c)
      else c.hint("merge")
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("__n"))
    val filtered = maxDocFreq match {
      case Some(m) =>
        // the eager entry point hands in its already-persisted freq
        // table (aggregated once for the guard-engagement check); the
        // lazy/standalone path aggregates it in-plan
        val freq = freqTable
          .getOrElse(fps.groupBy("fp").agg(count(lit(1)).as("__df")))
          .filter(col("__df") <= m).select("fp")
        fps.join(freq, "fp")
      case None => fps
    }
    val pairCounts = filtered.as("a")
      .join(fpsSide(filtered.as("b")),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    // with the flood guard on, the counts above are over PRUNED
    // hashes — recompute n_shared exactly on the unfiltered sets for
    // the surviving candidate pairs (bounded by candidates, not the
    // corpus), so the guard prunes join keys without biasing scores.
    // minShared applies to the EXACT count only: a pair whose pruned
    // count is below the bar can still clear it exactly.
    val exact = maxDocFreq match {
      case None => pairCounts
      case Some(_) =>
        val cand = pairCounts.select("id_a", "id_b")
        val candDocs = cand.select(col("id_a").as("id"))
          .union(cand.select(col("id_b").as("id"))).distinct()
        val fpsCand = fps.join(candDocs, Seq("id"), "left_semi")
        cand
          .join(fpsCand.select(col("id").as("id_a"), col("fp")), "id_a")
          .hint("merge")
          .join(fpsCand.select(col("id").as("id_b"), col("fp")),
            Seq("id_b", "fp"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("n_shared"))
    }
    exact
      .filter(col("n_shared") >= minShared)
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("__n", "__na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("__n", "__nb"), "id_b")
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("__na"), col("__nb")))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("containment"))
  }

  /** The safe-at-scale winnow pair entry point: [[winnowOverlapJoin]]
    * with the doc-frequency flood guard ON BY DEFAULT (the
    * `minhashNearDups`-in-composed-paths convention, cf. the q57
    * pipeline): an unsupervised dedup run over whatever a 100 TB
    * crawl contains WILL hit a corpus-wide boilerplate fingerprint,
    * and the unguarded fp self-join is quadratic per flooded hash —
    * the measured-unfinishable LSH flood failure mode (BENCHNOTES
    * round 5; winnow slope table round 8). The guard only prunes
    * candidate-join keys — surviving pairs' scores are exact
    * (recomputed on unfiltered sets inside winnowOverlapJoin).
    *
    * `maxDocFreq <= 0` turns the guard off (the `maxBandBucket`
    * convention). Choose the cap ≥ the largest legitimate
    * near-duplicate family × a small factor: overlap pairs inside a
    * flood bucket vanish only when EVERY shared hash is
    * flood-frequent, i.e. pure-boilerplate pairs — which is what the
    * guard is for.
    */
  def winnowNearDups(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 4, w: Int = 8, minShared: Int = 3,
                     minContainment: Double = 0.8,
                     maxDocFreq: Int = 1000): DataFrame =
    winnowOverlapJoin(df, idCol, textCol, k, w, minShared,
      minContainment,
      if (maxDocFreq <= 0) None else Some(maxDocFreq))

  /** End-to-end winnow dedup — the composed pipeline a training-data
    * job actually runs: guarded overlap pairs ([[winnowNearDups]]) →
    * connected components ([[dupClusters]]) → keep the min-id doc per
    * overlap cluster plus every unclustered doc
    * ([[dedupNearDups]]). Sub-document overlap (quotation,
    * extraction, mosaic reuse ≥ w + k − 1 chars) collapses to one
    * representative — the complement of `dedupNearDups`-over-minhash,
    * which needs whole-document similarity.
    *
    * Scale shape: inherits each stage's — zero-shuffle fingerprint
    * kernel, doc-freq-guarded fixed-width equi-join, candidate-bounded
    * exact verify, pointer-jump components with checkpoint hygiene.
    */
  def dedupWinnowOverlaps(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 4, w: Int = 8, minShared: Int = 3,
                          minContainment: Double = 0.8,
                          maxDocFreq: Int = 1000): DataFrame = {
    OperatorScope(df.sparkSession) { scope =>
      val pairs = scope.adopt(winnowNearDups(df, idCol, textCol, k, w,
        minShared, minContainment, maxDocFreq))
      // dupClusters (inside dedupNearDups) is iterative and eager, so
      // pairs is fully consumed once this returns; the surviving frame
      // references only the checkpointed labels
      dedupNearDups(df, idCol, pairs)
    }
  }

  /** Cross-corpus n-gram NOVELTY: per scored document, the fraction
    * of its distinct word n-grams absent from a reference corpus —
    * "how much genuinely new content does this crawl snapshot /
    * source add", the incremental-ingest complement of
    * [[contaminationCheck]] (which asks the opposite question about
    * an eval set). High novelty ⇒ fresh content worth keeping; near
    * zero ⇒ the snapshot is re-crawling what the reference already
    * holds.
    *
    * Scale shape: both sides reduce to fixed-width (id, gram-hash)
    * rows (`wordGramRows` — hashed before the distinct, so every
    * shuffle is a long); membership is one equi-join of scored grams
    * against the reference's distinct gram set (AQE broadcasts
    * whichever side fits), then a per-doc partial-aggregated count.
    * For a reference far larger than memory, the same Bloom-prefilter
    * trade as contaminationCheck applies in reverse — prefilter
    * scored grams against a reference Bloom and count definite
    * novelties exactly.
    *
    * @return (id, n_grams, n_novel, novelty) per scored document
    */
  def gramNoveltyScore(df: DataFrame, reference: DataFrame,
                       idCol: String, textCol: String,
                       refIdCol: String, refTextCol: String,
                       n: Int = 5): DataFrame = {
    if (n <= 0)
      throw InvalidArgumentValue(s"n must be positive, got $n")
    // spread = false on both sides (r13-verdict #3): novelty is one
    // linear explode + a broadcast membership join + a partial-
    // aggregated per-doc count — no downstream stage inherits the
    // gram cache's partitioning, so the spread only added two
    // exchanges and cores-proportional micro-tasks (driver r13:
    // q126 0.72× wall; reverting restores the r12 shape exactly)
    val grams = wordGramRows(df, idCol, textCol, n, spread = false)
    val refGrams = wordGramRows(reference, refIdCol, refTextCol, n,
        spread = false)
      .select(col("g")).distinct()
      .withColumn("__seen", lit(1))
    grams.join(refGrams, Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams"))
          .as("novelty"))
  }

  /** The reference corpus's distinct hashed word-n-gram set as a
    * standalone frame — the build-once half of the build/probe split
    * for incremental-ingest novelty gating (the [[buildMinhashIndex]]
    * convention). Rationale, measured: a streaming gate that calls
    * [[gramNoveltyScore]] per micro-batch re-derives this distinct
    * set every batch, so the recurring per-batch cost carries the
    * whole reference's gram mass (8.4×/decade probe shuffle,
    * SCALING.md round 8); building the set once moves that term into
    * the one-time build, where it belongs. Persist the result (or
    * write it to parquet next to the dedup index) and probe batches
    * with [[gramNoveltyAgainst]].
    *
    * @return single-column (g) frame of distinct xxhash64 gram hashes
    */
  def buildGramSet(reference: DataFrame, refIdCol: String,
                   refTextCol: String, n: Int = 5): DataFrame = {
    if (n <= 0)
      throw InvalidArgumentValue(s"n must be positive, got $n")
    wordGramRows(reference, refIdCol, refTextCol, n)
      .select(col("g")).distinct()
  }

  /** [[gramNoveltyScore]] against a PREPARED gram set (from
    * [[buildGramSet]], typically persisted or read back from
    * parquet). Identical result by construction — the set is distinct
    * on `g`, so the inner seen-count preserves exactly the outer
    * join's per-row match multiplicity — but the per-batch plan is
    * the scale-correct one: the (contractually small) batch gram side
    * is count-guard broadcast and the reference set is a pure
    * streamed scan that never reshuffles; past the cap the join falls
    * back to sort-merge with a logged warning rather than building a
    * corpus-sized hash relation.
    *
    * @return (id, n_grams, n_novel, novelty) per scored document
    */
  def gramNoveltyAgainst(df: DataFrame, gramSet: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 5,
                         materialize: Boolean = true): DataFrame = {
    if (n <= 0)
      throw InvalidArgumentValue(s"n must be positive, got $n")
    val spark = df.sparkSession
    val bcastCap = spark.conf
      .get("graft.dedup.maxBroadcastCandidates", "5000000").toLong
    // materialize=false is the REPEATED-CALL form (the streaming gate
    // calls this once per micro-batch): nothing is persisted, so no
    // cached frame can accumulate across batches — the price is the
    // batch-bounded gram projection computing up to three times
    // inside the one downstream action, which is the right trade when
    // the batch ≪ the reference
    OperatorScope(spark) { scope =>
    val grams0 = wordGramRows(df, idCol, textCol, n)
    val grams = if (materialize) scope.persist(grams0) else grams0
    val safe = grams.count() <= bcastCap
    if (!safe)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"gramNoveltyAgainst: batch gram rows exceed $bcastCap — " +
          "falling back to sort-merge membership join")
    def small(c: DataFrame): DataFrame =
      if (safe) broadcast(c) else c.hint("merge")
    val totals = grams.groupBy("id").agg(count(lit(1)).as("n_grams"))
    val seen = small(grams)
      .join(gramSet.select(col("g")), Seq("g"))
      .groupBy("id").agg(count(lit(1)).as("n_seen"))
    val res = totals.join(seen, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        (col("n_grams") - coalesce(col("n_seen"), lit(0L)))
          .as("n_novel"))
      .select(col("id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams"))
          .as("novelty"))
    if (!materialize) res
    else {
      val r = res
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    }
  }

  def contaminationCheck(corpus: DataFrame, corpusId: String,
                         corpusText: String, eval: DataFrame,
                         evalId: String, evalText: String,
                         n: Int = 8,
                         bloomFpp: Option[Double] = None): DataFrame = {
    if (n <= 0)
      throw InvalidArgumentValue(s"n must be positive, got $n")
    bloomFpp.foreach { fpp =>
      if (fpp <= 0 || fpp >= 1)
        throw InvalidArgumentValue(s"bloomFpp must be in (0,1), got $fpp")
    }
    OperatorScope(corpus.sparkSession) { scope =>
    val cGrams = wordGramRows(corpus, corpusId, corpusText, n)
    val eGrams = wordGramRows(eval, evalId, evalText, n)
      .withColumnRenamed("id", "eid")
    val sizes = cGrams.groupBy("id").agg(count(lit(1)).as("n_grams"))
    val cSide = bloomFpp match {
      case Some(fpp) =>
        // the count is one cheap job over the (tiny by contract) eval
        // side; the filter itself is built with a distributed
        // treeAggregate — only the final bitset hits the driver. The
        // gram frame is persisted across the two EAGER build jobs
        // (count + aggregate) so its distinct-shuffle runs once, and
        // released right after (the lazy join recomputes it at
        // action time — cache-hygiene contract: nothing persisted
        // outlives the call)
        val hashes = scope.persist(eGrams.select("g"))
        val nE = math.max(hashes.count(), 1L)
        val bf = hashes.stat.bloomFilter("g", nE, fpp)
        scope.release(hashes)
        val bfB = scope.broadcast(corpus.sparkSession, bf)
        // mightContainLong is the one non-codegen step in the module's
        // dedup family — a deliberate trade: a broadcast bitmap probe
        // per gram row versus shuffling the full corpus gram mass
        val might = udf((h: Long) => bfB.value.mightContainLong(h))
        cGrams.filter(might(col("g")))
      case None => cGrams
    }
    val res = cSide.join(eGrams, "g")
      .groupBy("id")
      .agg(count_distinct(col("g")).as("n_shared_grams"),
        count_distinct(col("eid")).as("n_eval_docs"))
      .join(sizes, "id")
      .select(col("id"), col("n_shared_grams"), col("n_eval_docs"),
        (col("n_shared_grams").cast("double") /
          col("n_grams").cast("double")).as("contamination_frac"))
    if (bloomFpp.isEmpty) res
    else {
      // the Bloom broadcast is one-shot: the (small — contaminated
      // docs only) result is persisted so the scope can free the
      // executor copies. `.unpersist()` the result when done.
      val out = res.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    }
    }
  }

  /** Cross-document duplicated-gram statistics — the RefinedWeb /
    * Dolma quality signal "how much of this document is text that
    * also appears elsewhere in the corpus": per document, the number
    * of distinct word n-grams, the number of those shared with at
    * least `minDocs` documents (including itself), and their
    * fraction. High `dup_gram_frac` flags boilerplate, templated
    * spam, and licensing-risk mirrors that per-document repetition
    * metrics (`TextAnalysis.repetitionStats`) are blind to.
    *
    * Scale shape: one explode to hashed gram rows (fixed-width longs
    * through every shuffle), a partial-aggregated document-frequency
    * groupBy keyed by gram FILTERED to grams meeting `minDocs` — the
    * join's build side is the DUPLICATED mass only (the thing being
    * measured, usually a sliver of the corpus — AQE broadcasts it
    * when it fits, and then the gram rows never shuffle for the
    * join), a left join to flag each gram row, and a final
    * per-document aggregation. No windows, no arrays through
    * shuffles, no driver state.
    */
  def duplicatedGramStats(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 5, minDocs: Int = 2): DataFrame = {
    if (n <= 0)
      throw InvalidArgumentValue(s"n must be positive, got $n")
    if (minDocs < 2)
      throw InvalidArgumentValue(
        s"minDocs must be >= 2 (a gram always appears in its own " +
          s"document), got $minDocs")
    val grams = wordGramRows(df, idCol, textCol, n)
    val dupGrams = grams.groupBy("g").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
    grams.join(dupGrams, Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__nd").isNotNull, 1L).otherwise(0L))
          .as("n_dup_grams"))
      .select(col("id"), col("n_grams"), col("n_dup_grams"),
        (col("n_dup_grams").cast("double") /
          col("n_grams").cast("double")).as("dup_gram_frac"))
  }

  /** Cross-document duplicated-SPAN removal — the substring-level
    * dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), re-expressed join-parallel instead of
    * via a suffix array (which needs the corpus concatenated in one
    * address space — impossible at 100 TB): every word whose position
    * is covered by a word n-gram appearing in ≥ `minDocs` DISTINCT
    * documents is deleted, and the survivors are rejoined with single
    * spaces. This removes the boilerplate/template/licensing-mirror
    * text ITSELF, where document-level dedup (`minhashNearDups`) can
    * only drop whole documents.
    *
    * Normalization contract (mirrored exactly by the SQL oracle): the
    * output text is the trimmed, LOWERCASED, single-space-rejoined
    * survivor sequence — positions refer to `\s+`-split tokens of the
    * trimmed lowercase text. Documents shorter than `n` tokens have no
    * n-grams and pass through unmodified (post-normalization).
    *
    * Scale shape: one explode to positioned gram-hash rows (fixed-width
    * longs through every shuffle), a partial-aggregated
    * document-frequency groupBy FILTERED to grams in ≥ `minDocs` docs —
    * the join's build side is the duplicated mass only, which AQE
    * broadcasts when it fits — a position explode over matched grams
    * only, one anti-join on (id, pos), and a per-document reassembly
    * whose array is bounded by a single document's tokens (the same
    * bound `chunk` already accepts). No windows, no driver state,
    * never O(n²).
    *
    * @return (id, n_tokens, n_removed, text_clean) — one row per input
    *   document, `text_clean` possibly empty when everything was
    *   duplicated
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String,
                            textCol: String, n: Int = 5,
                            minDocs: Int = 2): DataFrame = {
    if (n <= 0)
      throw InvalidArgumentValue(s"n must be positive, got $n")
    if (minDocs < 2)
      throw InvalidArgumentValue(
        s"minDocs must be >= 2 (a gram always appears in its own " +
          s"document), got $minDocs")
    removeSpansMatching(df, idCol, textCol, n,
      grams => grams.select("id", "g").distinct()
        .groupBy("g").agg(count(lit(1)).as("__nd"))
        .filter(col("__nd") >= minDocs)
        .select("g"))
  }

  /** Shared span-surgery kernel: delete every word whose position is
    * covered by a full-width n-gram whose hash lands in
    * `matchGrams(positioned corpus grams)`, then rejoin survivors.
    * The two public faces differ only in where the match set comes
    * from: the corpus's own duplicated mass
    * ([[removeDuplicatedSpans]]) or an external eval set
    * ([[removeContaminatedSpans]]).
    */
  private def removeSpansMatching(df: DataFrame, idCol: String,
                                  textCol: String, n: Int,
                                  matchGrams: DataFrame => DataFrame)
      : DataFrame = {
    // spreadSmallScan: the posexplode/gram-explode subtrees below
    // otherwise run in ONE task on a single-file corpus (the
    // wordGramRows rationale); the file-metadata gate adds no
    // exchange at scale
    val base = InputSpread.spreadSmallScan(
        df.select(col(idCol).cast("long").as("id"),
          col(textCol).as("__txt")), "id")
      .select(col("id"), split(trim(lower(col("__txt"))), "\\s+").as("t"))
    // (id, pos, tok), pos 1-based over the normalized token sequence
    val toks = base.select(col("id"),
        posexplode(col("t")).as(Seq("pos0", "tok")))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("tok"))
    // positioned full-width grams only (a doc with < n tokens has none)
    val grams = base.filter(size(col("t")) >= n)
      .select(col("id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (n - 1))).as("i"))
      .select(col("id"), col("i"),
        xxhash64(concat_ws(" ", slice(col("t"), col("i"), lit(n))))
          .as("g"))
    val hitGrams = matchGrams(grams)
    val covered = grams.join(hitGrams, "g")
      .select(col("id"),
        explode(sequence(col("i"), col("i") + (n - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("id", "pos"), "left_anti")
    val rejoined = kept.groupBy("id")
      .agg(count(lit(1)).as("__n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos").as("p"),
              col("tok").as("w")))),
            x => x.getField("w")),
          " ").as("__text"))
    base.select(col("id"), size(col("t")).cast("long").as("n_tokens"))
      .join(rejoined, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("__text"), lit("")).as("text_clean"))
  }

  /** Surgical decontamination — the span-level complement of
    * [[contaminationCheck]]: instead of FLAGGING documents that share
    * word n-grams with an evaluation set, delete the covered words
    * themselves and keep the rest of the document (the
    * "remove-the-leak, keep-the-page" policy benchmark-decontamination
    * pipelines actually ship). Same normalization/reassembly contract
    * and scale shape as [[removeDuplicatedSpans]]; the match side is
    * the eval set's distinct gram hashes — eval-sized by contract, so
    * AQE broadcasts it and the corpus gram rows never shuffle for the
    * match. Gram definition (split/trim/lower + xxhash64 of the
    * space-joined slice) is identical to [[contaminationCheck]]'s, so
    * a doc it flags loses exactly its flagged grams' spans here —
    * with one documented edge: corpus documents SHORTER than n tokens
    * have no full-width gram and always pass through unmodified
    * (contaminationCheck hashes their whole text as a short gram and
    * can still flag them; span surgery on a sub-gram doc would mean
    * deleting it entirely, which is a drop policy, not surgery).
    *
    * @return (id, n_tokens, n_removed, text_clean) — one row per
    *   corpus document
    */
  def removeContaminatedSpans(df: DataFrame, idCol: String,
                              textCol: String, eval: DataFrame,
                              evalId: String, evalText: String,
                              n: Int = 8): DataFrame = {
    if (n <= 0)
      throw InvalidArgumentValue(s"n must be positive, got $n")
    val evalGrams = wordGramRows(eval, evalId, evalText, n)
      .select("g").distinct()
    removeSpansMatching(df, idCol, textCol, n,
      _ => evalGrams)
  }

  /** Cross-document duplicated-LINE removal — the RefinedWeb /
    * CCNet-style boilerplate filter: any line (a `sep`-delimited
    * segment, kept verbatim) that appears in at least `minDocs`
    * DISTINCT documents is deleted from every document, and the
    * survivors are rejoined with `sep` in their original order. This
    * is the natural-granularity sibling of [[removeDuplicatedSpans]]:
    * spans catch re-flowed text at word level; lines catch the
    * overwhelmingly common case — navigation chrome, cookie banners,
    * license headers — at a fraction of the cost (one row per line,
    * not per token, and no position-coverage explode).
    *
    * Matching is EXACT on the line text (no normalization — mirrored
    * by the SQL oracle); whitespace-only lines are structural, never
    * counted and never removed.
    *
    * Scale shape: one posexplode to (id, pos, line) rows, a
    * partial-aggregated distinct-document count keyed by line hash
    * FILTERED to lines meeting `minDocs` — the anti-join's build side
    * is the duplicated mass only (AQE broadcasts it when it fits) —
    * and a per-document reassembly bounded by one document's lines.
    * Hashing (xxhash64) keeps the count/join shuffles fixed-width;
    * the raw line text never shuffles twice. No windows, no driver
    * state.
    *
    * @return (id, n_lines, n_removed, text_clean) — one row per input
    *   document, `text_clean` empty when every line was boilerplate
    */
  def removeDuplicatedLines(df: DataFrame, idCol: String,
                            textCol: String, sep: String = "\n",
                            minDocs: Int = 2): DataFrame = {
    if (sep.isEmpty)
      throw InvalidArgumentValue("sep must be non-empty")
    if (minDocs < 2)
      throw InvalidArgumentValue(
        s"minDocs must be >= 2 (a line always appears in its own " +
          s"document), got $minDocs")
    val base = df.select(col(idCol).cast("long").as("id"),
      split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
        .as("ls"))
    val lines = base.select(col("id"),
        posexplode(col("ls")).as(Seq("pos0", "line")))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("line"),
        xxhash64(col("line")).as("h"))
    val dupLines = lines.filter(trim(col("line")) =!= "")
      .select("id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("h")
    val kept = lines.join(dupLines, Seq("h"), "left_anti")
    val rejoined = kept.groupBy("id")
      .agg(count(lit(1)).as("__n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos").as("p"),
              col("line").as("l")))),
            x => x.getField("l")),
          sep).as("__text"))
    base.select(col("id"), size(col("ls")).cast("long").as("n_lines"))
      .join(rejoined, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        (col("n_lines") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("__text"), lit("")).as("text_clean"))
  }

  /** Dedup-aware train/eval split: assigns each near-duplicate
    * CLUSTER — not each document — to a split, so no near-dup pair
    * ever straddles train and eval (per-document random splitting
    * leaks paraphrases of eval documents into training, silently
    * inflating the eval).
    *
    * Cluster membership comes from `dupClusters` over `pairs`
    * (documents in no pair are their own singleton cluster), and the
    * assignment is `TextAnalysis.hashSample`'s md5-mod rule applied to
    * the cluster ROOT id — deterministic across engines, runs, and
    * retries, and re-derivable forever from the pair set alone (the
    * property a 100 TB split needs: no random state to lose).
    *
    * @param evalKeep/@param evalOutOf eval fraction = evalKeep/evalOutOf
    * @return `df` plus (root, split) columns, split ∈ {train, eval}
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       evalKeep: Int = 2, evalOutOf: Int = 10,
                       idA: String = "id_a",
                       idB: String = "id_b"): DataFrame = {
    val roots = dupClusters(pairs, idA, idB)
      .select(col("id").as("__cid"), col("root").as("__croot"))
    df.join(roots, col(idCol) === col("__cid"), "left")
      .withColumn("root",
        coalesce(col("__croot"), col(idCol).cast("long")))
      .drop("__cid", "__croot")
      .withColumn("split",
        when(TextAnalysis.hashSample(col("root"), evalKeep, evalOutOf),
          lit("eval")).otherwise(lit("train")))
  }

  private val SimhashBits = 60 // md5-prefix hashes stay under 2^60

  /** 60-bit token-level SimHash signature column (row-local variant,
    * readable but interpreted — use `simhashSignatures` for bulk
    * computation). The per-token hash is the first 15 hex chars of md5
    * (reproducible in any engine — the correctness oracle recomputes
    * it in SQL).
    */
  def simhash(text: Column): Column = {
    val toks = split(lower(text), "\\s+")
    val hashed = transform(toks,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val nToks = size(hashed)
    val bitVals: Seq[Column] = (0 until SimhashBits).map { b =>
      when(size(filter(hashed,
          h => shiftright(h, b).bitwiseAND(lit(1L)) === 1L)) * 2 >= nToks,
        lit(1L << b)).otherwise(lit(0L))
    }
    bitVals.reduce(_ + _)
  }

  /** Bulk SimHash: explode tokens, one md5 per token, then 60
    * codegen'd ±1-vote SUM aggregates (bit set ⇔ vote ≥ 0, i.e.
    * 2·count_set ≥ n — identical semantics to `simhash`). One shuffle
    * keyed by id; everything whole-stage-codegen'd.
    */
  def simhashSignatures(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), "\\s+")).as("t"))
      .withColumn("th",
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long"))
    val votes = toks.groupBy("id").agg(
      sum(when(shiftright(col("th"), 0).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as("v0"),
      (1 until SimhashBits).map { b =>
        sum(when(shiftright(col("th"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"v$b")
      }: _*)
    val sig = (0 until SimhashBits).map { b =>
      when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    votes.select(col("id"), sig.as("sig"))
  }

  /** SimHash near-duplicate pairs with GUARANTEED candidate recall:
    * signatures are cut into `maxHamming + 1` chunks, and by
    * pigeonhole any pair within the Hamming radius shares at least one
    * untouched chunk — so the chunk-bucket join is an exact superset
    * of the answer and the bit_count verification makes it exact.
    *
    * The hamming cut is applied MAP-SIDE, inside the join projection,
    * BEFORE the distinct's shuffle: on a correlated corpus most
    * chunk-collision candidates fail the cut, and shuffling them just
    * to drop them was q52's measured super-linear term (9.2× shuffle
    * for 3× data on the open-vocab decade, SCALING.md round 9).
    *
    * @param maxChunkBucket degenerate chunk-bucket guard, ON BY
    *   DEFAULT (2000; `<= 0` opts out — the `maxBandBucket`
    *   convention). A mass-duplicated doc puts its copies' identical
    *   chunk values in one bucket and the self-join enumerates
    *   |bucket|² pairs — all REAL near-dups (hamming 0), so no filter
    *   saves the output mass. Oversized buckets emit a min-id STAR
    *   instead: every member paired against the bucket's minimum
    *   (id, sig), still exactly hamming-verified — never a false
    *   positive, and for the mass-duplicate case (the only way a
    *   bucket gets that big) the hub edges verify and clusters are
    *   identical to the uncapped run. With the cap off the pigeonhole
    *   superset guarantee is unconditional; with it on, the guarantee
    *   holds per surviving candidate, and pair ENUMERATION inside
    *   oversized buckets is reduced to hub edges (the documented
    *   recall trade for not dying — `dupClusters` connectivity is
    *   what composed pipelines need).
    *
    * @return (idA, idB, hamming) with idA < idB. The returned pairs
    *   are already materialized (persisted; the chunk table is
    *   released before returning) — `.unpersist()` the result when
    *   done
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      maxChunkBucket: Int = 2000): DataFrame = {
    if (maxHamming < 0 || maxHamming >= SimhashBits)
      throw InvalidArgumentValue(
        s"maxHamming must be in [0, ${SimhashBits - 1}], got $maxHamming")
    val chunks = maxHamming + 1
    val chunkBits = (SimhashBits + chunks - 1) / chunks
    val mask = (1L << chunkBits) - 1

    val sigs = simhashSignatures(df, idCol, textCol)
    var guardReport: () => Unit = () => ()

    // |docs|·chunks rows of longs; which frame to persist depends on
    // the enumeration mode below — the capped path reads the chunk
    // rows only once (through the window), the uncapped self-join
    // reads them twice
    val chunked = sigs.select(col("id"), col("sig"),
      explode(array((0 until chunks).map { j =>
        struct(lit(j).as("ci"),
          shiftright(col("sig"), j * chunkBits).bitwiseAND(lit(mask))
            .as("cv"))
      }: _*)).as("c"))
      .select(col("id"), col("sig"),
        col("c.ci").as("ci"), col("c.cv").as("cv"))
    OperatorScope(df.sparkSession) { scope =>
    def hammingOf(a: Column, b: Column): Column =
      bit_count(a.bitwiseXOR(b)).cast("long")
    val candidates =
      if (maxChunkBucket <= 0) {
        val cache = scope.persist(chunked)
        cache.as("x")
          .join(cache.as("y"),
            col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
              col("x.id") < col("y.id"))
          .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
            hammingOf(col("x.sig"), col("y.sig")).as("hamming"))
      } else {
        // per-bucket size + min (id, sig) in one window pass; struct
        // min orders by id first, so mn.id is the bucket's min id.
        // PERSISTED + materialized (the minhashNearDups round-13
        // rationale): the windowed frame feeds three subtrees
        // Catalyst does not dedup (join x/y sides, over-cap star),
        // and unpersisted each re-ran the chunk explode + window
        // exchange+sort; the count gives the self-join real cache
        // stats before it is planned
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("ci", "cv")
        val sized = scope.persist(chunked
          .withColumn("bsz", count(lit(1)).over(w))
          .withColumn("mn", min(struct(col("id"), col("sig"))).over(w)))
        sized.count()
        val small = sized.filter(col("bsz") <= maxChunkBucket)
          .select("id", "sig", "ci", "cv")
        val allPairs = small.as("x")
          .join(small.as("y"),
            col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
              col("x.id") < col("y.id"))
          .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
            hammingOf(col("x.sig"), col("y.sig")).as("hamming"))
        val (over, report) = observeStarGuard(
          sized.filter(col("bsz") > maxChunkBucket), "bsz",
          "simhashNearDups", "maxChunkBucket", maxChunkBucket)
        guardReport = report
        val starred = over
          .filter(col("id") =!= col("mn.id"))
          .select(col("mn.id").as("id_a"), col("id").as("id_b"),
            hammingOf(col("mn.sig"), col("sig")).as("hamming"))
        allPairs.unionByName(starred)
      }
    val result = candidates
      .filter(col("hamming") <= maxHamming) // BEFORE the distinct's shuffle
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    guardReport()
    result
    }
  }

  private val guardObsSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Zero-cost observability for the bucket-cap star guards (round-9
    * advice: with the caps now default-on, capped pair enumeration on
    * a flooded corpus must be OBSERVABLE, not silent). Attaches a
    * `CollectMetrics` node to the over-cap branch — collected during
    * the funnel's own materializing action, no extra job — and returns
    * it with a report closure: called after that action, it warns with
    * the over-cap member-row count and the largest bucket whenever the
    * star guard actually engaged.
    */
  private def observeStarGuard(overCap: DataFrame, bszCol: String,
                               op: String, capName: String, cap: Int)
      : (DataFrame, () => Unit) = {
    val obs = org.apache.spark.sql.Observation(
      s"graft.dedup.$op.starGuard-${guardObsSeq.incrementAndGet()}")
    val observed = overCap.observe(obs,
      count(lit(1)).as("capped_rows"), max(col(bszCol)).as("max_bucket"))
    val report = () => try {
      // non-blocking read: the funnel's materializing action already
      // ran, so the future is complete; if it somehow isn't (metrics
      // bus lag), skip the warn rather than block a data pipeline
      val row = obs.future.value.flatMap(_.toOption)
      val capped = row.map(r => r.getLong(r.fieldIndex("capped_rows")))
        .getOrElse(0L)
      if (capped > 0L)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$op: $capName=$cap engaged — $capped member rows sit in " +
            "over-cap buckets (largest: " +
            s"${row.map(_.get(1)).getOrElse("?")}); pair " +
            "enumeration inside them is reduced to min-id star edges " +
            "(still exact-verified; dupClusters connectivity is " +
            s"preserved, pair-level output is reduced). Raise $capName " +
            "or pass <= 0 to opt out.")
    } catch { case scala.util.control.NonFatal(_) => () }
    (observed, report)
  }
}
