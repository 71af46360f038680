package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.obs.{Cost, JobCost, JobCosts}

/** Scaling-decade measurement harness (SCALING.md's data source for
  * the sf1 decade): times the six dedup heavies at one scale dir with
  * per-query stage metrics, Bench's methodology (noop write action,
  * interleaved reps, `JobCosts` rolled up per job group) without
  * requiring the non-documents tables the full bench needs.
  *
  * For the last timed rep of each query, stderr gets one `[jobs]` line
  * per Spark job (task-seconds, shuffle read/write, tasks, call site):
  * when a funnel's total task-seconds move, these show WHICH internal
  * action (checkpoint job, count, verify) paid.
  *
  * PROTOCOL for A/B comparisons (round-12 lesson): do NOT interleave
  * the two arms in one invocation. Cross-query GC debt in the shared
  * JVM poisons whichever arm runs later — the round-12 cosine A/B
  * read 4.7× one way in a clean window and 0.3× the other way at a
  * 96 GB heap, while ISOLATED per-arm invocations (one query name per
  * run, 2-3 reps, medians) gave a stable 1.9× in both orders. Run
  * each arm as its own `runMain` and compare the printed medians.
  *
  * Usage: runMain graft.tools.ScaleMeasure <sfDir> [reps] [names]
  */
object ScaleMeasure {

  private val Heavies = Seq(
    "q31_dedup_minhash", "q52_dedup_clusters", "q53_dedup_incremental",
    "q55_dedup_jaccard", "q57_leakage_split", "q65_remove_spans")

  /** Diagnostic extras, selectable via the 3rd arg: q55 at n=5 pins
    * the gram-space-saturation explanation for q55's sf1 ratio (31³
    * possible 3-grams saturate at 50k docs; 31⁵ does not).
    */
  private[tools] val Extras: Map[String,
      (SparkSession, String) => DataFrame] = Map(
    "q55_n5" -> ((s, dir) =>
      graft.llm.Dedup.ngramJaccardNearDups(
        graft.Tables.read(s, dir, "documents"), "doc_id", "text",
        n = 5, threshold = 0.5)),
    "q106_n5" -> ((s, dir) =>
      graft.llm.Dedup.ngramContainmentJoin(
        graft.Tables.read(s, dir, "documents"), "doc_id", "text",
        n = 5, threshold = 0.8)),
    // the streaming windowed HLL in its batch form (stream==batch is
    // spec-pinned): the decade claim is shuffle ≈ window-count ×
    // register mass, NOT event mass — partial map-side sketch merge
    "windowed_approx_distinct" -> ((s, dir) =>
      graft.streaming.Streaming.windowedApproxDistinct(
        graft.Tables.read(s, dir, "events"), "ts", "user_id", "1 hour")),
    // the replaced percentile path, in its worst shape: a GLOBAL
    // quantile over a continuous column — the case whose percentile
    // buffer would hold every distinct value in one task. The decade
    // claim is linear scans + constant-size aggregates per pass.
    "exact_quantiles_global" -> ((s, dir) =>
      graft.operators.Quantiles.exactQuantiles(
        graft.Tables.read(s, dir, "events"), Nil, "value",
        Seq(0.05, 0.5, 0.95))),
    // langMixStats over the FULL corpus (q125 fixes 100 composite
    // docs, so its decade row is constant by construction) — lines
    // synthesized with the q74 " the " → newline convention
    "lang_mix_full" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, regexp_replace}
      graft.llm.TextAnalysis.langMixStats(
        graft.Tables.read(s, dir, "documents")
          .select(col("doc_id"),
            regexp_replace(col("text"), " the ", "\n").as("text")),
        "doc_id", "text")
    }),
    // q31 with the band-bucket cap off: the open-vocab sf3 point showed
    // the N² term is the band-pair ENUMERATION from flooded
    // common-shingle buckets, which minhashNearDups' default cap
    // (2000) skips at the source. Against q31_dedup_minhash this is
    // the capped-vs-raw decade comparison; capped output is a verified
    // subset (compare pair counts across the runs).
    "q31_uncapped" -> ((s, dir) =>
      graft.llm.Dedup.minhashNearDups(
        graft.Tables.read(s, dir, "documents"), "doc_id", "text",
        shingleK = 4, numHashes = 128, bands = 32, threshold = 0.8,
        minBandMatches = 3, maxBandBucket = 0)),
    // winnow fp doc-frequency profile: the overlap join's pair mass
    // is Σ df·(df−1)/2 over fps with df ≤ maxDocFreq — this summary
    // says what a given cap costs on a given corpus BEFORE running
    // the join (run via `CountQuery <dir> show:winnow_df_profile`)
    "winnow_df_profile" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val fps = graft.llm.Dedup.winnowFingerprints(
        graft.Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 4, w = 8).select(col("id"), col("fp")).distinct()
      val freq = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      def mass(cap: Int) =
        sum(when(col("df") <= cap,
          col("df") * (col("df") - 1) / 2).otherwise(0L))
      freq.agg(count(lit(1)).as("n_fps"),
        sum("df").as("fp_rows"),
        max("df").as("max_df"),
        mass(1000).as("pair_mass_cap1000"),
        mass(100).as("pair_mass_cap100"),
        mass(50).as("pair_mass_cap50"),
        mass(20).as("pair_mass_cap20"))
    }),
    // q31 on the one-permutation family (q142's path at q31's corpus
    // scale — different signatures, same verified pair set where
    // recall is 1; the A/B against q31_dedup_minhash compares ONE
    // bucket update vs 128 per shingle occurrence)
    "q31_oph" -> ((s, dir) =>
      graft.llm.Dedup.minhashNearDups(
        graft.Tables.read(s, dir, "documents"), "doc_id", "text",
        shingleK = 4, numHashes = 128, bands = 32, threshold = 0.8,
        minBandMatches = 3, sigFamily = "oph")),
    // the simhash chunk join's opt-out, for the capped-vs-raw decade
    // comparison (q52 itself runs the default capped+map-side-filter
    // path)
    "simhash_uncapped" -> ((s, dir) =>
      graft.llm.Dedup.simhashNearDups(
        graft.Tables.read(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, maxChunkBucket = 0)),
    // q130's registered query fixes a 50-doc subset (its CORRECTNESS
    // shape), so its decade row is constant by construction; this is
    // the composed winnow dedup over the WHOLE corpus. maxDocFreq is
    // calibrated FROM the winnow_df_profile aggregate (the documented
    // procedure): gen-open's synthetic char-4-gram space collapses to
    // ~6.7k distinct fps over 50k docs (max df 44k), so the
    // real-text default of 1000 leaves a 91M pair mass whose
    // sort-merge spill exceeds local disk — measured, SCALING.md
    // round 9; cap 50 bounds the mass at 1.1M
    "winnow_dedup_full" -> ((s, dir) =>
      graft.llm.Dedup.dedupWinnowOverlaps(
        graft.Tables.read(s, dir, "documents")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text")),
        "doc_id", "text", k = 4, w = 8, minShared = 3,
        minContainment = 0.8, maxDocFreq = 50)),
    // q67's registered rules reject ~every synthetic gen-open doc
    // (no stopwords), so only its quality scan scales; this variant
    // keeps the same stages with rules the corpus can pass, so the
    // dedup + pack stages engage on the full corpus
    "q67_open" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val docs = graft.Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val tok = graft.llm.TextAnalysis.approxBpeTokens(col("text"))
      val rules = graft.llm.TextAnalysis.QualityRules(minTokens = 5,
        maxTokens = 100000, minAvgTokenLen = 0.0, maxAvgTokenLen = 1e9,
        maxSymbolFrac = 1.0, minAlphaTokenFrac = 0.0,
        minStopwordHits = 0)
      val quality = docs.join(
        graft.llm.TextAnalysis.qualityFilter(docs, "doc_id", "text",
          rules).filter(col("keep") === 1).select("doc_id"), "doc_id")
      val pairs = graft.llm.Dedup.ngramJaccardNearDups(quality,
        "doc_id", "text", n = 3, threshold = 0.5)
      val deduped =
        try graft.llm.Dedup.dedupNearDups(quality, "doc_id", pairs)
        finally pairs.unpersist(blocking = false)
      val packed = graft.llm.TextAnalysis.packSequences(
        deduped.withColumn("__tok", tok), "doc_id", "__tok",
        capacity = 256L, shards = 4)
      packed.agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tok_total"),
        org.apache.spark.sql.functions.max("bin").as("max_bin"))
    }),
    // cosine LSH geometry A/B at one corpus, same harness, same rep
    // protocol: the q35 corpus shape under the legacy fixed (32, 8)
    // vs the corpus-scaled auto default (bands=0 ⇒ autoLshParams).
    // SCALING.md round-11 (factor 100) measured the escape 2.9× faster
    // on a PRE-CACHED corpus; the registered-query measurements
    // disagreed, so the default is decided by THIS harness's numbers.
    "q35_legacy" -> ((s, dir) => cosineGeom(s, dir, 32, 8)),
    "q35_auto" -> ((s, dir) => cosineGeom(s, dir, 0, 0)),
    // the sketch on its motivating vocabulary: the char-4-gram stream
    // (distinct grams ≫ tokens) — shuffle must stay summary-bounded
    "hh_grams" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, explode}
      graft.llm.CorpusStats.heavyHitterItems(
        graft.Tables.read(s, dir, "documents")
          .select(explode(graft.llm.Dedup.shingles(col("text"), 4))
            .as("g")),
        "g", k = 100)
    }),
    // BPE trainer tiers over the documents table (SCALING.md's
    // jobs-per-vocab table), as (maxBatch, maxDriverWords): in-memory,
    // distributed batched, distributed one merge per round
    "bpe_tier1" -> bpe(256, 2000000L),
    "bpe_batched" -> bpe(256, 0L),
    "bpe_sequential" -> bpe(1, 0L))

  /** 500 merges, fewer once the corpus' pair space is exhausted. */
  private def bpe(maxBatch: Int, maxDriverWords: Long)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    import s.implicits._
    graft.llm.Bpe.trainBpeMerges(graft.Tables.read(s, dir, "documents"),
      "text", numMerges = 500, maxBatch, maxDriverWords)
      .toDF("left", "right")
  }

  private def cosineGeom(s: SparkSession,
                         dir: String, bands: Int, planes: Int) = {
    import org.apache.spark.sql.functions.{col, transform}
    val emb = graft.Tables.read(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val corpus = emb.unionByName(
      emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("v"), x => x + 0.05).as("v")))
    graft.llm.Similarity.cosineNearDups(corpus, "vec_id", "v",
      threshold = 0.9, bands = bands, planesPerBand = planes)
  }

  /** One job's `[jobs]` stderr line. */
  private[tools] def jobLine(j: JobCost): String =
    f"[jobs] ${j.jobId}%5d | ${j.cost.runMs / 1e3}%8.1f | " +
      f"${j.cost.shuffleReadBytes / 1e6}%8.1f | " +
      f"${j.cost.shuffleWriteBytes / 1e6}%8.1f | ${j.cost.tasks}%5d | " +
      j.description.replaceAll("\\s+", " ").trim.take(100)

  private[tools] val JobHeader =
    "[jobs] jobId | task_sec | shufR_mb | shufW_mb | tasks | desc"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/target/graft-sf1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    // "ALL" = every registered query (the suite-wide decade sweep)
    val names = args.lift(2) match {
      case Some("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case Some(list)  => list.split(",").toSeq
      case None        => Heavies
    }
    // cores from SPARK_GRAFT_CPUS (default 32) so the decade harness
    // can measure the CORES axis too (round-13 verdict #4: nothing in
    // the repo demonstrated parallel speedup); shuffle partitions
    // track the core count exactly like Bench
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-scale", s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus).getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      GraftSession.applyEngineConf(spark)
      // ad-hoc conf overrides for lever experiments, e.g.
      // GRAFT_CONF="graft.dedup.maxBroadcastCandidates=1"
      sys.env.get("GRAFT_CONF").foreach(
        _.split(";").filter(_.contains("=")).foreach { kv =>
          val Array(k, v) = kv.split("=", 2)
          spark.conf.set(k, v)
        })
      val sc = spark.sparkContext
      val costs = JobCosts.install(sc)

      val timings = scala.collection.mutable.Map[String, List[Double]]()
        .withDefaultValue(Nil)
      // one untimed warmup pass, then interleaved timed reps
      for (rep <- 0 to reps; name <- names) {
        val fn = Extras.getOrElse(name, SparkEntry.queries(name))
        // no job description, so each job is named by its call site
        if (rep > 0) sc.setJobGroup(name, null)
        val seen = if (rep == reps) costs.drain().jobs.size else 0
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          if (rep > 0) timings(name) ::= dt
          // live progress for multi-hour sweeps (stderr, not the table)
          System.err.println(f"[scale] rep=$rep $name ${dt}%.1f s")
          if (rep == reps) {
            System.err.println(s"[jobs] $name")
            System.err.println(JobHeader)
            costs.drain().jobs.drop(seen)
              .foreach(j => System.err.println(jobLine(j)))
          }
        } catch {
          // a failing query must not abort the whole sweep — record it
          // (-1 median, like Bench) and keep measuring the rest
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[scale] $name failed: ${e.getMessage}")
            timings(name) = List(-1.0)
        } finally {
          spark.catalog.clearCache()
          // a long multi-query sweep in ONE JVM accumulates GC-reclaimed
          // localCheckpoint blocks (quantiles/dedup internals) and heap
          // churn; without a kick between queries the tail of the sweep
          // measures the head's garbage (q71 measured 6.7 s solo vs
          // 77 s late in a 35-query sweep — GC stalls, not the query)
          System.gc()
          if (rep > 0) sc.clearJobGroup()
        }
      }
      val groups = costs.drain().groups
      def median(xs: List[Double]): Double = xs.sorted.apply(xs.size / 2)
      println(f"## $sfDir reps=$reps")
      println("query | wall_median_s | shuffle_mb_per_rep | task_sec_per_rep | tasks_per_rep | gc_sec_per_rep | jobs_per_rep")
      names.foreach { name =>
        val ts = timings(name)
        val c = groups.getOrElse(name, Cost())
        val n = math.max(ts.size, 1)
        val m = if (ts.contains(-1.0)) -1.0 else median(ts)
        println(f"$name | $m%.2f | " +
          f"${(c.shuffleReadBytes + c.shuffleWriteBytes) / n / 1e6}%.2f | " +
          f"${c.runMs / n / 1e3}%.1f | ${c.tasks / n} | " +
          f"${c.gcMs / n / 1e3}%.1f | ${c.jobs / n}")
      }
    } finally spark.stop()
  }
}
