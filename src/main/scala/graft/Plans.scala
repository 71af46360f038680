package graft

import java.nio.file.{Files, Paths}

/** Plan-evidence dump: writes `explain(formatted)` output for the
  * scale-critical queries to PLANS.md, so pushdown/broadcast/pruning
  * claims are inspectable without re-running anything.
  *
  * Usage: runMain graft.Plans [sfDir] [outFile]
  */
object Plans {
  /** Render a formatted plan STABLE across regenerations: Catalyst
    * expr ids, plan ids, lambda class/instance addresses, and the
    * observation sequence counter all vary run-to-run without the
    * plan changing. Expr ids are renumbered sequentially by first
    * appearance (distinctness preserved — which-column-is-which stays
    * readable); the rest are scrubbed to `*`. Round-11 verdict task
    * #8: a 26k-line regenerated diff per round buried the real
    * plan-change signal.
    */
  private[graft] def stablePlan(p: String): String = {
    val ids = scala.collection.mutable.LinkedHashMap[String, Int]()
    val renumbered = "#\\d+".r.replaceAllIn(p, m =>
      "#" + ids.getOrElseUpdate(m.matched, ids.size + 1))
    renumbered
      .replaceAll("plan_id=\\d+", "plan_id=*")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-fA-F]+", "Lambda\\$*")
      .replaceAll("@[0-9a-fA-F]{6,}", "@*")
      .replaceAll("\\.enum-\\d+", ".enum-*")
      // whole-stage-codegen stage numbering depends on subtree
      // compilation order, which varies run-to-run
      .replaceAll("codegen id : \\d+", "codegen id : *")
      // RDD ids are a global per-session counter: a Scan ExistingRDD
      // from a localCheckpoint/createDataFrame prints
      // `MapPartitionsRDD[4410] at …`, renumbered every run by
      // whatever executed earlier in the session (the repeat-churn
      // source for the quantile-family digests)
      .replaceAll("RDD\\[\\d+\\]", "RDD[*]")
      // AQE final plans embed runtime-MEASURED stage statistics
      // (`Statistics(sizeInBytes=…, rowCount=…)`) — never a stable
      // plan property
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(*)")
      // AQE query-stage IDs (the bare-integer `Arguments:` line of
      // *QueryStage node blocks) number stages in materialization
      // order, which varies run-to-run; LocalLimit/Coalesce also
      // print bare-int Arguments (a real plan property), so the
      // scrub is scoped to QueryStage blocks by their header line
      .linesIterator.foldLeft((new StringBuilder, false)) {
        case ((sb, inStage), line) =>
          val header = "^\\(\\d+\\) \\w*QueryStage.*".r
          val next =
            if (header.matches(line)) true
            else if (line.startsWith("(")) false
            else inStage
          sb ++= (if (next && line.matches("Arguments: \\d+"))
            "Arguments: *" else line)
          sb += '\n'
          (sb, next)
      }._1.toString
  }

  private def digest(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
    d.digest(s.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.builder("graft-plans", "local[4]")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    try write(spark, sfDir, out) finally spark.stop()
  }

  private def write(spark: org.apache.spark.sql.SparkSession,
                    sfDir: String, out: String): Unit = {
    spark.sparkContext.setLogLevel("ERROR")

    val showcase: Seq[(String, String)] = Seq(
      "q02_filter_pushdown" ->
        "predicate + column pruning must reach the parquet scan",
      "q04_topk" -> "global sort+limit plans as TakeOrderedAndProject",
      "q07_star_join" -> "all dimensions broadcast, one shuffle",
      "q15_outer_join" -> "aggregate pushed below the join",
      "q20_ntile" -> "distributed ntile - no single-partition window",
      "q31_dedup_minhash" ->
        "banded LSH join + band-count prefilter + codegen verify",
      "q43_json_extract" ->
        "from_json single-parse (was get_json_object), one shuffle",
      "q50_asof_join" ->
        "as-of via union+keyed window - no nested-loop pair generation",
      "q33_ann_topk" ->
        "broadcast queries, codegen cosine, two-phase top-k",
      "q54_dedup_index_append" ->
        ("index probe after batch-tagged appends: base + appended " +
          "partitions scanned as one signature corpus; only candidate " +
          "corpus docs re-shingled (left_semi before the verify join)"),
      "q55_dedup_jaccard" ->
        ("exact set-similarity join: prefix-filter candidates are an " +
          "equi-join on rare-first prefix grams (never a cartesian), " +
          "then join-based exact Jaccard verify"),
      "q58_pack_sequences" ->
        ("greedy packing: one shuffle on the md5 shard key, then a " +
          "sorted-group streaming fold (no per-group collection)"),
      "q59_contamination" ->
        ("corpus-vs-eval gram equi-join: tiny eval side broadcast, " +
          "corpus grams never shuffle"),
      "q61_mixture_sample" ->
        ("token-budget mixture sampling: running sum bucketed over " +
          "256 hash-prefix buckets — the window partitions are " +
          "(group, bucket), never one whole group; bucket carry-ins " +
          "come from a 256-rows-per-group broadcast join"),
      "q62_dup_gram_frac" ->
        ("cross-doc duplicated grams: the join's build side is the " +
          "minDocs-filtered duplicated mass only (broadcast when it " +
          "fits), never the full gram-frequency table"),
      "q64_quality_filter" ->
        ("Gopher-rule quality filter: one codegen'd projection over " +
          "the scan — zero shuffle, zero joins; at 100 TB this is a " +
          "pure map"),
      "q65_remove_spans" ->
        ("duplicated-span removal: positioned gram-hash rows, " +
          "doc-frequency filter to the duplicated mass (broadcast), " +
          "position anti-join, per-document reassembly — the " +
          "suffix-array dedup re-expressed as equi-joins"),
      "q66_contamination_bloom" ->
        ("q59 with the broadcast-Bloom corpus prefilter: corpus gram " +
          "rows are filtered BEFORE the join, so only might-match " +
          "grams ever shuffle; results identical (exact join after)"),
      "q68_unigram_logprob" ->
        ("unigram cross-entropy: hashed-token frequency model joined " +
          "back to token rows — model side broadcast when it fits, " +
          "1-row total broadcast always"),
      "q69_top_quality_per_group" ->
        ("top-k per group: two-phase rank — local per (group, input " +
          "partition) then global over ≤ k·P survivors; no group ever " +
          "streams whole through one window task"),
      "q74_remove_dup_lines" ->
        ("duplicated-line removal: line rows hashed once, " +
          "distinct-doc count filtered to the duplicated mass " +
          "(broadcast when it fits), one anti-join, per-document " +
          "reassembly — no windows, no position explode"),
      "q75_tfidf_top_terms" ->
        ("tf-idf keywords: per-(doc, term-hash) counts with map-side " +
          "combine, vocabulary df aggregate joined back (broadcast " +
          "when it fits), 1-row N broadcast, two-phase top-k rank"),
      "q76_source_affinity" ->
        ("source centroids: posexplode → partial-aggregated " +
          "(group, dim) means — one linear shuffle; the pair stage " +
          "runs on the groups×dims centroid table only"),
      "q71_ivf_index_probe" ->
        ("persisted IVF probe: PartitionFilters prune the scan to " +
          "the probed cells — the plan must show cell=… filters, " +
          "never a full-index scan"),
      "q73_ivfpq_index_probe" ->
        ("persisted IVF-PQ probe: cell-pruned codes-only scan + " +
          "broadcast ADC tables, exact re-rank joins only the " +
          "shortlist back to full vectors"),
      "q77_semantic_dedup" ->
        ("embedding near-dup clusters: hyperplane-LSH banded pairs " +
          "feed pointer-jump clustering — the pair stage is an " +
          "equi-join on band signatures, never vector all-pairs"),
      "q78_sessionize" ->
        ("gap-based sessionization: one keyed window over " +
          "(user, ts) — partitioned by user, no global sort, no " +
          "self-join on time"),
      "q85_pivot_events" ->
        ("pivot: per-(user, type) partial aggregation THEN the " +
          "column spread — the shuffle carries one row per group, " +
          "not one per event"),
      "q86_gap_fill" ->
        ("time-series gap fill: dense per-user hour spine from a " +
          "range join on driver-sized bounds, left join back — no " +
          "per-row driver loops"),
      "q87_chunk_dedup" ->
        ("cross-doc chunk dedup: chunk-hash groupBy keeps first " +
          "occurrence (min doc, chunk) — one linear shuffle on the " +
          "hash, no pairwise compare"),
      "q90_vocab_oov" ->
        ("vocab coverage: token frame persisted across top-K " +
          "(TakeOrderedAndProject) and the per-doc rescan; vocab " +
          "joins broadcast"),
      "q91_fuzzy_join" ->
        ("edit-distance join: positional q-gram equi-join + " +
          "Gravano count bound + levenshtein verify — candidate " +
          "generation is never a nested loop over string pairs"),
      "q92_histogram" ->
        ("fixed-width histogram: 2-value bounds broadcast + one " +
          "partial-aggregated counting scan — at most nBuckets rows " +
          "shuffle"),
      "q93_bigram_logprob" ->
        ("bigram cross-entropy: bigrams via codegen array slicing " +
          "(no positional self-join), model frames broadcast when " +
          "they fit, one per-doc aggregation shuffle"),
      "q94_rolling_window" ->
        ("trailing event-time window: ONE keyed RANGE frame over " +
          "epoch micros — no time-range self-join, no pair explosion"),
      "q100_snapshot_diff" ->
        ("snapshot diff: one full outer equi-join on the key + " +
          "null-safe codegen compare — the diff-sized output is all " +
          "that flows on"),
      "q101_transitions" ->
        ("transition matrix: keyed lead window for adjacency, then " +
          "|types|²-bounded counts — the entity shuffle is the only " +
          "data-sized exchange"),
      "q103_line_filter" ->
        ("C4 line filter: codegen per-line predicates over the " +
          "exploded scan, zero joins before the per-document " +
          "regroup"),
      "q106_containment" ->
        ("containment join: rare-first prefix grams equi-join the " +
          "full gram set (asymmetric prefix filter) + exact " +
          "intersection verify — never an all-pairs compare"),
      "q109_heavy_hitters" ->
        ("space-saving heavy hitters: per-partition summaries → one " +
          "hash exchange of capacity-bounded summary ROWS → merge " +
          "tree — token volume never shuffles"),
      "q110_source_overlap" ->
        ("cross-source overlap: distinct (group, gram) aggregation, " +
          "gram equi-join bounded by gram-space × groups — the " +
          "corpus text never reaches the pair stage"),
      "q111_char_entropy" ->
        ("char entropy: one mapPartitions kernel projection over the " +
          "scan — zero joins, zero aggregation; the only exchange is " +
          "the presentation sort"),
      "q113_pmi_bigrams" ->
        ("PMI collocations: bigrams via codegen array zip (no " +
          "self-join), unigram/total sides broadcast, global top-k " +
          "as TakeOrderedAndProject before the bounded rank window"),
      "q114_windowed_heavy_hitters" ->
        ("windowed heavy hitters, batch path: one window-keyed " +
          "exchange into flatMapGroupsWithState — per-window state " +
          "is capacity-bounded, vocabulary never aggregates"),
      "q119_dsir_weights" ->
        ("DSIR weights: the ≤numBuckets-row model reaches the " +
          "scoring join as a BROADCAST (fixed hashed feature space); " +
          "gram rows shuffle only into partial-aggregated counts"),
      "q120_dsir_sample" ->
        ("DSIR fraction selection: q119's plan + the exact-quantile " +
          "threshold from the histogram-refinement selector — the " +
          "selection itself is one filter scan, no new shuffle"),
      "q122_hard_negatives" ->
        ("hard negatives: anchor side broadcast (BNLJ), label + band " +
          "filters BEFORE the two-phase spark_partition_id-local " +
          "top-k — the corpus is scanned exactly once"),
      "q123_cdc_chunks" ->
        ("content-defined chunking: one row-parallel mapPartitions " +
          "kernel — zero joins, zero aggregation; the only exchange " +
          "is the presentation sort"),
      "q127_source_divergence" ->
        ("source KL divergence: per-(group, bucket) counts capped at " +
          "groups × numBuckets rows, corpus bucket table broadcast — " +
          "exchanged state is CONSTANT in corpus size (measured flat " +
          "across both SCALING decades)"),
      "q121_temperature_mix" ->
        ("temperature mixing: √mass weights from one per-source " +
          "aggregate (≤ sources rows, broadcast back), then the q61 " +
          "bucketed running-sum prefix — windows keyed (source, " +
          "bucket), never one whole source"),
      "q124_cdc_shift_dedup" ->
        ("shift-robust chunk dedup: the CDC kernel is a zero-shuffle " +
          "mapPartitions (q123's plan), then q62's distinct + " +
          "doc-frequency equi-join shape on chunk hashes — no " +
          "windows over the corpus, no pair explosion"),
      "q125_lang_mix" ->
        ("per-line language mix: explode + codegen stopword argmax, " +
          "one per-doc aggregation — a single corpus shuffle keyed " +
          "by doc id; no joins in the stats path"),
      "q126_gram_novelty" ->
        ("cross-corpus novelty: fixed-width gram-hash membership " +
          "join — reference side distinct + broadcast (PlanSpec-" +
          "pinned post-AQE), corpus grams never shuffle before the " +
          "join; per-doc count partial-aggregates"),
      "q128_winnow" ->
        ("winnow fingerprints: one zero-shuffle row-parallel " +
          "mapPartitions kernel (PlanSpec-pinned) — the only " +
          "exchange is the presentation sort"),
      "q132_bpe_fertility" ->
        ("tokenizer fertility: memoized row-parallel segmentation " +
          "(bpeTokenCount's kernel), then a |groups|-row aggregate " +
          "of three longs — the only shuffle is group-keyed and " +
          "dimension-sized"),
      "q133_html_extract" ->
        ("HTML extraction: the whole block/tag/entity regex chain is " +
          "ONE zero-shuffle codegen projection (PlanSpec-pinned) — " +
          "the only exchange is the presentation sort"),
      "q134_data_card" ->
        ("data card: every section a bounded aggregate over one " +
          "shared cached projection; share windows run single-" +
          "partition over |langs|/|sources| PRE-REDUCED rows " +
          "(PlanSpec-pinned), quantiles via the O(buckets) exact-" +
          "quantile path"),
      "q131_write_merge_schema" ->
        ("schema-evolution read-back: v1 + widened-v2 sibling " +
          "partitions surface as ONE scan with the union ReadSchema " +
          "(mergeSchema) — NULL backfill happens in the scan, no " +
          "union operator, no per-partition re-read"),
      "q135_data_card_diff" ->
        ("data-card diff: both cards are dimension-sized, so the " +
          "full-outer diff join runs on |card| rows — the corpus-" +
          "sized work lives in each card's one shared projection, " +
          "never in the diff"),
      "q136_decontaminate_spans" ->
        ("surgical decontamination: the eval gram-hash side is " +
          "eval-sized and reaches the match join as a broadcast — " +
          "positioned corpus gram rows never shuffle for the match; " +
          "reassembly is the q65 span-surgery shape"),
      "q104_skew_report" ->
        ("partition-skew diagnosis: per-key mass from one partial-" +
          "aggregated groupBy, top-K via TakeOrdered — no window " +
          "over data rows, summary-bounded output"),
      "q105_inter_arrival" ->
        ("per-entity cadence: ONE keyed lag window (partitioned by " +
          "user, never global) feeding a per-entity aggregate"),
      "q137_lz_proxy" ->
        ("LZ78-proxy compression signal (q107's oracle-checked twin): " +
          "linear char-8-gram explode + count/count-distinct partial " +
          "aggregation per doc — no window, no join, one group-by-id " +
          "exchange"),
      "q108_distinct_exact" ->
        ("exact distinct profile (q102's oracle-checkable twin): " +
          "melt + two-level partial-aggregated count(DISTINCT) — " +
          "the same shape at 1000 executors, no single-point " +
          "distinct"),
      "q112_zipf_slope" ->
        ("zipf slope: token frequencies partial-aggregate to " +
          "|vocab| rows; rank window and the log-log regression " +
          "run over that summary, never over token rows"),
      "q115_dup_rate_by_source" ->
        ("per-group exact-dup rate: text-hash groupBy with map-side " +
          "combine, then a |groups|-row summary aggregate"),
      "q116_freq_of_freqs" ->
        ("frequency-of-frequencies: two chained partial aggregates " +
          "(token→count, count→count) — output bounded by distinct " +
          "multiplicities, not corpus size"),
      "q117_quantile_tiers" ->
        ("tier bounds from the O(buckets)-state exact-quantile " +
          "selector (no Percentile buffer), tier assignment via a " +
          "broadcast of the |tiers|-row bounds table"),
      "q118_ann_pq_fixed" ->
        ("fixed-codebook PQ replay (q63's oracle-checkable twin): " +
          "ADC distance over codes only — the raw vector column " +
          "never reaches the distance scan"),
      "q129_winnow_overlap" ->
        ("registered winnow overlap entry (eager; the lazy builder's " +
          "join/guard/verify structure is dumped below as " +
          "winnow_overlap_join)"))

    val sb = new StringBuilder
    sb ++= s"# PLANS — formatted physical plans at $sfDir\n\n"
    sb ++= "Regenerate: `sbt \"runMain graft.Plans <sfDir> PLANS.md\"`\n\n"
    sb ++= ("Mapping policy: EVERY registered CORRECTNESS query has a " +
      "`## qNN_…` section under its registered name — curated entries " +
      "first (each with the scale claim its plan is meant to prove), " +
      "then an appendix dumping every remaining query so any qNN in a " +
      "CORRECTNESS file resolves here by grep. Operators whose public " +
      "entry point hides the plan behind an eager result cache " +
      "additionally get an operator-titled dump (`## winnow_overlap_" +
      "join …`, `## ivf_index_probe …`) showing the lazy structure; " +
      "those headings name the covered qNN inline.\n\n" +
      "Plans are rendered STABLE (expr ids renumbered; codegen/AQE-" +
      "stage/plan ids scrubbed), so a git diff of this file shows " +
      "genuine plan changes. Residual known benign churn: AQE may " +
      "flip the build side of a borderline broadcast join " +
      "(BuildLeft/BuildRight) run-to-run at this tiny scale factor — " +
      "both sides fit, and the choice is made on exact runtime byte " +
      "sizes — and a multi-countDistinct aggregate (q06) may reorder " +
      "its Expand distinct-groups (Spark's RewriteDistinctAggregates " +
      "groups by expressions whose hash follows expr-id allocation). " +
      "Rows are unaffected by either.\n")
    showcase.foreach { case (name, why) =>
      val fn = SparkEntry.queries(name)
      sb ++= s"\n## $name\n\n$why\n\n```\n"
      sb ++= stablePlan(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb ++= "```\n"
      spark.catalog.clearCache()
    }
    // winnow overlap join (oracle-checked as q129; composed dedup as
    // q130): the public entry point persists + materializes its
    // result, so the structure is dumped from the lazy builder — the
    // scale claims are the fp equi-join (never cartesian), the
    // doc-freq guard pruning candidate KEYS only, and the exact
    // verify joining only candidate-pruned fingerprint sets
    locally {
      val fps = graft.llm.Dedup.winnowFingerprints(
          Tables.read(spark, sfDir, "documents"), "doc_id", "text")
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("fp")).distinct()
      val lazyOut = graft.llm.Dedup.winnowOverlapLazy(fps,
        minShared = 3, minContainment = 0.8, maxDocFreq = Some(1000))
      sb ++= "\n## winnow_overlap_join (guarded pair stage of q129/q130)\n\n" +
        "fp equi-join candidates from doc-freq-pruned keys, exact " +
        "n_shared recomputed on unfiltered sets for candidates only — " +
        "no cartesian anywhere\n\n```\n"
      sb ++= stablePlan(lazyOut.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb ++= "```\n"
      spark.catalog.clearCache()
    }
    // persisted-IVF probe: the exhaustive configuration is
    // oracle-checked as q71; what's pinned HERE is the pruned
    // (nprobe < nlist) plan — probe reads ONLY `cell IN (...)`
    // partitions, the operator's whole scale story
    locally {
      val emb = Tables.read(spark, sfDir, "embeddings")
      val idx = Tables.scratch(sfDir, "plans_ivf")
      graft.llm.Similarity.buildIvfIndex(
        emb, "vec_id", "embedding", idx, nlist = 8)
      val probe = graft.llm.Similarity.probeIvfIndex(
        idx, emb.limit(3), "vec_id", "embedding", k = 5, nprobe = 2)
      sb ++= "\n## ivf_index_probe (pruned config of q71)\n\n" +
        "cell scan must carry a literal PartitionFilters `cell IN (...)`" +
        " — unprobed cells are never read or listed\n\n```\n"
      sb ++= stablePlan(probe.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb ++= "```\n"
      probe.unpersist()
      spark.catalog.clearCache()
    }
    // IVF-PQ probe (exhaustive config oracle-checked as q73): the
    // composed index's double pruning claim — cell partition filter
    // AND a codes-only ReadSchema on the ADC scan (the vector column
    // is read only by the shortlist re-rank)
    locally {
      val emb = Tables.read(spark, sfDir, "embeddings")
      val idx = Tables.scratch(sfDir, "plans_ivfpq")
      graft.llm.Similarity.buildIvfPqIndex(
        emb, "vec_id", "embedding", idx, nlist = 8, m = 8, ncodes = 16)
      val probe = graft.llm.Similarity.probeIvfPqIndex(
        idx, emb.limit(3), "vec_id", "embedding", k = 5, nprobe = 2,
        shortlist = 20)
      sb ++= "\n## ivf_pq_index_probe (pruned config of q73)\n\n" +
        "probed-cells partition filter plus codes-only column pruning " +
        "on the ADC scan; raw vectors touched only by the re-rank\n\n```\n"
      sb ++= stablePlan(probe.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb ++= "```\n"
      probe.unpersist()
      spark.catalog.clearCache()
    }
    // appendix: every registered query not in the curated showcase
    // gets ONE digest row (sha1 of its stable-rendered plan), so any
    // qNN in a CORRECTNESS file resolves here by grep — and a full
    // dump ONLY when the digest moved since the previous PLANS.md
    // (round-11 verdict task #8: regenerated 26k-line dumps per round
    // buried the genuine plan changes in git). Unchanged plans:
    // `sbt "runMain graft.tools.ExplainQuery <qNN> <sfDir>"` dumps
    // on demand.
    val covered = showcase.map(_._1).toSet
    val prevDigests: Map[String, String] =
      if (!Files.exists(Paths.get(out))) Map.empty
      else {
        val row = "\\| (\\S+) \\| `([0-9a-f]{12})` \\|".r
        row.findAllMatchIn(Files.readString(Paths.get(out)))
          .map(m => m.group(1) -> m.group(2)).toMap
      }
    val appendix = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(covered).map { name =>
        val plan =
          try stablePlan(SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          catch {
            case e: Exception =>
              s"plan dump failed: ${e.getClass.getSimpleName}: " +
                s"${e.getMessage}\n"
          }
        spark.catalog.clearCache()
        (name, digest(plan), plan)
      }
    sb ++= "\n## appendix — registry plan digests\n\n"
    sb ++= ("Digest = sha1/48 of the stable-rendered formatted plan " +
      "(expr ids renumbered, plan/lambda ids scrubbed). A changed " +
      "digest means the PHYSICAL PLAN changed; the new plan is " +
      "dumped under 'changed plans' below.\n\n")
    sb ++= "| query | plan digest |\n|---|---|\n"
    appendix.foreach { case (name, dg, _) =>
      val mark =
        if (!prevDigests.contains(name)) " (new)"
        else if (prevDigests(name) != dg) " (changed)"
        else ""
      sb ++= s"| $name | `$dg` |$mark\n"
    }
    val changed = appendix.filter { case (name, dg, _) =>
      prevDigests.get(name).exists(_ != dg)
    }
    if (changed.nonEmpty) {
      sb ++= "\n## changed plans this regeneration\n"
      changed.foreach { case (name, dg, plan) =>
        sb ++= s"\n### $name (digest `${prevDigests(name)}` → `$dg`)\n\n```\n"
        sb ++= plan
        sb ++= "```\n"
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out (${changed.size} appendix plans changed, " +
      s"${appendix.count(a => !prevDigests.contains(a._1))} new)")
  }
}
