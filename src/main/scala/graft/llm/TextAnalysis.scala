package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exceptions._
import graft.operators.OperatorScope

/** Text-quality analysis for training-data pipelines: token counts,
  * type/token ratios, quality scoring, stopword-based language ID, and
  * content fingerprinting. Every metric is a pure codegen'd column
  * expression (no UDFs), so the whole projection is row-parallel and
  * reproducible in any SQL engine — the correctness oracle recomputes
  * the same formulas in DuckDB.
  */
object TextAnalysis {

  /** Whitespace tokens of the lowercased text. Note: `split` keeps a
    * leading "" token when text starts with whitespace (and returns
    * [""] for empty text) — kept deliberately, because the DuckDB
    * correctness oracles compute `string_split_regex` with the exact
    * same behavior and parity is the contract; trim upstream if the
    * phantom token matters.
    */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Per-document statistics:
    * n_chars, n_tokens, n_types (distinct tokens), type_token_ratio,
    * avg_token_len, and a [0,1] quality score combining length and
    * lexical diversity (longer docs with diverse vocabulary score
    * higher — the usual cheap pre-filter before model-based scoring).
    */
  def stats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val nToks = size(toks).cast("long")
    val nTypes = size(array_distinct(toks)).cast("long")
    val ttr = nTypes.cast("double") / nToks.cast("double")
    // sum of token lengths == count of non-whitespace chars (split
    // drops exactly the \s+ runs), so avg token length needs no
    // aggregate(transform(...)) — those HOFs are CodegenFallback
    // (interpreted, 5-7x slower in bulk paths); this form is a pure
    // codegen'd length difference
    val avgLen =
      length(regexp_replace(lower(col(textCol)), "\\s+", ""))
        .cast("double") / nToks.cast("double")
    val lenScore = least(nToks.cast("double") / lit(100.0), lit(1.0))
    df.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      nToks.as("n_tokens"),
      nTypes.as("n_types"),
      round(ttr, 6).as("type_token_ratio"),
      round(avgLen, 6).as("avg_token_len"),
      round(lenScore * ttr, 6).as("quality_score"))
  }

  /** Gopher-style repetition metrics per document (Rae et al. 2021,
    * §A1.1 quality heuristics — the cheap signals that catch
    * boilerplate, keyword stuffing, and template spam before any
    * model-based scoring):
    *
    *   - `distinct_token_frac` — |distinct tokens| / |tokens| (low ⇒
    *     the doc repeats itself);
    *   - `top_bigram_frac` — occurrences of the most frequent word
    *     bigram / total bigram instances (high ⇒ one phrase dominates);
    *   - `dup_bigram_frac` — fraction of bigram instances whose bigram
    *     occurs more than once (high ⇒ pervasive phrase repetition).
    *
    * Docs with fewer than 2 tokens have no bigrams: both bigram
    * metrics are 0 by definition there.
    *
    * Scale shape: two explode → count aggregations keyed by
    * (id, gram-hash) — fixed-width longs through every shuffle
    * (bigrams are hashed before aggregation), partial aggregation
    * shrinks the map side, and the final join is per-document. No
    * windows, no arrays through shuffles, no driver state.
    */
  def repetitionStats(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val base = df
      .select(col(idCol), split(trim(lower(col(textCol))), "\\s+").as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))

    val tokAgg = base
      .select(col(idCol), explode(col("t")).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(count(lit(1)).as("n_distinct"))

    val bigramAgg = base
      .filter(col("n_tokens") >= 2)
      .select(col(idCol), col("t"),
        explode(sequence(lit(1), (size(col("t")) - 1))).as("i"))
      .select(col(idCol),
        xxhash64(concat_ws(" ", slice(col("t"), col("i"), lit(2)))).as("g"))
      .groupBy(idCol, "g").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(
        sum("c").as("n_bigrams"),
        max("c").as("top_bigram_c"),
        sum(when(col("c") > 1, col("c")).otherwise(0L))
          .as("dup_bigram_inst"))

    base.select(col(idCol), col("n_tokens"))
      .join(tokAgg, Seq(idCol), "left")
      .join(bigramAgg, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_tokens"),
        (col("n_distinct").cast("double") / col("n_tokens"))
          .as("distinct_token_frac"),
        (coalesce(col("top_bigram_c"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L)))
          .as("top_bigram_frac"),
        (coalesce(col("dup_bigram_inst"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L)))
          .as("dup_bigram_frac"))
  }

  /** Threshold configuration for `qualityFilter` — the Gopher-rule
    * document filter (Rae et al. 2021, §A1.1). Each field is one
    * independent pass/fail rule; defaults follow the paper's published
    * cutoffs where one exists.
    *
    * @param minTokens / @param maxTokens      word-count bounds
    * @param minAvgTokenLen / @param maxAvgTokenLen  mean word length
    *   bounds (Gopher: 3–10 chars)
    * @param maxSymbolFrac  max (hash/ellipsis symbols)/word ratio
    *   (Gopher: 0.1)
    * @param minAlphaTokenFrac  min fraction of words containing at
    *   least one alphabetic character (Gopher: 0.8)
    * @param minStopwordHits  min occurrences of `stopLang` stopwords
    *   (Gopher requires 2 of a small English stop set)
    */
  case class QualityRules(
      minTokens: Long = 50,
      maxTokens: Long = 100000,
      minAvgTokenLen: Double = 3.0,
      maxAvgTokenLen: Double = 10.0,
      maxSymbolFrac: Double = 0.1,
      minAlphaTokenFrac: Double = 0.8,
      minStopwordHits: Long = 2,
      stopLang: String = "en")

  /** Gopher-style rule-based document quality filter — the cheap
    * deterministic gate a pre-training pipeline runs before any
    * model-based scoring. Returns one row per document with each
    * rule's pass flag (as 0/1 int, hash-stable across engines) and the
    * conjunction `keep`; callers filter on `keep === 1` or inspect
    * per-rule failure counts to tune thresholds.
    *
    * Every metric is a codegen'd row-parallel projection — `\S+`-run
    * counting and length arithmetic, no splits-into-arrays, no HOFs
    * (Spark's array lambdas are CodegenFallback), no shuffle at all:
    * at 100 TB this is a pure map over the scan, and the filter
    * composes with column pruning (only `textCol` is read).
    *
    * Rule semantics (mirrored exactly by the SQL oracle):
    *   - tokens are `\S+` runs of the trimmed text (count 0 for
    *     empty/whitespace-only docs, which fail every rule);
    *   - avg token length = non-whitespace chars / tokens;
    *   - symbol count = occurrences of `#`, `…`, or `...`;
    *   - an "alpha token" contains at least one a–z after
    *     lowercasing;
    *   - stopword hits use `stopwordHits` (duplicates count).
    */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
                    rules: QualityRules = QualityRules()): DataFrame = {
    require(rules.minTokens >= 0 && rules.maxTokens >= rules.minTokens,
      s"need 0 <= minTokens <= maxTokens: $rules")
    require(rules.maxAvgTokenLen >= rules.minAvgTokenLen,
      s"need minAvgTokenLen <= maxAvgTokenLen: $rules")
    val t = lower(trim(col(textCol)))
    val nToks = regexp_count(t, lit("\\S+")).cast("long")
    val nonWs = length(regexp_replace(t, "\\s+", "")).cast("double")
    // guard the 0-token denominator: metrics become null and every
    // null comparison folds to false below, so empty docs fail closed
    val denom = when(nToks > 0, nToks.cast("double"))
    val avgLen = nonWs / denom
    val symFrac =
      regexp_count(t, lit("#|…|\\.\\.\\.")).cast("double") / denom
    // a token passes iff it has a letter; lookarounds pin the match to
    // whole \S+ runs so each token is counted at most once
    val alphaFrac =
      regexp_count(t, lit("(?<!\\S)\\S*[a-z]\\S*(?!\\S)")).cast("double") /
        denom
    val stopHits = stopwordHits(col(textCol), rules.stopLang)
    def flag(c: Column): Column =
      when(c, lit(1)).otherwise(lit(0)) // null -> 0 (fail closed)
    val okN = flag(nToks.between(rules.minTokens, rules.maxTokens))
    val okLen = flag(
      avgLen.between(rules.minAvgTokenLen, rules.maxAvgTokenLen))
    val okSym = flag(symFrac <= rules.maxSymbolFrac)
    val okAlpha = flag(alphaFrac >= rules.minAlphaTokenFrac)
    val okStop = flag(stopHits >= rules.minStopwordHits)
    df.select(
      col(idCol),
      nToks.as("n_tokens"),
      okN.as("ok_n_tokens"),
      okLen.as("ok_token_len"),
      okSym.as("ok_symbol"),
      okAlpha.as("ok_alpha"),
      okStop.as("ok_stopwords"),
      (okN * okLen * okSym * okAlpha * okStop).as("keep"))
  }

  /** Stopword sets for the n-gram-free language heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit"),
    "es" -> Seq("el", "la", "de", "y", "en", "que", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"))

  private val langOrder = Seq("en", "de", "es", "fr")

  /** Count of tokens belonging to a stopword set (duplicates count —
    * frequency matters for the score).
    *
    * A whitespace-delimited token equals a stopword iff the stopword
    * appears with no adjacent non-whitespace char, so the count is one
    * codegen'd `regexp_count` with zero-width lookarounds — no
    * interpreted `filter(...)` HOF, no explode/shuffle; the whole
    * language-ID pass stays a row-parallel projection.
    */
  def stopwordHits(text: Column, lang: String): Column = {
    if (!stopwords.contains(lang))
      throw InvalidArgumentValue(
        s"unsupported stopword language '$lang'; supported: " +
          stopwords.keys.toSeq.sorted.mkString(", "))
    val pat = stopwords(lang).map(java.util.regex.Pattern.quote)
      .mkString("(?<!\\S)(?:", "|", ")(?!\\S)")
    regexp_count(lower(text), lit(pat)).cast("long")
  }

  /** Language ID by stopword-hit argmax; ties resolve in fixed order
    * en > de > es > fr, zero hits everywhere → "und". Returns the
    * per-language scores alongside the prediction so downstream
    * filters can threshold on confidence.
    */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = df.select(
      (col(idCol) +: langOrder.map(l =>
        stopwordHits(col(textCol), l).as(s"s_$l"))): _*)
    val best = langOrder.map(l => col(s"s_$l"))
      .reduce((a, b) => greatest(a, b))
    val predicted = langOrder.foldRight(lit("und"): Column) { (l, els) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(els)
    }
    // foldRight builds en-first precedence: en wins ties over de, etc.
    scored.withColumn("predicted", predicted)
  }

  /** Per-document language-MIX statistics — the code-switching /
    * mixed-language detector that doc-level language ID ([[languageId]])
    * cannot provide: a half-English half-German page argmaxes to one
    * language and sails through a `lang == wanted` filter, yet is
    * poison for monolingual training. Each non-blank LINE is
    * language-ID'd with the same stopword-argmax rule, then the doc
    * aggregates its line-language distribution:
    *
    *   - `n_lines` non-blank lines, `n_langs` distinct line verdicts
    *     (incl. "und"),
    *   - `top_lang` / `top_share` — the dominant verdict and its line
    *     share (ties: larger count, then lexicographically LARGER
    *     lang — the q99 convention),
    *   - `lang_entropy` = ln N − (Σ c·ln c)/N over line verdicts —
    *     0 for monolingual docs, ln k for a uniform k-language mix.
    *
    * Filter on `top_share < t` or `lang_entropy > t` to drop
    * code-switched docs.
    *
    * Scale shape: one line explode (row-parallel, codegen'd stopword
    * regexp_count per line), one per-(doc, lang) count with map-side
    * combine, one ≤|langs|-wide per-doc rollup. No windows, no joins.
    * Docs with NO non-blank lines have no language evidence and are
    * absent from the output (the oracle mirrors the filter).
    *
    * @return (id, n_lines, n_langs, top_lang, top_share, lang_entropy)
    */
  def langMixStats(df: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val lines = df.select(col(idCol).cast("long").as("id"),
        explode(split(col(textCol), "\n")).as("line"))
      .filter(trim(col("line")) =!= "")
    val scored = lines.select(
      (col("id") +: langOrder.map(l =>
        stopwordHits(col("line"), l).as(s"s_$l"))): _*)
    val best = langOrder.map(l => col(s"s_$l"))
      .reduce((a, b) => greatest(a, b))
    val predicted = langOrder.foldRight(lit("und"): Column) { (l, els) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(els)
    }
    val perLang = scored.select(col("id"), predicted.as("lang"))
      .groupBy("id", "lang").agg(count(lit(1)).as("c"))
    perLang.groupBy("id")
      .agg(sum("c").as("n_lines"),
        count(lit(1)).as("n_langs"),
        max(struct(col("c"), col("lang"))).as("__top"),
        sum(col("c") * log(col("c"))).as("__clc"))
      .select(col("id"), col("n_lines"), col("n_langs"),
        col("__top.lang").as("top_lang"),
        (col("__top.c").cast("double") / col("n_lines"))
          .as("top_share"),
        (log(col("n_lines")) - col("__clc") / col("n_lines"))
          .as("lang_entropy"))
  }

  /** Default scrub patterns: applied IN ORDER (URLs before emails, so
    * an address inside a URL never double-matches). Patterns are kept
    * to the regex subset shared by Java and RE2 so any engine can
    * reproduce the transformation.
    */
  val defaultScrubPatterns: Seq[(String, String)] = Seq(
    "https?://\\S+" -> "<URL>",
    "\\S+@\\S+\\.\\S+" -> "<EMAIL>")

  /** PII/URL scrubbing: sequential regexp_replace of each pattern —
    * the standard pre-training cleanup pass, row-parallel and
    * codegen'd.
    */
  def scrub(text: Column,
            patterns: Seq[(String, String)] = defaultScrubPatterns): Column =
    patterns.foldLeft(text) { case (c, (re, repl)) =>
      regexp_replace(c, re, repl)
    }

  /** Cheap BPE-style token-count estimate (≈ 4 chars per token, the
    * usual planning heuristic when the real tokenizer is too expensive
    * to run over the whole corpus).
    */
  def approxBpeTokens(text: Column): Column =
    ceil(length(text).cast("double") / 4.0).cast("long")

  /** Sliding-window document chunking for training pipelines: token
    * windows of `chunkTokens` advancing by `chunkTokens − overlap`,
    * one output row per (doc, chunk). Implemented as
    * explode(sequence) + slice so chunk fan-out happens row-parallel
    * with no shuffle; the final chunk may be shorter.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 &&
      overlapTokens < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlapTokens/$chunkTokens")
    val step = chunkTokens - overlapTokens
    val toks = tokens(col(textCol))
    val n = size(toks)
    // number of windows covering all tokens: ceil((n - chunk)/step)+1,
    // floored at 1 for docs shorter than one chunk
    val nChunks = greatest(
      (ceil((n - chunkTokens).cast("double") / step) + 1).cast("int"),
      lit(1))
    df.select(col(idCol), toks.as("__toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(
        col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("__toks"),
            col("chunk_idx") * step + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        size(slice(col("__toks"),
            col("chunk_idx") * step + 1, lit(chunkTokens))).cast("long")
          .as("n_chunk_tokens"))
  }

  /** Sequence packing: group documents into training-context bins of
    * at most `capacity` tokens (the step between tokenization and
    * batching — unpacked short documents waste most of a context
    * window as padding).
    *
    * Deterministic and shard-parallel: each document lands in a shard
    * by the md5-mod rule (reproducible across runs/engines, same as
    * `hashSample`), and within a shard documents are packed GREEDILY
    * IN ID ORDER — a new bin opens when the next document would
    * overflow `capacity`. A document larger than `capacity` gets a
    * bin of its own (truncation/splitting is the caller's policy, see
    * `chunk`).
    *
    * Scale shape: one shuffle (groupByKey on shard), then each shard
    * streams through `flatMapSortedGroups` — the sort is Spark's
    * disk-backed group sort, the fold is O(1) state, and nothing is
    * collected per group. Size `shards` so a shard's BIN COUNT, not
    * its documents, is what downstream consumes; packing quality is
    * per-shard greedy (bounded, not global-optimal — the standard
    * trade for a single pass at corpus scale).
    *
    * @return (id, n_tokens, shard, bin) — bin ids are contiguous
    *   per shard starting at 0
    */
  def packSequences(df: DataFrame, idCol: String, nTokensCol: String,
                    capacity: Long, shards: Int): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    require(shards > 0, s"shards must be positive: $shards")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
        col(nTokensCol).cast("long").as("n_tokens"))
      .withColumn("shard",
        pmod(conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(shards.toLong)).cast("int"))
      .as[(Long, Long, Int)]
    base.groupByKey(_._3)
      .flatMapSortedGroups(col("id")) { (shard: Int, it: Iterator[(Long, Long, Int)]) =>
        var bin = -1L
        var used = 0L
        it.map { case (id, tok, _) =>
          if (bin < 0 || used + tok > capacity) { bin += 1; used = 0L }
          used += tok
          (id, tok, shard, bin)
        }
      }
      .toDF("id", "n_tokens", "shard", "bin")
  }

  /** Token-budget mixture sampling: the source-mixing step of a
    * training-data pipeline (Pile/Dolma-style) — each group (source,
    * domain, language, …) gets a budget proportional to its weight,
    * `budget_g = floor(totalBudget · w_g / Σw)`, and contributes its
    * documents in DETERMINISTIC md5-of-id order until the next
    * document would not fit. Groups absent from `weights` are dropped
    * entirely (weight 0). Like `hashSample`, the sample is
    * re-derivable forever from (weights, budget) alone — no random
    * state, identical across engines/runs/retries, and growing the
    * corpus only APPENDS to each group's hash order, so re-sampling
    * after ingest keeps the old sample's prefix stable.
    *
    * Semantics (mirrored exactly by the SQL oracle): keep a row iff
    * its inclusive running `costCol` sum — over the group, ordered by
    * (md5(id), id) — is ≤ the group budget.
    *
    * Scale shape: the naive form is one window partitioned by group —
    * at 100 TB a single source can be 30 TB, and a per-group window
    * serializes it through ONE task. Instead the running sum is
    * computed in two phases over the 256 two-hex-char prefix buckets
    * of the hash order (bucket is a PREFIX of the sort key, so
    * bucket-major order IS hash order): (1) per-(group, bucket) sums
    * — a partial-aggregated groupBy producing ≤ 256·|groups| rows —
    * prefix-summed into a carry-in per bucket (a window over ≤ 256
    * rows per group); (2) the within-bucket running sum, a window
    * whose partitions are (group, bucket) — 256× the parallelism and
    * 1/256 the partition size of the naive form. Costs one extra scan
    * of the input (cheap, column-pruned) to buy the 256× narrower
    * window.
    */
  def sampleToBudget(df: DataFrame, idCol: String, costCol: String,
                     groupCol: String, weights: Map[String, Double],
                     totalBudget: Long): DataFrame = {
    require(totalBudget >= 0, s"totalBudget must be >= 0: $totalBudget")
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ > 0),
      s"weights must be positive: $weights")
    val spark = df.sparkSession
    import spark.implicits._
    val wSum = weights.values.sum
    val budgets = broadcast(
      weights.toSeq.sorted
        .map { case (g, w) =>
          (g, math.floor(totalBudget * w / wSum).toLong) }
        .toDF(groupCol, "__budget"))
    val rows = df.join(budgets, Seq(groupCol))
      .withColumn("__h", md5(col(idCol).cast("string")))
      .withColumn("__bkt", substring(col("__h"), 1, 2))
    val carry = rows
      .groupBy(col(groupCol), col("__bkt"))
      .agg(sum(col(costCol).cast("long")).as("__bsum"))
      .withColumn("__carry",
        coalesce(
          sum(col("__bsum")).over(
            Window.partitionBy(groupCol).orderBy("__bkt")
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col(groupCol), col("__bkt"), col("__carry"))
    val wInBucket = Window.partitionBy(col(groupCol), col("__bkt"))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.join(broadcast(carry), Seq(groupCol, "__bkt"))
      .withColumn("__cum",
        col("__carry") + sum(col(costCol).cast("long")).over(wInBucket))
      .filter(col("__cum") <= col("__budget"))
      .drop("__h", "__bkt", "__carry", "__cum", "__budget")
  }

  /** Corpus-trained unigram cross-entropy per document — the
    * SQL-replayable core of a perplexity quality filter (the KenLM
    * pass of CCNet/RefinedWeb, with the n-gram order dropped to 1 so
    * the model is a frequency table instead of an opaque binary):
    * score = −avg log₂ p(token), p from the corpus's own add-k
    * smoothed unigram distribution, p(t) = (c_t + k)/(N + k·V).
    * Low bits-per-token ⇒ the document looks like the corpus;
    * high ⇒ gibberish, wrong language, or codes/IDs. Perplexity is
    * 2^bits.
    *
    * Scale shape: one explode → hashed-token frequency groupBy (the
    * "model", |vocab| rows, partial-aggregated), a 1-row total, and
    * one join of hashed token rows against the model — AQE broadcasts
    * the model when it fits; the per-document aggregation is the only
    * other shuffle. No windows, no arrays through shuffles, no driver
    * state. The hashed-token frame feeds BOTH the model build and the
    * scoring join, so it is persisted across the two uses (one corpus
    * tokenization, not two full-corpus scans) and released before
    * returning; the result (one small row per document) is persisted
    * and materialized — `.unpersist()` the result when done.
    *
    * @return (id, n_tokens, bits_per_token)
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
                     smoothK: Double = 0.5): DataFrame = {
    require(smoothK > 0, s"smoothK must be positive: $smoothK")
    // scoped cached-plan AQE (OperatorScope.CachedPlanAqe):
    // doc/vocab-bounded persists, broadcast-model joins — the winning
    // shape
    OperatorScope(df.sparkSession, OperatorScope.Coalesced) { scope =>
    val toks = scope.persist(df.select(col(idCol).cast("long").as("id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("g")))
    val freq = toks.groupBy("g").agg(count(lit(1)).as("__c"))
    val tot = freq.agg(sum("__c").as("__n"),
      count(lit(1)).as("__v"))
    val out = toks.join(freq, "g")
      .crossJoin(broadcast(tot))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        avg(-log2((col("__c") + smoothK) /
          (col("__n") + col("__v") * smoothK)))
          .as("bits_per_token"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
    }
  }

  /** TF-IDF top terms per document — the classic keyword extractor,
    * used in a curation pipeline for topic tagging, per-source drift
    * dashboards, and cheap relevance filtering. Smoothed sklearn-style
    * idf = ln((N+1)/(df+1)) + 1 (never zero, never divides by zero),
    * score = tf · idf over `\s+` tokens of the trimmed lowercase text.
    * Fully SQL-replayable — tf, df, and N are integers and the only
    * float is the final product.
    *
    * Scale shape: one explode → per-(doc, term) count (partial
    * aggregation does the map-side combine), a vocabulary-sized
    * document-frequency aggregate joined back on the hashed term (AQE
    * broadcasts it when it fits), a broadcast 1-row corpus count, and
    * `Relational.topKPerGroup`'s two-phase rank — no single-partition
    * global window at any point. The raw term string rides along only
    * for the output; every shuffle key is a fixed-width long.
    *
    * @return (id, term, tf, df, score, rk) — `rk` 1..k by
    *   (score desc, term asc), a total order
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, minDf: Int = 1): DataFrame = {
    if (k <= 0)
      throw graft.exceptions.InvalidArgumentValue(
        s"k must be positive, got $k")
    if (minDf < 1)
      throw graft.exceptions.InvalidArgumentValue(
        s"minDf must be >= 1, got $minDf")
    val toks = df.select(col(idCol).cast("long").as("id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      .withColumn("g", xxhash64(col("term")))
    // min, not first: term is functionally determined by its hash, and
    // min is partial-aggregatable in hash mode (first forces a
    // SortAggregate + extra sort)
    val tf = toks.groupBy("id", "g")
      .agg(min(col("term")).as("term"), count(lit(1)).as("tf"))
    val dfreq = toks.select("id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val nDocs = df.select(col(idCol)).agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, "g")
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"), col("tf"), col("df"),
        (col("tf") * (log((col("__n") + lit(1.0)) /
          (col("df") + lit(1.0))) + lit(1.0))).as("score"))
    graft.operators.Relational.topKPerGroup(scored, Seq("id"),
        Seq(col("score").desc, col("term").asc), k)
      .select(col("id"), col("term"), col("tf"), col("df"),
        col("score"), col("rk"))
  }

  /** Normalized content fingerprint: lowercase, strip every
    * non-alphanumeric character, md5. Catches duplicates that differ
    * only in case/whitespace/punctuation — the cheap complement to
    * MinHash.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))

  /** Deterministic hash sampling: keep a row iff
    * md5-hash(id) mod `outOf` < `keep`. Unlike rand()-based sampling
    * this is reproducible across engines, runs, and retries — the
    * property that matters when a 100 TB corpus is sampled once and
    * the sample must be re-derivable forever. Stratify by applying it
    * after a groupBy key (each stratum samples independently since
    * the hash is per-row).
    */
  def hashSample(idCol: Column, keep: Int, outOf: Int): Column = {
    require(keep >= 0 && outOf > 0 && keep <= outOf,
      s"need 0 <= keep <= outOf, got $keep/$outOf")
    pmod(conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10)
      .cast("long"), lit(outOf.toLong)) < keep
  }

  /** Fingerprint duplicate-group metrics (same shape as
    * Dedup.exactDupStats but on the normalized fingerprint).
    */
  def fingerprintDupStats(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("cnt"))
      .agg(
        sum("cnt").as("n_total"),
        count(lit(1)).as("n_fingerprints"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_groups"))

  /** One PII class: `name` labels the count column (`n_<name>`),
    * `pattern` is a Java-regex that must also be valid RE2 (no
    * backreferences / lookaround) so the DuckDB oracle can replay it
    * verbatim, `replacement` is the literal redaction token.
    */
  case class PiiRule(name: String, pattern: String, replacement: String)

  /** The BigCode/StarCoder-style default classes. Patterns are
    * deliberately conservative (shared Java-regex/RE2 subset; ASCII
    * `\b` boundaries) — precision-first redaction, the curation norm.
    */
  val DefaultPiiRules: Seq[PiiRule] = Seq(
    PiiRule("email",
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    PiiRule("ip",
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    PiiRule("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"))

  /** PII redaction for training corpora: per-class match counts plus
    * the redacted text, as ONE codegen'd zero-shuffle projection —
    * `regexp_count` per rule and a fold of `regexp_replace`s, no UDFs.
    *
    * Semantics (pinned by the q81 oracle): counts are measured on the
    * ORIGINAL text per rule independently; replacements then apply
    * sequentially in rule order, so an earlier rule's replacement
    * token is never double-counted by a later rule (order rules
    * specific → general — e.g. email before a bare-domain rule).
    *
    * Scale shape: row-parallel map over the scan, like
    * [[qualityFilter]] — nothing shuffles, nothing leaves codegen.
    *
    * @return (id, redacted, n_<rule> ...) one count column per rule
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String,
                rules: Seq[PiiRule] = DefaultPiiRules): DataFrame = {
    if (rules.isEmpty)
      throw InvalidArgumentValue("redactPii needs at least one rule")
    val dupNames = rules.groupBy(_.name).collect {
      case (n, rs) if rs.size > 1 => n
    }
    if (dupNames.nonEmpty)
      throw InvalidArgumentValue(
        s"duplicate PII rule names: ${dupNames.mkString(", ")}")
    val t = col(textCol)
    val counts = rules.map(r =>
      regexp_count(t, lit(r.pattern)).cast("long").as(s"n_${r.name}"))
    val redacted = rules.foldLeft(t) { (acc, r) =>
      regexp_replace(acc, r.pattern, r.replacement)
    }
    df.select(col(idCol) +: redacted.as("redacted") +: counts: _*)
  }

  /** Overlapping fixed-size document chunking (context-window /
    * retrieval prep): whitespace tokens of the lowercased text are
    * windowed into chunks of `chunkTokens` tokens starting every
    * `chunkTokens - overlapTokens` positions, last chunk truncated at
    * the document end. A tail chunk fully contained in its
    * predecessor is KEPT (starts are the fixed arithmetic series —
    * the rule every engine can replay; filter `n_chunk_tokens >
    * overlapTokens` downstream to drop redundant tails).
    *
    * Zero-shuffle row-parallel explode: each doc emits
    * ceil(n/step) rows independently; nothing aggregates.
    *
    * @return (id, chunk_id, n_chunk_tokens, chunk_text) — chunk_id is
    *         the 0-based chunk ordinal within its document
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, overlapTokens: Int): DataFrame = {
    if (chunkTokens <= 0)
      throw InvalidArgumentValue(
        s"chunkTokens must be positive: $chunkTokens")
    if (overlapTokens < 0 || overlapTokens >= chunkTokens)
      throw InvalidArgumentValue(
        s"need 0 <= overlapTokens < chunkTokens: $overlapTokens")
    val step = chunkTokens - overlapTokens
    val toks = split(trim(lower(col(textCol))), "\\s+")
    df.select(col(idCol), toks.as("__toks"), size(toks).as("__n"))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0), col("__n") - 1, lit(step)))
          .as("__start"))
      .select(col(idCol),
        (col("__start") / step).cast("long").as("chunk_id"),
        (least(col("__start") + chunkTokens, col("__n")) -
          col("__start")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ",
          slice(col("__toks"), col("__start") + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** Content-defined chunking (CDC) over whitespace tokens — the
    * shift-ROBUST complement to [[chunkDocuments]]'s fixed windows: a
    * chunk boundary falls after token i iff the md5 bucket of the
    * trailing `windowTokens`-gram hits `divisor − 1` (the FastCDC /
    * rsync idea lifted to token streams), clamped to
    * [minTokens, maxTokens] per chunk. Because boundaries depend only
    * on local CONTENT, inserting or deleting a prefix re-aligns
    * within one chunk instead of shifting every window — chunk-level
    * dedup then catches near-dups that fixed chunking misses
    * entirely. Expected chunk length ≈ minTokens + divisor (the
    * boundary is a geometric arrival after the minimum); the final
    * chunk may run short.
    *
    * Determinism/replayability: the boundary hash is the engine
    * convention (top-60-bits of md5 mod divisor — DuckDB:
    * `('0x' || substr(md5(gram), 1, 15))::BIGINT % divisor`), so the
    * full cut walk replays in SQL as a recursive CTE over each doc's
    * boundary list.
    *
    * Scale shape: a zero-shuffle row-parallel mapPartitions kernel —
    * per doc one pass computing boundary positions, one greedy cut
    * walk. No cross-document state; the downstream dedup
    * (group-by chunk text/hash) partial-aggregates map-side.
    *
    * @return (id, chunk_id, start_tok, n_chunk_tokens, chunk_text) —
    *   start_tok 1-based; chunks concatenate back to the token stream
    */
  def cdcChunkDocuments(df: DataFrame, idCol: String, textCol: String,
                        windowTokens: Int = 3, divisor: Int = 16,
                        minTokens: Int = 10,
                        maxTokens: Int = 40): DataFrame = {
    if (windowTokens < 1)
      throw InvalidArgumentValue(
        s"windowTokens must be >= 1: $windowTokens")
    if (divisor < 2)
      throw InvalidArgumentValue(s"divisor must be >= 2: $divisor")
    if (minTokens < 1 || maxTokens < minTokens)
      throw InvalidArgumentValue(
        s"need 1 <= minTokens <= maxTokens: $minTokens/$maxTokens")
    val spark = df.sparkSession
    import spark.implicits._
    val w = windowTokens
    val dv = divisor.toLong
    val minT = minTokens
    val maxT = maxTokens
    // null text / null or non-castable id ⇒ no chunks for that row
    // (the sibling SQL operators' degrade-to-zero-rows convention) —
    // without the filter the typed kernel would NPE decoding a null
    // Seq and kill the stage
    df.select(col(idCol).cast("long").as("id"),
        split(trim(lower(col(textCol))), "\\s+").as("t"))
      .filter(col("id").isNotNull && col("t").isNotNull)
      .as[(Long, Seq[String])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hexDigits = "0123456789abcdef".toCharArray
        rows.flatMap { case (id, toksSeq) =>
          val toks = toksSeq.toArray
          val L = toks.length
          // 1-based boundary positions, ascending by construction
          val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
          var i = w
          while (i <= L) {
            val gram = toks.slice(i - w, i).mkString(" ")
            md.reset()
            val d = md.digest(gram.getBytes("UTF-8"))
            // top 60 bits = first 15 hex chars of the digest
            val sb = new java.lang.StringBuilder(15)
            var bi = 0
            while (sb.length < 15) {
              val b = d(bi) & 0xff
              sb.append(hexDigits(b >> 4))
              if (sb.length < 15) sb.append(hexDigits(b & 0xf))
              bi += 1
            }
            val v = java.lang.Long.parseLong(sb.toString, 16)
            if (v % dv == dv - 1) bounds += i
            i += 1
          }
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long, String)]
          var start = 1
          var cid = 0L
          var bIdx = 0
          while (start <= L) {
            val lo = start + minT - 1
            val hi = start + maxT - 1
            while (bIdx < bounds.length && bounds(bIdx) < lo) bIdx += 1
            val cut =
              if (bIdx < bounds.length && bounds(bIdx) <= hi)
                bounds(bIdx)
              else math.min(hi, L)
            val end = math.min(cut, L)
            out += ((id, cid, start.toLong, (end - start + 1).toLong,
              toks.slice(start - 1, end).mkString(" ")))
            cid += 1
            start = end + 1
          }
          out
        }
      }.toDF("id", "chunk_id", "start_tok", "n_chunk_tokens",
        "chunk_text")
  }

  /** Canonical text normalization ahead of dedup/tokenization: Unicode
    * NFC composition (é typed as e+◌́ must hash identically to é) via
    * the native codegen'd [[graft.functions.NfcNormalize]] expression,
    * then strip non-whitespace control characters (C0 except
    * TAB..CR, DEL, C1), then collapse whitespace runs to single
    * spaces and trim. Zero-shuffle codegen'd projection; the q84
    * oracle replays it with DuckDB's `nfc_normalize` + the same RE2
    * classes.
    *
    * @return (id, text_norm)
    */
  def normalizeText(df: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val nfc = call_function("nfc_normalize", col(textCol))
    df.select(col(idCol),
      trim(regexp_replace(regexp_replace(nfc,
        "[\\x00-\\x08\\x0E-\\x1F\\x7F-\\x9F]", ""),
        "\\s+", " ")).as("text_norm"))
  }

  /** Vocabulary coverage / OOV rate against the corpus's own top-K
    * vocabulary — the "does a fixed tokenizer vocab cover this data"
    * check run before committing to a tokenizer, and the per-source
    * drift signal after (a source whose OOV rate climbs is drifting
    * away from the training distribution). The vocabulary is the
    * `vocabSize` most frequent whitespace tokens of the trimmed
    * lowercase text, ties broken by token ascending so every engine
    * derives the same set.
    *
    * Scale shape: one explode → hashed-free token frequency groupBy
    * (partial-aggregated), a top-K via `orderBy.limit` (Spark plans
    * TakeOrderedAndProject — K·partitions driver cost, K is
    * driver-sized by contract), then the token frame joins the
    * broadcast vocabulary and re-aggregates per document. The token
    * frame is persisted across the two uses (one corpus tokenization,
    * not two scans) and released before returning.
    *
    * @return (id, n_tokens, n_oov, oov_rate) — one row per document
    *         with at least one token
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int): DataFrame = {
    if (vocabSize <= 0)
      throw InvalidArgumentValue(s"vocabSize must be positive: $vocabSize")
    OperatorScope(df.sparkSession) { scope =>
    val toks = scope.persist(df.select(col(idCol).cast("long").as("id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok") =!= ""))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok").asc)
      .limit(vocabSize)
      .select(col("tok"), lit(1).as("__in_vocab"))
    val out = toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in_vocab").isNull, 1)).as("n_oov"))
      .select(col("id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
    }
  }

  /** Corpus-trained bigram cross-entropy per document — q68's unigram
    * scorer upgraded one n-gram order (the CCNet/RefinedWeb perplexity
    * pass with a transparent, SQL-replayable model instead of an
    * opaque KenLM binary): score = −avg log₂ p(w₂|w₁) over the
    * document's bigrams, with add-k smoothed conditional MLE
    * p(w₂|w₁) = (c(w₁w₂) + k) / (c(w₁) + k·V), V the corpus unigram
    * vocabulary size. Bigrams are adjacent whitespace tokens of the
    * trimmed lowercase text; documents with fewer than two tokens
    * emit no row (they have no bigrams to score).
    *
    * Scale shape: ONE tokenization builds the bigram frame via
    * codegen'd array slicing (`arrays_zip(slice,slice)` — no
    * positional self-join, no window over token rows); the frame is
    * persisted and feeds the bigram-frequency groupBy, the
    * first-token-frequency groupBy, and the scoring joins, then is
    * released. Both model frames are |vocab|-ish rows and
    * AQE-broadcast when they fit; the per-document aggregation is the
    * only other shuffle. No windows, no driver state.
    *
    * @return (id, n_bigrams, bits_per_bigram)
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
                    smoothK: Double = 0.5): DataFrame = {
    require(smoothK > 0, s"smoothK must be positive: $smoothK")
    // scoped cached-plan AQE (the unigramLogProb note)
    OperatorScope(df.sparkSession, OperatorScope.Coalesced) { scope =>
    val toksArr = split(trim(lower(col(textCol))), "\\s+")
    val bi = scope.persist(df.select(col(idCol).cast("long").as("id"),
        toksArr.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col("id"), explode(arrays_zip(
        slice(col("__t"), lit(1), size(col("__t")) - 1).as("w1"),
        slice(col("__t"), lit(2), size(col("__t")) - 1).as("w2"))).as("__b"))
      .select(col("id"), col("__b.w1").as("w1"), col("__b.w2").as("w2")))
    // V counts every token position's type, including each document's
    // final token (not just bigram-first positions): count w1 types
    // and the distinct final tokens never seen as w1 — cheaper than
    // re-exploding the corpus, identical to distinct-over-all-tokens
    // because every non-final token IS some bigram's w1.
    val uniFreq = bi.groupBy("w1").agg(count(lit(1)).as("__c1"))
    val lastToks = df.select(element_at(toksArr, -1).as("tok"))
      .filter(col("tok") =!= "").distinct()
    val vocabN = uniFreq.select(col("w1").as("tok")).distinct()
      .unionByName(lastToks).distinct()
      .agg(count(lit(1)).cast("double").as("__v"))
    val biFreq = bi.groupBy("w1", "w2").agg(count(lit(1)).as("__c2"))
    val out = bi.join(biFreq, Seq("w1", "w2"))
      .join(uniFreq, Seq("w1"))
      .crossJoin(broadcast(vocabN))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(-log2((col("__c2") + smoothK) /
          (col("__c1") + col("__v") * smoothK)))
          .as("bits_per_bigram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
    }
  }

  /** C4-style line rules (Raffel et al. 2020 §2.2: keep lines that
    * end in terminal punctuation, have enough words, and carry no
    * boilerplate marker phrase).
    */
  case class LineRules(
      minWords: Int = 3,
      requireTerminalPunct: Boolean = true,
      blacklist: Seq[String] = Seq("javascript", "cookie policy",
        "lorem ipsum"))

  /** Boilerplate LINE filtering — the C4 cleanup pass (Raffel et al.
    * 2020, "Exploring the Limits of Transfer Learning", §2.2): drop
    * lines that don't end in terminal punctuation ([.!?] with an
    * optional closing quote), have fewer than `minWords` words, or
    * contain a blacklist phrase (case-insensitive); reassemble the
    * survivors in order. The within-document complement of
    * `Dedup.removeDuplicatedLines` — rule-based, not frequency-based,
    * so it needs no cross-document aggregation at all.
    *
    * Scale shape: posexplode → codegen'd per-line predicates (regexp
    * + contains — zero joins, zero cross-doc state) → the module's
    * per-document bounded reassembly (collect_list over ONE
    * document's lines, never a corpus-wide window). The only shuffle
    * is the per-document regroup.
    *
    * @return (id, n_lines, n_kept, text_clean) — text_clean is ""
    *         when no line survives
    */
  def filterBoilerplateLines(df: DataFrame, idCol: String,
                             textCol: String,
                             rules: LineRules = LineRules(),
                             sep: String = "\n"): DataFrame = {
    if (sep.isEmpty)
      throw InvalidArgumentValue("sep must be non-empty")
    if (rules.minWords < 0)
      throw InvalidArgumentValue(
        s"minWords must be >= 0: ${rules.minWords}")
    if (rules.blacklist.exists(_.isEmpty))
      throw InvalidArgumentValue("blacklist phrases must be non-empty")
    val base = df.select(col(idCol).cast("long").as("id"),
      split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
        .as("ls"))
    val lines = base.select(col("id"),
      posexplode(col("ls")).as(Seq("pos", "line")))
    val t = trim(col("line"))
    val okWords =
      regexp_count(t, lit("\\S+")) >= rules.minWords
    val okPunct =
      if (rules.requireTerminalPunct)
        t.rlike("[.!?][\"']?$")
      else lit(true)
    val okBlacklist = rules.blacklist
      .map(p => !contains(lower(col("line")), lit(p.toLowerCase)))
      .foldLeft(lit(true))(_ && _)
    val kept = lines.filter(okWords && okPunct && okBlacklist)
    val rejoined = kept.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos").as("p"),
              col("line").as("l")))),
            x => x.getField("l")),
          sep).as("__text"))
    base.select(col("id"), size(col("ls")).cast("long").as("n_lines"))
      .join(rejoined, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("__text"), lit("")).as("text_clean"))
  }

  /** Compression-ratio quality signal (the Gopher/MassiveText filter
    * family's "does it deflate suspiciously well" heuristic):
    * repetitive boilerplate, templated spam, and degenerate repeats
    * compress far below natural text, so
    * ratio = deflate_bytes / utf8_bytes separates them with zero
    * linguistic machinery. Deflate at a fixed level on the executor
    * (java.util.zip, allocation-reused per partition) — a
    * row-parallel mapPartitions kernel, zero shuffle, no oracle by
    * design (compressed size is a library property, not SQL-
    * replayable; the spec pins the ordering contract instead).
    *
    * @return (id, n_bytes, n_compressed, compression_ratio) — null
    *         metrics for null/empty text (fail-soft, never a task
    *         failure)
    */
  def compressionRatio(df: DataFrame, idCol: String,
                       textCol: String, level: Int = 6): DataFrame = {
    if (level < 1 || level > 9)
      throw InvalidArgumentValue(s"level must be in 1..9: $level")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(level)
        val buf = new Array[Byte](64 * 1024)
        rows.map { case (id, t) =>
          if (t == null || t.isEmpty) (id, None, None, None)
          else {
            val in = t.getBytes("UTF-8")
            deflater.reset()
            deflater.setInput(in)
            deflater.finish()
            var out = 0L
            while (!deflater.finished())
              out += deflater.deflate(buf)
            (id, Some(in.length.toLong), Some(out),
              Some(math.rint(out.toDouble / in.length * 1e6) / 1e6))
          }
        }
      }
      .toDF("id", "n_bytes", "n_compressed", "compression_ratio")
  }

  /** Dictionary-coder (LZ78-class) compressed-size PROXY — the
    * engine-replayable twin of [[compressionRatio]]'s deflate signal.
    * Cost model, fixed forever: scan the doc's sliding character
    * `k`-grams; a gram's FIRST occurrence is a dictionary miss
    * costing `k` literal-char units, every repeat is a back-reference
    * costing 3 (the LZ77 copy-token analog) — so
    * `lz_cost = n_novel·k + (n_grams − n_novel)·3` and
    * `lz_ratio = lz_cost / (n_grams·k)` ∈ (3/k, 1]: fully novel text
    * scores ≈ 1 (incompressible), degenerate repeats approach 3/k.
    * Repetitive boilerplate lands far below diverse text, the same
    * separation the deflate ratio gives (rank agreement is
    * spec-pinned), but every term is exact relational algebra: gram
    * explode → per-doc count / count-distinct — replayable in ANSI
    * SQL, hence oracle-checkable, unlike deflate's library-private
    * output.
    *
    * Scale shape (round-13): a ZERO-SHUFFLE `mapPartitions` kernel —
    * the distinct-gram count is per-DOCUMENT, so it never needed a
    * cross-partition exchange at all. The previous formulation
    * (gram explode → partial-aggregated (id, gram) distinct) paid a
    * data-proportional shuffle of the exploded gram mass (~k bytes
    * per input char; 17.6 MB shuffled at sf0.1, corpus×k-sized at
    * 100 TB) to compute a quantity each map task can produce from its
    * own rows (guide §2.3/§2.4 — the cheapest shuffle is the deleted
    * one). The kernel walks each doc's CODE POINTS (Spark's
    * `substring`/`length` semantics, so astral characters gram
    * exactly like the relational formulation) with one reused HashSet;
    * per-doc state is O(doc grams), the same bound the old
    * per-group aggregate buffer had. `lz_cost`/`lz_ratio` stay
    * COLUMN expressions so the rounding is bit-identical to the
    * relational formulation (and the DuckDB oracle). The relational
    * formulation lost on q137 (isolated wall 7.24 s vs the kernel's
    * 0.62 s, SCALING.md round-13) and is gone from the engine; LlmSpec
    * keeps it as the reference the kernel must match row-for-row,
    * astral chars included.
    *
    * @return (id, n_chars, n_grams, n_novel, lz_cost, lz_ratio) for
    *         docs with at least k chars — shorter docs have no k-gram
    *         parse and are omitted (the oracle twin drops them too)
    */
  def lzProxyRatio(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8): DataFrame = {
    if (k < 2)
      throw InvalidArgumentValue(s"k must be >= 2: $k")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        // reused across rows; cleared per doc. Strings are built from
        // the code-point array so gram boundaries match Spark's
        // substring (code points, not UTF-16 units).
        val seen = new java.util.HashSet[String](1 << 12)
        rows.flatMap { case (id, t) =>
          if (t == null) None
          else {
            val cps = t.codePoints().toArray
            val n = cps.length
            if (n < k) None
            else {
              seen.clear()
              var novel = 0L
              var i = 0
              val last = n - k
              while (i <= last) {
                if (seen.add(new String(cps, i, k))) novel += 1
                i += 1
              }
              Some((id, n.toLong, (n - k + 1).toLong, novel))
            }
          }
        }
      }
      .toDF("id", "n_chars", "n_grams", "n_novel")
    counts
      .select(col("id"), col("n_chars"), col("n_grams"), col("n_novel"),
        (col("n_novel") * k + (col("n_grams") - col("n_novel")) * 3)
          .as("lz_cost"),
        round((col("n_novel") * k + (col("n_grams") - col("n_novel")) * 3)
          .cast("double") / (col("n_grams") * k), 6).as("lz_ratio"))
  }

  /** Per-group lexical health stats: tokens, distinct types,
    * type-token ratio, and the mass share of the single most frequent
    * token — the corpus-drift dashboard row (a source whose TTR
    * collapses or whose top-token share spikes is degenerating into
    * boilerplate). Tokens are whitespace runs of the trimmed
    * lowercase text.
    *
    * Scale shape: one explode → (group, token) partial-aggregated
    * count — the only shuffle that grows with data — then a
    * |groups|-sized aggregate + two-phase max for the top token. No
    * windows over token rows, no driver loops.
    *
    * @return (group, n_tokens, n_types, type_token_ratio, top_token,
    *         top_token_share), one row per group
    */
  def lexicalStats(df: DataFrame, groupCol: String,
                   textCol: String): DataFrame = {
    val tokCounts = df
      .select(col(groupCol).as("grp"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("grp", "tok").agg(count(lit(1)).as("__c"))
    tokCounts
      .groupBy("grp")
      .agg(sum("__c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        // deterministic top token: max over (count, token) structs
        // breaks count ties by token descending on BOTH engines
        max(struct(col("__c"), col("tok"))).as("__top"))
      .select(col("grp"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"),
        col("__top.tok").as("top_token"),
        round(col("__top.__c").cast("double") / col("n_tokens"), 6)
          .as("top_token_share"))
  }

  /** Comment/script/style block removal — the shared first stage of
    * `stripHtml` and `linkDensity` (anchors must be read from the
    * block-stripped markup so a link inside a dead script doesn't
    * count). Non-greedy block patterns with (?s) so blocks spanning
    * newlines die whole; unclosed blocks are left for the generic tag
    * strip (fail-soft on truncated crawls).
    */
  private def stripHtmlBlocks(html: Column): Column = {
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", " ")
    val noScript =
      regexp_replace(noComment, "(?si)<script\\b[^>]*>.*?</script>", " ")
    regexp_replace(noScript, "(?si)<style\\b[^>]*>.*?</style>", " ")
  }

  /** Entity decode for the five entities that matter in crawled text,
    * applied as sequential global replaces with `&amp;` LAST — a
    * double-escaped `&amp;lt;` therefore decodes exactly one level
    * (to `&lt;`), the standard single-pass convention. Not a full
    * HTML5 entity table by design: numeric references beyond `&#39;`
    * pass through untouched (documented divergence; they are rare in
    * text runs and a full table is a lookup, not a pipeline
    * operator).
    */
  private def decodeHtmlEntities(c: Column): Column = {
    val e1 = regexp_replace(c, "&lt;", "<")
    val e2 = regexp_replace(e1, "&gt;", ">")
    val e3 = regexp_replace(e2, "&quot;", "\"")
    val e4 = regexp_replace(e3, "&#39;", "'")
    val e5 = regexp_replace(e4, "&nbsp;", " ")
    regexp_replace(e5, "&amp;", "&")
  }

  /** HTML → text extraction column: comment/script/style blocks
    * removed whole, remaining tags replaced by spaces (so adjacent
    * text runs never weld into one word), entities decoded, whitespace
    * collapsed, trimmed. The WARC→WET step of a crawl-ingestion
    * pipeline as a pure codegen'd projection — zero shuffle,
    * row-parallel, oracle-replayable (every stage is a regex both
    * engines run identically).
    */
  def stripHtml(html: Column): Column =
    trim(regexp_replace(
      decodeHtmlEntities(
        regexp_replace(stripHtmlBlocks(html), "<[^>]*>", " ")),
      "\\s+", " "))

  /** Anchor-text character count of the markup: the numerator of link
    * density. Anchor inner text is extracted non-greedily from the
    * block-stripped markup, then each fragment is itself tag-stripped,
    * entity-decoded and whitespace-collapsed with exactly `stripHtml`'s
    * rules, so `<a>` wrapping the whole body yields density 1.0 by
    * construction. Nested/unclosed anchors count up to the first
    * `</a>` (non-greedy; the boilerplate signal, not a DOM parse).
    */
  private def linkChars(html: Column): Column = {
    val inner = regexp_extract_all(stripHtmlBlocks(html),
      lit("(?si)<a\\b[^>]*>(.*?)</a>"), lit(1))
    coalesce(
      aggregate(
        transform(inner, x =>
          length(trim(regexp_replace(
            decodeHtmlEntities(regexp_replace(x, "<[^>]*>", " ")),
            "\\s+", " "))).cast("long")),
        lit(0L), (acc, x) => acc + x),
      lit(0L))
  }

  /** HTML-to-text extraction with link density — the crawl-ingestion
    * front door (C4/RefinedWeb start from exactly this step) plus the
    * classic nav/boilerplate signal: pages whose visible text is
    * mostly anchor text are link farms and menus, not prose, and get
    * filtered before any tokenizer sees them.
    *
    * Scale shape: one pure codegen'd projection — no shuffle, no UDF,
    * no parse tree; every row is independent so the operator is
    * embarrassingly parallel at any corpus size.
    *
    * @return (id, text, n_chars, link_density) — link_density =
    *         anchor-text chars / text chars, 0.0 for pages with no
    *         extractable text
    */
  def extractHtmlText(df: DataFrame, idCol: String,
                      htmlCol: String): DataFrame = {
    val text = stripHtml(col(htmlCol))
    df.select(col(idCol).cast("long").as("id"), text.as("text"),
        linkChars(col(htmlCol)).as("__lc"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("link_density",
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(round(
            col("__lc").cast("double") / col("n_chars").cast("double"),
            6)))
      .drop("__lc")
  }
}
