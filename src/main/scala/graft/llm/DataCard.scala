package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.OperatorScope

/** One-call corpus summary card — the "data card" a training-data
  * pipeline publishes alongside every corpus snapshot (what's in the
  * box: volume, sources, languages, duplication, length shape,
  * quality pass rate). Long format (section, metric, value) so the
  * schema never changes as sources/languages come and go, and two
  * snapshots diff row-by-row.
  *
  * Everything is composed from this library's own bounded-state
  * operators, so the card's cost profile is the profile of its parts:
  * global scalars, |langs|- and |sources|-row aggregates with
  * map-side combine, O(buckets) exact-quantile state
  * (`Quantiles.exactQuantiles`), and one content-hash aggregate for
  * the dup rate. Nothing data-sized crosses a shuffle unreduced, and
  * the scan-heavy sections share one cached narrow projection that is
  * released before returning.
  */
object DataCard {

  /** @return (section, metric, value) rows: `corpus/n_docs,
    *         n_sources, n_langs, n_tokens, n_chars`,
    *         `dedup/exact_dup_rate`, `lang/share:<lang>`,
    *         `source/share:<source>` + `source/token_share:<source>`,
    *         `length/p50, p90, p99` (chars), `quality/pass_rate`
    *         under `rules`. All values double, rounded to 6.
    */
  def corpusDataCard(df: DataFrame, idCol: String, textCol: String,
                     langCol: String, sourceCol: String,
                     rules: TextAnalysis.QualityRules =
                       TextAnalysis.QualityRules()): DataFrame = {
    // scoped cached-plan AQE (OperatorScope.CachedPlanAqe): the card
    // is a union of six dimension-sized sections over a persisted
    // narrow base; without the scope its materialization fans every
    // section's exchange to cores-proportional width (measured r14:
    // q134 752 tasks → 66, q135 1401 → 122, walls 0.92×/0.91×)
    OperatorScope(df.sparkSession, OperatorScope.Coalesced) { scope =>
    val base = scope.persist(df.select(col(idCol).cast("long").as("id"),
        col(textCol).as("text"),
        col(langCol).cast("string").as("lang"),
        col(sourceCol).cast("string").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_toks",
        size(filter(split(trim(lower(col("text"))), "\\s+"),
          x => x =!= "")).cast("long")))

    val global = base
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum("n_toks").as("n_tokens"),
        sum("n_chars").as("n_chars"))
      .select(explode(map(
        lit("n_docs"), col("n_docs").cast("double"),
        lit("n_sources"), col("n_sources").cast("double"),
        lit("n_langs"), col("n_langs").cast("double"),
        lit("n_tokens"), col("n_tokens").cast("double"),
        lit("n_chars"), col("n_chars").cast("double")))
        .as(Seq("metric", "value")))
      .select(lit("corpus").as("section"), col("metric"),
        round(col("value"), 6).as("value"))

    val dup = Dedup.exactDupStats(base, "text")
      .select(lit("dedup").as("section"),
        lit("exact_dup_rate").as("metric"),
        round((col("n_total") - col("n_unique")).cast("double") /
          col("n_total").cast("double"), 6).as("value"))

    // the share windows run over |langs|/|sources| pre-aggregated
    // rows — a single-partition window over a dimension table, never
    // over data rows
    val w = Window.partitionBy()
    val langShare = base.groupBy("lang").agg(count(lit(1)).as("c"))
      .select(lit("lang").as("section"),
        concat(lit("share:"), col("lang")).as("metric"),
        round(col("c").cast("double") /
          sum(col("c")).over(w).cast("double"), 6).as("value"))

    val srcAgg = base.groupBy("source")
      .agg(count(lit(1)).as("c"), sum("n_toks").as("t"))
      .select(col("source"),
        round(col("c").cast("double") /
          sum(col("c")).over(w).cast("double"), 6).as("ds"),
        round(col("t").cast("double") /
          sum(col("t")).over(w).cast("double"), 6).as("ts"))
    val srcRows = srcAgg
      .select(col("source"), explode(map(
        concat(lit("share:"), col("source")), col("ds"),
        concat(lit("token_share:"), col("source")), col("ts")))
        .as(Seq("metric", "value")))
      .select(lit("source").as("section"), col("metric"), col("value"))

    // the quantile frame's blocks are pinned only until the card has
    // them cached, so the card call leaves exactly one persisted frame
    // behind (the card itself)
    val lenRaw = scope.adopt(graft.operators.Quantiles
      .exactQuantiles(base, Nil, "n_chars", Seq(0.5, 0.9, 0.99),
        persistResult = true))
    val lenQ = lenRaw
      .select(lit("length").as("section"),
        when(col("p") === 0.5, "p50")
          .when(col("p") === 0.9, "p90")
          .otherwise("p99").as("metric"),
        round(col("q"), 6).as("value"))

    val qual = TextAnalysis.qualityFilter(base, "id", "text", rules)
      .agg(round(avg(col("keep").cast("double")), 6).as("value"))
      .select(lit("quality").as("section"),
        lit("pass_rate").as("metric"), col("value"))

    val card = global.unionByName(dup).unionByName(langShare)
      .unionByName(srcRows).unionByName(lenQ).unionByName(qual)
      .orderBy("section", "metric")
      .persist(StorageLevel.MEMORY_AND_DISK)
    card.count()
    card
    }
  }

  /** Row-by-row diff of two data cards (same long format — from
    * [[corpusDataCard]], possibly read back from parquet): what
    * changed between two corpus snapshots, with NULL-safe handling of
    * metrics present on only one side (a language that appeared, a
    * source that vanished). `delta` is new − old (NULL when either
    * side is absent — a share that went missing is a different signal
    * than one that went to zero). Both cards are dimension-sized, so
    * the full-outer join is trivially cheap at any corpus scale —
    * the cost of a diff lives in producing the cards, not here.
    *
    * @return (section, metric, value_old, value_new, delta) for every
    *         row where the two cards differ (or one side is absent)
    */
  def dataCardDiff(oldCard: DataFrame, newCard: DataFrame): DataFrame =
    oldCard.select(col("section"), col("metric"),
        col("value").as("value_old"))
      .join(newCard.select(col("section"), col("metric"),
          col("value").as("value_new")),
        Seq("section", "metric"), "full_outer")
      .filter(col("value_old").isNull || col("value_new").isNull ||
        col("value_old") =!= col("value_new"))
      .withColumn("delta",
        round(col("value_new") - col("value_old"), 6))
}
