package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming operators over event streams.
  *
  * The reference has NO streaming surface (SURVEY.md §2.8 — its
  * nearest analogs are chunked generators and bounded CloudWatch
  * time-range reads); this module is the engine extension the
  * `events` table exists for. Every transform below works identically
  * on a batch DataFrame and a streaming one — the functions take the
  * frame, not the source, so tests can validate stream-vs-batch
  * equivalence and production can swap `read` for `readStream`.
  */
object Streaming {

  /** File-source stream over a parquet directory (the streaming twin
    * of Tables.read; `maxFilesPerTrigger` bounds micro-batch size).
    */
  def readParquetStream(spark: SparkSession, path: String,
                        schemaFrom: DataFrame,
                        maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Tumbling/sliding windowed aggregation with a watermark for state
    * cleanup: counts + value sum per (window, event_type).
    */
  def windowedCounts(events: DataFrame, tsCol: String,
                     windowDuration: String,
                     slideDuration: Option[String] = None,
                     watermark: String = "10 minutes"): DataFrame = {
    val wm =
      if (events.isStreaming) events.withWatermark(tsCol, watermark)
      else events
    val win = slideDuration match {
      case Some(slide) => window(col(tsCol), windowDuration, slide)
      case None        => window(col(tsCol), windowDuration)
    }
    wm.groupBy(win.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("event_type"),
        col("n"), col("total"))
  }

  /** Windowed APPROXIMATE distinct entities (HyperLogLog++): the
    * "unique users per window" metric that exact countDistinct cannot
    * provide in a stream at all (distinct state grows with
    * cardinality and Spark rejects streaming COUNT(DISTINCT)) and
    * cannot provide at 100 TB cheaply in batch. HLL registers are
    * MERGEABLE, which is exactly what incremental micro-batch
    * aggregation needs — the same call works identically on a batch
    * frame, and the estimates are bit-equal stream-vs-batch because
    * the sketch is deterministic.
    */
  def windowedApproxDistinct(events: DataFrame, tsCol: String,
                             idCol: String, windowDuration: String,
                             relativeSD: Double = 0.02,
                             watermark: String = "10 minutes"): DataFrame = {
    val wm =
      if (events.isStreaming) events.withWatermark(tsCol, watermark)
      else events
    wm.groupBy(window(col(tsCol), windowDuration).as("w"))
      .agg(approx_count_distinct(col(idCol), relativeSD)
          .as("approx_distinct"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("approx_distinct"),
        col("n_events"))
  }

  /** One emitted heavy-hitter row: current top-k entry for a window.
    * `closed` marks the final emission of a window whose event-time
    * timeout fired (watermark passed the window end).
    */
  case class WindowHeavyHitter(window_start: java.sql.Timestamp,
                               token: String, est: Long, err: Long,
                               rk: Int, closed: Boolean = false)

  /** Space-saving state carried across micro-batches, encoder-flat
    * (parallel Seqs instead of a Map so the state row stays a plain
    * product of array columns).
    */
  case class HHState(tokens: Seq[String], ests: Seq[Long],
                     errs: Seq[Long])

  /** Windowed heavy-hitter tokens under BOUNDED state: the streaming
    * form of [[graft.llm.CorpusStats.heavyHitterTokens]]. A plain
    * `groupBy(window, token).count` keeps one state row per DISTINCT
    * token per window — for web-scale vocabularies (URLs, hashes,
    * n-grams) that state is unbounded and the query eventually dies.
    * Here each window's state is one space-saving counter set of at
    * most `capacity` entries (Metwally et al. 2005) carried by
    * `flatMapGroupsWithState`; space-saving is an insertion
    * algorithm, so continuing the insertion across micro-batches IS
    * the batch single-pass, and each trigger emits the window's
    * current top k with per-token error bounds (err = 0 while no
    * counter has ever been evicted — the provably-exact regime).
    *
    * The same call runs on a batch frame (fresh state, one pass).
    * With a watermark, expired windows emit one final `closed` row
    * set and their state is dropped — total state is then
    * open-windows × capacity, independent of the stream's length and
    * vocabulary.
    */
  def windowedHeavyHitters(events: DataFrame, tsCol: String,
                           tokenCol: String, windowDuration: String,
                           k: Int, capacity: Int = 4096,
                           watermark: String = "10 minutes")
      : org.apache.spark.sql.Dataset[WindowHeavyHitter] = {
    if (k < 1) throw graft.exceptions.InvalidArgumentValue(
      s"k must be >= 1, got $k")
    if (capacity < k) throw graft.exceptions.InvalidArgumentValue(
      s"capacity ($capacity) must be >= k ($k)")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // hoisted: the state function must not capture the Dataset
    // itself (it does not survive closure serialization)
    val isStream = events.isStreaming
    val wm =
      if (isStream) events.withWatermark(tsCol, watermark)
      else events
    // the raw watermarked ts column must flow into the stateful
    // operator (casting the window fields strips the event-time
    // watermark tag, and EventTimeTimeout then fails analysis)
    val keyed = wm
      .select(window(col(tsCol), windowDuration).as("w"),
        col(tokenCol).cast("string").as("t"), col(tsCol).as("__ts"))
      .filter(col("t").isNotNull)
      .select(col("w.start").cast("long").as("ws"),
        col("w.end").cast("long").as("we"), col("t"), col("__ts"))
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey { case (ws, we, _, _) => (ws, we) }

    def topK(ss: graft.llm.CorpusStats.SpaceSaving, wsSec: Long,
             closed: Boolean): Iterator[WindowHeavyHitter] = {
      val start = new java.sql.Timestamp(wsSec * 1000L)
      ss.counters.toSeq
        .sortBy { case (t, (est, _)) => (-est, t) }
        .take(k).zipWithIndex.iterator
        .map { case ((t, (est, err)), i) =>
          WindowHeavyHitter(start, t, est, err, i + 1, closed)
        }
    }

    keyed.flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
      (key: (Long, Long),
       rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
       state: GroupState[HHState]) =>
        val (wsSec, weSec) = key
        if (state.hasTimedOut) {
          val ss = new graft.llm.CorpusStats.SpaceSaving(capacity)
          state.getOption.foreach { s =>
            s.tokens.indices.foreach(i =>
              ss.seed(s.tokens(i), s.ests(i), s.errs(i)))
          }
          state.remove()
          topK(ss, wsSec, closed = true)
        } else {
          val ss = new graft.llm.CorpusStats.SpaceSaving(capacity)
          state.getOption.foreach { s =>
            s.tokens.indices.foreach(i =>
              ss.seed(s.tokens(i), s.ests(i), s.errs(i)))
          }
          rows.foreach { case (_, _, t, _) => ss.insert(t) }
          val entries = ss.counters.toSeq
          state.update(HHState(entries.map(_._1),
            entries.map(_._2._1), entries.map(_._2._2)))
          // fire the final emission once the watermark passes the
          // window end (streaming only — timeouts are no-ops in the
          // batch execution of flatMapGroupsWithState)
          if (isStream)
            state.setTimeoutTimestamp(weSec * 1000L)
          topK(ss, wsSec, closed = false)
        }
    }
  }

  /** Session windows per user: gap-based sessionization. */
  def sessionized(events: DataFrame, tsCol: String, gap: String,
                  watermark: String = "10 minutes"): DataFrame = {
    val wm =
      if (events.isStreaming) events.withWatermark(tsCol, watermark)
      else events
    wm.groupBy(session_window(col(tsCol), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total"))
      .select(col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("user_id"),
        col("n_events"), col("total"))
  }

  /** Late-duplicate removal bounded by the watermark (streaming) or
    * plain dropDuplicates (batch) — same semantics on in-order data.
    */
  def dedupedWithinWatermark(events: DataFrame, tsCol: String,
                             keys: Seq[String],
                             watermark: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(keys)
    else events.dropDuplicates(keys)

  /** Custom stateful processing via mapGroupsWithState: per-key
    * running aggregates (count + value sum) that survive across
    * micro-batches — the pattern for state Spark's built-in
    * aggregations can't express. The state type is explicit and small
    * (two numbers per key); pass `stateTtl` to expire idle keys via a
    * processing-time timeout (emitting their final totals), which is
    * what bounds the state store at hundreds of millions of keys.
    * Null keys/values (including failed casts) are dropped up front —
    * the primitive-tuple encoder would otherwise kill the query.
    */
  case class KeyState(n: Long, total: Double)
  case class KeyUpdate(key: Long, n: Long, total: Double,
                       expired: Boolean = false)

  def statefulRunningTotals(events: DataFrame, keyCol: String,
                            valueCol: String,
                            stateTtl: Option[String] = None)
      : org.apache.spark.sql.Dataset[KeyUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val timeoutConf = stateTtl match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout
      case None    => GroupStateTimeout.NoTimeout
    }
    events
      .select(col(keyCol).cast("long").as("k"),
        col(valueCol).cast("double").as("v"))
      .filter(col("k").isNotNull && col("v").isNotNull)
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(timeoutConf) {
        (key: Long, rows: Iterator[(Long, Double)],
         state: GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            val s = state.getOption.getOrElse(KeyState(0L, 0.0))
            state.remove()
            KeyUpdate(key, s.n, s.total, expired = true)
          } else {
            val prev = state.getOption.getOrElse(KeyState(0L, 0.0))
            var n = prev.n
            var total = prev.total
            rows.foreach { case (_, v) => n += 1; total += v }
            state.update(KeyState(n, total))
            stateTtl.foreach(state.setTimeoutDuration)
            KeyUpdate(key, n, total)
          }
      }
  }

  /** Streaming ingest dedup: each micro-batch of incoming documents
    * is probed against a persisted minhash signature index
    * ([[graft.llm.Dedup.buildMinhashIndex]]) and only documents that
    * near-duplicate NOTHING in the indexed corpus are appended to
    * `outPath` — the continuous form of the daily-batch
    * `probeMinhashIndex` flow, i.e. a training-data ingestion pipe
    * that stays clean against a 5B-doc corpus without ever rescanning
    * it. With `dedupWithinBatch` the batch is additionally self-paired
    * (`minhashNearDups` + one-winner-per-cluster), so a batch that
    * carries its own internal near-dups lands exactly one survivor per
    * cluster; both passes are deterministic, preserving replay
    * idempotence. Each micro-batch lands in its own `batch=<id>`
    * directory via a full overwrite, so a restart that replays a batch
    * REPLACES its output instead of appending it twice —
    * effectively-once, where a plain append would only be
    * at-least-once.
    *
    * With `updateIndex` each batch's SURVIVORS are appended to the
    * index under tag `b<batchId>` after landing, and earlier landed
    * batches join the probe corpus — so a stream deduplicates against
    * everything it has already accepted, not just the base corpus.
    * Replay stays effectively-once: the probe EXCLUDES the replaying
    * batch's own index partition and landed directory (otherwise a
    * replayed batch would flag its docs as dups of its previous
    * attempt and land empty), and the append dynamically overwrites
    * only its own tag.
    *
    * `qualityGate`: optional per-batch transform applied BEFORE the
    * dedup probe — the streaming form of the pipeline's filter stage
    * (e.g. `TextAnalysis.qualityFilter` keep==1, `scrub`). Rejected
    * documents never reach the probe, the landed output, or the
    * growing index. The gate MUST be deterministic (a pure
    * filter/projection of the batch), or batch replay would land a
    * different survivor set and break effectively-once.
    *
    * `maxBandBucket`: the within-batch self-pairing inherits
    * `minhashNearDups`' degenerate-bucket guard, ON by default here
    * (10k) because an ingest pipe is exactly where a boilerplate
    * flood arrives unsupervised — a batch of near-identical docs
    * would otherwise cost a quadratic band self-join. On clean
    * batches the cap changes nothing (StreamingSpec's equivalence
    * cases hold with it on); set 0 to disable.
    */
  def dedupIngestStream(stream: DataFrame, idCol: String,
                        textCol: String, indexPath: String,
                        corpus: DataFrame, outPath: String,
                        checkpointDir: String,
                        threshold: Double = 0.8,
                        minBandMatches: Int = 1,
                        dedupWithinBatch: Boolean = false,
                        updateIndex: Boolean = false,
                        qualityGate: Option[DataFrame => DataFrame] = None,
                        maxBandBucket: Int = 10000)
      : StreamingQuery =
    stream.writeStream
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        val spark = rawBatch.sparkSession
        val batch = qualityGate.map(_(rawBatch)).getOrElse(rawBatch)
        // previously landed batches (minus a replay's own output)
        // join the probe corpus when the index grows with the stream
        val corpusNow =
          if (!updateIndex) corpus
          else {
            val p = new org.apache.hadoop.fs.Path(outPath)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (!fs.exists(p)) corpus
            else corpus.select(col(idCol), col(textCol)).unionByName(
              spark.read.parquet(outPath)
                .filter(col("batch") =!= batchId)
                .select(col(idCol), col(textCol)))
          }
        val dups = graft.llm.Dedup.probeMinhashIndex(
          indexPath, corpusNow, batch, idCol, textCol,
          threshold = threshold, minBandMatches = minBandMatches,
          excludeIndexBatches =
            if (updateIndex) Seq(s"b$batchId") else Nil)
        try {
          val flagged = dups.select(col("id_b").as("__dup_id")).distinct()
          val survivors = batch
            .join(flagged, batch(idCol).cast("long") === col("__dup_id"),
              "left_anti")
          val dest = s"$outPath/batch=$batchId"
          if (!dedupWithinBatch)
            survivors.write.mode("overwrite").parquet(dest)
          else {
            // Sever the micro-batch lineage BEFORE the self-dedup
            // funnel: survivors' plan embeds the probe's whole verify
            // funnel plus the streaming source, and minhashNearDups /
            // dedupNearDups reference their cached intermediates many
            // times in the final plan, so the nested tree — and the
            // plan STRING AQE renders on every count — grows
            // multiplicatively (measured: explainString OOMs an 8 GB
            // driver heap on a ~100-doc batch). An eager
            // localCheckpoint turns every downstream leaf into a flat
            // scan of materialized batch-sized blocks; the blocks are
            // released as soon as the batch lands.
            graft.operators.OperatorScope(spark) { scope =>
              val snap = scope.checkpoint(survivors)
              // dedupNearDups' cluster labels materialize eagerly
              // (dupClusters is iterative), so pairs is only read
              // during the call; released right after the write
              val pairs = scope.adopt(graft.llm.Dedup.minhashNearDups(
                snap, idCol, textCol,
                threshold = threshold, minBandMatches = minBandMatches,
                maxBandBucket = maxBandBucket))
              graft.llm.Dedup.dedupNearDups(snap, idCol, pairs)
                .write.mode("overwrite").parquet(dest)
            }
          }
          if (updateIndex)
            // sign exactly what landed (re-read: cheap, and immune to
            // any plan nondeterminism between the write and the sign)
            graft.llm.Dedup.appendToMinhashIndex(
              spark.read.parquet(dest), idCol, textCol, indexPath,
              s"b$batchId")
        } finally dups.unpersist(blocking = false)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The scale-correct novelty gate for [[dedupIngestStream]]'s
    * `qualityGate` seam: keep only batch docs whose word-n-gram
    * novelty against a PREPARED reference gram set
    * ([[graft.llm.Dedup.buildGramSet]], built once — persisted or
    * read back from parquet) is at least `minNovelty`. Composing the
    * gate from `gramNoveltyScore(batch, corpus)` instead re-derives
    * the reference's distinct gram table every micro-batch — measured
    * 8.4×/decade recurring probe shuffle (SCALING.md round 8); this
    * form keeps the per-batch cost batch-bounded (the reference set
    * is a pure streamed scan against the count-guard-broadcast batch
    * grams) while the linear build cost lands once, with the index.
    */
  def noveltyGate(gramSet: DataFrame, idCol: String, textCol: String,
                  n: Int = 5, minNovelty: Double = 0.3)
      : DataFrame => DataFrame = { df =>
    // materialize=false: the gate runs once per micro-batch and must
    // not leave a persisted frame behind per call
    val nov = graft.llm.Dedup.gramNoveltyAgainst(df, gramSet,
      idCol, textCol, n, materialize = false)
    df.join(nov.filter(col("novelty") >= minNovelty)
      .select(col("id").as("__novel_id")),
      df(idCol).cast("long") === col("__novel_id"))
      .drop("__novel_id")
  }

  /** Drain a (bounded) stream into an in-memory table and return the
    * result — the test/verify harness for stream-vs-batch equivalence.
    * `outputMode` defaults to "complete" (full-aggregation streams);
    * mapGroupsWithState streams (statefulRunningTotals) need "update"
    * and dedupedWithinWatermark needs "append".
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame,
                  name: String,
                  outputMode: String = "complete"): DataFrame = {
    val q: StreamingQuery = streamed.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }
}
