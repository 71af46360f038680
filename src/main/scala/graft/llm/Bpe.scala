package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.exceptions._

/** Byte-pair-encoding vocabulary induction over a corpus (Sennrich et
  * al., "Neural Machine Translation of Rare Words with Subword Units",
  * ACL 2016) — the tokenizer-training step of a training-data
  * pipeline, distributed.
  *
  * The classic algorithm never touches the corpus after one pass: it
  * operates on the WORD-FREQUENCY table (distinct whitespace words +
  * counts — the corpus compressed from tokens to vocabulary), and each
  * merge round needs only pair counts over that table. That is exactly
  * the Spark shape: one explode→groupBy builds the table, and each
  * round is a pair explode + partial-aggregated count + a 1-row
  * argmax; only the winning pair (two strings) ever reaches the
  * driver. At 100 TB the word table is ~10⁸ rows — a small DataFrame —
  * and real tokenizers train on a corpus sample anyway
  * (`TextAnalysis.hashSample` composes upstream for that).
  *
  * Simplifications, documented divergences from production BPE:
  * symbols start as characters with NO end-of-word marker, and merges
  * apply left-to-right non-overlapping. Ties in pair frequency break
  * deterministically: (count desc, left asc, right asc) — identical
  * across runs, engines, and the in-memory reference the property
  * spec replays.
  */
object Bpe {

  /** One left-to-right, non-overlapping merge application — shared by
    * distributed training, segmentation, and the spec's in-memory
    * reference (being literally the same function is what makes the
    * property check meaningful).
    */
  private[graft] def applyMerge(syms: Array[String], a: String,
                              b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Segment one word with the learned merge list (applied in rank
    * order, as in training).
    */
  private[graft] def segmentWord(word: String,
                               merges: Seq[(String, String)]): Array[String] = {
    var syms = word.map(_.toString).toArray
    merges.foreach { case (a, b) =>
      if (syms.length > 1) syms = applyMerge(syms, a, b)
    }
    syms
  }

  /** Learn `numMerges` BPE merges from the corpus. Returns the merge
    * list in rank order — driver-sized by nature (the vocabulary is
    * the model), like the k-means centroids and PQ codebooks. The
    * result is BIT-IDENTICAL to the classic one-merge-at-a-time
    * algorithm (the property spec replays an in-memory reference)
    * whichever execution path runs.
    *
    * BPE's argmax chain is inherently sequential — merge N's pair
    * counts depend on merge N−1 — so the scaling question is job
    * count, not data volume. Two-tier execution:
    *
    * TIER 1 (the common case): Spark's job is the part that IS
    * data-parallel — compressing the corpus to the word-frequency
    * table (explode → groupBy; 100 TB of text in, ≤ distinct-words
    * rows out). If that table has ≤ `maxDriverWords` rows it is
    * collected ONCE and the whole merge loop runs in memory with
    * delta-maintained pair counts and an ordered index (only words
    * containing the merged pair are touched per round — the classic
    * fast-BPE structure): O(1) Spark jobs for the entire vocabulary,
    * regardless of `numMerges`. This is what production tokenizer
    * trainers do, and composing `TextAnalysis.hashSample` upstream
    * (as real tokenizers sample anyway) keeps any corpus on this
    * path.
    *
    * TIER 2 (word table too large to collect): distributed rounds
    * over the word table, each round taking MANY merges: compute the
    * pair-count table once, pull the top-`maxBatch` candidates in
    * argmax order, and accept the longest PREFIX of them that is
    * provably what sequential BPE would have chosen. Jobs grow with
    * rounds, not merges — though on natural text the provable batch
    * is small (the next merge usually involves the previous merge's
    * output symbol, which no sound batch can include), so the honest
    * fix for deep vocabularies remains tier 1 over a sample.
    *
    * Soundness of the prefix rule — candidate k (count c_k) is
    * accepted after candidates 1..k−1 iff:
    *   1. its symbols are disjoint from every earlier accepted pair's
    *      symbols (merging (a,b) only destroys pairs touching a or b
    *      and only creates pairs touching the new symbol ab, so a
    *      disjoint pair's count is untouched; and since candidates
    *      are a prefix of the global argmax order, no unexamined
    *      original pair outranks it);
    *   2. c_k is STRICTLY greater than an upper bound on the count of
    *      any pair the earlier accepted merges can create. A merge
    *      (a,b) creates only pairs (x,ab)/(ab,y), and every
    *      occurrence of one comes from a pre-merge triple (x,a,b) /
    *      (a,b,y) — so max context-triple count bounds every created
    *      pair, including the [a,b,a,b] → (ab,ab) and a==b run cases,
    *      and earlier batch merges only shrink triple occurrences, so
    *      the pre-batch bound stays valid mid-batch;
    *   3. no symbol-string collision: the concatenation a+b must not
    *      already exist as a symbol (else merging would BOOST an
    *      existing pair's count mid-batch — e.g. "abc" formed both by
    *      (ab,c) and (a,bc)), and neither side may be a symbol
    *      created earlier in this batch. A colliding candidate is
    *      taken alone (a 1-element batch is trivially sequential).
    *   The scan STOPS at the first rejection — acceptance beyond an
    *   uncertain candidate cannot be verified. Worst case is one
    *   merge per round (= the sequential algorithm); clean corpora
    *   batch tens of merges.
    *
    * Per round: pair-count + top-`maxBatch` collect (1 job), a
    * context-triple bound aggregate restricted to the candidates
    * (1 job, skipped when symbol-disjointness alone already limits
    * the batch to one), and one batched merge application +
    * checkpoint. The word table is eagerly `localCheckpoint`ed every
    * round and the previous round's checkpoint blocks released (the
    * dupClusters pattern); stops early when no pair remains.
    *
    * Why checkpoint EVERY round, not persist-rotate: `persist` caches
    * DATA but does not truncate the logical plan, so round N's plan
    * would nest N cached plans — and the per-job explain string the
    * SQL UI generates prints each nested AQE plan twice (initial +
    * final), i.e. ~2^N growth. Measured: a 500-merge train with
    * 32-round rotation OOMs the driver building `explainString`
    * around round ~100; per-round checkpoint keeps the plan a flat
    * scan. Each round's checkpoint is held by the training's
    * `OperatorScope` and released as soon as the next round's lands —
    * exactly `Dedup.dupClusters`.
    *
    * At 100 TB the word table is ~10⁸ rows — a small DataFrame — and
    * real tokenizers train on a corpus sample anyway
    * (`TextAnalysis.hashSample` composes upstream).
    *
    * @param maxBatch cap on merges accepted per distributed round
    *                 (candidate list size); 1 reproduces the
    *                 sequential trainer
    * @param maxDriverWords collect-and-train-in-memory threshold on
    *                 word-table rows; 0 forces the distributed path
    */
  def trainBpeMerges(df: DataFrame, textCol: String,
                     numMerges: Int,
                     maxBatch: Int = 256,
                     maxDriverWords: Long = 2000000L): Seq[(String, String)] = {
    if (numMerges <= 0)
      throw InvalidArgumentValue(
        s"numMerges must be positive, got $numMerges")
    if (maxBatch <= 0)
      throw InvalidArgumentValue(
        s"maxBatch must be positive, got $maxBatch")
    if (maxDriverWords < 0)
      throw InvalidArgumentValue(
        s"maxDriverWords must be >= 0, got $maxDriverWords")
    val spark = df.sparkSession
    import spark.implicits._
    val wordFreq = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
    if (maxDriverWords > 0 && wordFreq.count() <= maxDriverWords) {
      // tier 1: the compressed corpus fits on the driver — one
      // collect, zero Spark jobs per merge
      return trainInMemory(wordFreq.collect(), numMerges)
    }
    // each round's eager localCheckpoint is freed the moment the next
    // one lands; whatever is still held is released on exit
    graft.operators.OperatorScope(spark) { scope =>
    var words = scope.checkpoint(wordFreq
      .map { case (w, cnt) => (w.map(_.toString).toArray, cnt) })

    // every symbol string that exists or has ever existed (symbols
    // can vanish by being fully merged away — keeping them only makes
    // the collision check conservative). Driver-sized: ≤ distinct
    // characters + numMerges, i.e. the vocabulary being learned.
    val symbolSet = scala.collection.mutable.HashSet.empty[String]
    symbolSet ++= words
      .flatMap { case (syms, _) => syms.iterator }.distinct().collect()

    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var done = false
    // bound-job backoff: on tie-heavy corpora the context-triple job
    // keeps getting paid only to reject the whole batch — when a
    // bound round accepts a single merge anyway, skip the bound job
    // (take one merge, sequential-exact by construction) for a
    // doubling number of rounds, so wasted bound jobs are O(log)
    // amortized while productive corpora keep batching
    var skipBoundRounds = 0
    var boundBackoff = 1
    while (merges.size < numMerges && !done) {
      val want = math.min(maxBatch, numMerges - merges.size)
      val cands = words.flatMap { case (syms, cnt) =>
        (0 until syms.length - 1).iterator
          .map(i => ((syms(i), syms(i + 1)), cnt))
      }.toDF("pair", "cnt")
        .groupBy("pair").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("pair._1").asc, col("pair._2").asc)
        .limit(want)
        .select("pair._1", "pair._2", "c").as[(String, String, Long)]
        .collect()
      if (cands.isEmpty) done = true
      else {
        // pass 1 (bound-free): how far could symbol-disjointness +
        // collision rules alone extend the prefix? If ≤ 1, skip the
        // triple-bound job entirely — the batch is a single merge.
        val maxBySymbols = {
          val used = scala.collection.mutable.HashSet.empty[String]
          val created = scala.collection.mutable.HashSet.empty[String]
          var n = 0
          var stop = false
          while (n < cands.length && !stop) {
            val (a, b, _) = cands(n)
            if (used(a) || used(b) || created(a) || created(b) ||
              symbolSet.contains(a + b) || created(a + b)) stop = true
            else { used += a; used += b; created += (a + b); n += 1 }
          }
          // a first candidate whose concatenation collides with an
          // existing symbol is still taken — alone (a 1-element batch
          // is literally the sequential algorithm)
          math.max(n, 1)
        }
        val batch =
          if (maxBySymbols <= 1) cands.take(1).map(c => (c._1, c._2))
          else if (skipBoundRounds > 0) {
            skipBoundRounds -= 1
            cands.take(1).map(c => (c._1, c._2))
          } else {
            // context-triple bound per candidate: max weighted count
            // over x of (x,a,b) and over y of (a,b,y) — the ceiling
            // on any pair that merging (a,b) can create
            val candSet = cands.map(c => (c._1, c._2)).toSet
            val bounds = words.flatMap { case (syms, cnt) =>
              (0 until syms.length - 2).iterator.flatMap { i =>
                val l =
                  if (candSet((syms(i + 1), syms(i + 2))))
                    Iterator(((syms(i + 1), syms(i + 2)), syms(i), cnt))
                  else Iterator.empty
                val r =
                  if (candSet((syms(i), syms(i + 1))))
                    Iterator(((syms(i), syms(i + 1)), "\u0000" + syms(i + 2), cnt))
                  else Iterator.empty
                l ++ r
              }
            }.toDF("pair", "ctx", "cnt")
              .groupBy("pair", "ctx").agg(sum("cnt").as("c"))
              .groupBy("pair").agg(max("c").as("m"))
              .select("pair._1", "pair._2", "m")
              .as[(String, String, Long)].collect()
              .map { case (a, b, m) => (a, b) -> m }.toMap
            val used = scala.collection.mutable.HashSet.empty[String]
            val createdHere = scala.collection.mutable.HashSet.empty[String]
            val acc = scala.collection.mutable
              .ArrayBuffer.empty[(String, String)]
            var createdBound = 0L
            var stop = false
            var i = 0
            while (i < cands.length && !stop) {
              val (a, b, c) = cands(i)
              if (used(a) || used(b) || createdHere(a) || createdHere(b) ||
                symbolSet.contains(a + b) || createdHere(a + b) ||
                c <= createdBound) stop = true
              else {
                acc += ((a, b))
                used += a; used += b
                createdHere += (a + b)
                createdBound = math.max(createdBound,
                  bounds.getOrElse((a, b), 0L))
                i += 1
              }
            }
            // a colliding first candidate was handled by the ≤1 path;
            // here acc is non-empty iff cands(0) passed (it always
            // does: nothing used, bound 0 < c)
            if (acc.size < 2) {
              skipBoundRounds = boundBackoff
              boundBackoff = math.min(boundBackoff * 2, 64)
            } else boundBackoff = 1
            acc.toArray
          }
        merges ++= batch
        batch.foreach { case (a, b) => symbolSet += (a + b) }
        // lineage cut: eager localCheckpoint materializes AND
        // truncates the plan to a flat scan, then the superseded
        // round's checkpoint blocks are freed. All batch merges apply
        // in rank order in ONE pass (they commute — disjoint — but
        // rank order keeps the semantics literally sequential).
        val bl = batch
        val cp = scope.checkpoint(words.map { case (syms, cnt) =>
          var s = syms
          bl.foreach { case (a, b) =>
            if (s.length > 1) s = applyMerge(s, a, b)
          }
          (s, cnt)
        })
        scope.release(words)
        words = cp
      }
    }
    merges.toList
    }
  }

  /** The tier-1 merge loop: classic fast BPE over a collected
    * (word, count) table with delta-maintained state — per merge,
    * only the words CONTAINING the merged pair are re-derived (an
    * inverted pair→words index tracks them), their old pair counts
    * subtracted and new added, and an ordered index keeps the argmax
    * O(log P). Identical counts and tie-break (count desc, left asc,
    * right asc) to the full-recount reference the property spec
    * replays — deltas are exact per-word recomputes, so equality is
    * structural, not approximate.
    */
  private[graft] def trainInMemory(wordFreq: Array[(String, Long)],
                                   numMerges: Int): List[(String, String)] = {
    val words: Array[Array[String]] =
      wordFreq.map(_._1.map(_.toString).toArray)
    val wcnt: Array[Long] = wordFreq.map(_._2)
    val pairCount =
      scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords =
      scala.collection.mutable.HashMap.empty[(String, String),
        scala.collection.mutable.HashSet[Int]]
    def pairMultiset(syms: Array[String])
        : scala.collection.mutable.HashMap[(String, String), Long] = {
      val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        m.update(p, m.getOrElse(p, 0L) + 1L)
        i += 1
      }
      m
    }
    words.indices.foreach { i =>
      pairMultiset(words(i)).foreach { case (p, n) =>
        pairCount.update(p, pairCount.getOrElse(p, 0L) + n * wcnt(i))
        pairWords.getOrElseUpdate(p,
          scala.collection.mutable.HashSet.empty[Int]) += i
      }
    }
    // argmax order: count desc, then pair ascending — the reference
    // tie-break, kept as an ordered index so each merge is O(log P)
    // plus the affected words' length
    val ord = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String),
                  y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(y._1, x._1)
        if (c != 0) c
        else {
          val a = x._2.compareTo(y._2)
          if (a != 0) a else x._3.compareTo(y._3)
        }
      }
    }
    val index = scala.collection.mutable.TreeSet.empty[(Long, String, String)](ord)
    pairCount.foreach { case ((a, b), c) => index += ((c, a, b)) }
    def bump(p: (String, String), delta: Long): Unit = if (delta != 0L) {
      val old = pairCount.getOrElse(p, 0L)
      val nw = old + delta
      if (old > 0L) index -= ((old, p._1, p._2))
      if (nw > 0L) {
        pairCount.update(p, nw)
        index += ((nw, p._1, p._2))
      } else {
        pairCount.remove(p)
        pairWords.remove(p)
      }
    }
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    while (merges.size < numMerges && index.nonEmpty) {
      val (_, a, b) = index.head
      merges += ((a, b))
      // snapshot — membership updates below mutate the live set
      val affected = pairWords.get((a, b))
        .map(_.toArray).getOrElse(Array.emptyIntArray)
      java.util.Arrays.sort(affected) // deterministic walk order
      affected.foreach { i =>
        val before = pairMultiset(words(i))
        words(i) = applyMerge(words(i), a, b)
        val after = pairMultiset(words(i))
        (before.keySet ++ after.keySet).foreach { p =>
          bump(p, (after.getOrElse(p, 0L) - before.getOrElse(p, 0L)) * wcnt(i))
        }
        before.keysIterator.foreach { p =>
          if (!after.contains(p)) pairWords.get(p).foreach(_ -= i)
        }
        after.keysIterator.foreach { p =>
          if (!before.contains(p))
            pairWords.getOrElseUpdate(p,
              scala.collection.mutable.HashSet.empty[Int]) += i
        }
      }
      // left-to-right application consumes every (a,b) adjacency, so
      // the merged pair's count must hit exactly 0 — a residual would
      // re-win the argmax forever
      require(!pairCount.contains((a, b)),
        s"BPE delta invariant violated for pair ($a,$b)")
    }
    merges.toList
  }

  /** Exact BPE token count per document under a learned merge list —
    * the honest replacement for `TextAnalysis.approxBpeTokens` once a
    * vocabulary exists. Row-parallel `mapPartitions` with a
    * per-partition word→length memo (Zipf makes the hit rate ~99%);
    * the merge list rides the closure (vocabulary-sized).
    *
    * @return (id, n_bpe_tokens)
    */
  def bpeTokenCount(df: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
        split(trim(lower(col(textCol))), "\\s+").as("toks"))
      .as[(Long, Seq[String])]
      .mapPartitions { rows =>
        val memo = scala.collection.mutable.HashMap.empty[String, Int]
        rows.map { case (id, toks) =>
          var n = 0L
          toks.foreach { w =>
            if (w.nonEmpty)
              n += memo.getOrElseUpdate(w, segmentWord(w, merges).length)
          }
          (id, n)
        }
      }.toDF("id", "n_bpe_tokens")
  }

  /** Per-group tokenizer fertility under a fixed merge list: word,
    * in-word character, and BPE token totals plus the two ratios a
    * tokenizer evaluation reads — tokens/word (fertility) and
    * chars/token (compression). The "does this vocabulary fit this
    * corpus" dashboard row: a source whose fertility spikes is paying
    * sequence length (and training cost) for being out-of-domain
    * relative to the vocabulary's training corpus. LLM-pipeline
    * extension — the reference has no tokenizer surface.
    *
    * Scale shape: segmentation is `bpeTokenCount`'s memoized
    * row-parallel scan (the merge list rides the closure,
    * vocabulary-sized); the only shuffle is the per-group partial
    * aggregate of three longs — |groups| rows at any corpus size.
    *
    * @return (grp, n_words, n_chars, n_bpe_tokens, tokens_per_word,
    *         chars_per_token), one row per group
    */
  def bpeFertility(df: DataFrame, groupCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(groupCol).cast("string").as("grp"),
        split(trim(lower(col(textCol))), "\\s+").as("toks"))
      .as[(String, Seq[String])]
      .mapPartitions { rows =>
        val memo = scala.collection.mutable.HashMap.empty[String, Int]
        rows.map { case (grp, toks) =>
          var words = 0L; var chars = 0L; var bpe = 0L
          toks.foreach { w =>
            if (w.nonEmpty) {
              words += 1; chars += w.length
              bpe += memo.getOrElseUpdate(w, segmentWord(w, merges).length)
            }
          }
          (grp, words, chars, bpe)
        }
      }
      .toDF("grp", "w", "c", "b")
      .groupBy("grp")
      .agg(sum("w").as("n_words"), sum("c").as("n_chars"),
        sum("b").as("n_bpe_tokens"))
      .select(col("grp"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)
          .as("tokens_per_word"),
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6)
          .as("chars_per_token"))
  }
}
