package graft.tools

import org.apache.spark.sql.{functions => F, SparkSession}

import graft.GraftSession

/** Deterministic documents-table generator for the sf1 scaling decade
  * (the driver ships sf ≤ 0.1; /root/testdata is read-only, so the
  * extra decade is generated under target/). Matches the shipped
  * corpus' measured shape so ratios across decades compare like for
  * like:
  *   - 31-word vocabulary, uniform 10–100 words/doc (mean ≈ 54);
  *   - langs en ~41%, de/es/fr/zh ~15% each; 20 round-robin sources;
  *   - ~10.2% of docs planted into near-dup pairs (the shipped ratio:
  *     256 pairs per 5000 docs) by copying another doc and APPENDING
  *     one word (J ≈ 0.96 at word-gram level, matching the shipped
  *     219-of-256-pairs-≥0.95 profile), ~3% of planted pairs exact
  *     copies.
  * Seeded per doc id (seed 42 ⊕ splitmix) — same bytes every run, any
  * partitioning.
  *
  * Usage: runMain graft.tools.GenDocs <outDir> <numDocs>
  */
object GenDocs {

  private val Vocab: Array[String] = Array(
    "line", "small", "group", "the", "sort", "value", "hash", "filter",
    "big", "dup", "column", "order", "a", "vector", "spark", "fast",
    "customer", "part", "scan", "slow", "agg", "key", "window", "table",
    "merge", "join", "query", "row", "stream", "batch", "data")

  private val Langs: Array[String] =
    Array("en", "en", "en", "de", "es", "fr", "zh")

  /** Open-vocabulary mode: 50k word types drawn Zipf(s = 1.1) — the
    * web-text shape, where new documents keep minting rare types, so
    * gram/bucket spaces do NOT saturate with corpus size (the
    * mechanism the round-7 closed-vocab decade conflated with corpus
    * mass; SCALING.md round-8 separates them). Inverse-CDF over a
    * precomputed cumulative table, deterministic per (seed, id).
    */
  private val OpenVocabTypes = 50000
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(OpenVocabTypes)(i => math.pow(i + 1.0, -1.1))
    val total = w.sum
    val cdf = new Array[Double](OpenVocabTypes)
    var acc = 0.0
    var i = 0
    while (i < OpenVocabTypes) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf
  }

  private def zipfWord(r: java.util.Random): String = {
    val u = r.nextDouble()
    var lo = 0
    var hi = OpenVocabTypes - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (zipfCdf(mid) < u) lo = mid + 1 else hi = mid
    }
    "w" + lo
  }

  private def rngFor(seed: Long, id: Long): java.util.Random =
    new java.util.Random(seed ^ (id * 0x9E3779B97F4A7C15L))

  private def baseText(id: Long, open: Boolean): String = {
    val r = rngFor(42L, id)
    val n = 10 + r.nextInt(91)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb += ' '
      if (open) sb ++= zipfWord(r)
      else sb ++= Vocab(r.nextInt(Vocab.length))
      i += 1
    }
    sb.toString
  }

  def generate(spark: SparkSession, outDir: String, numDocs: Long,
               openVocab: Boolean = false): Unit = {
    import spark.implicits._
    val nPairs = (numDocs * 0.051).toLong
    // planted (src, dst, exact) triples — driver-sized (2.5k at sf1);
    // dst ids are drawn from the back half so a dst is never also a src
    val pairRng = rngFor(43L, 0L)
    val used = scala.collection.mutable.HashSet.empty[Long]
    val plants = (0L until nPairs).map { k =>
      val src = math.abs(rngFor(44L, k).nextLong()) % (numDocs / 2)
      var dst = numDocs / 2 +
        math.abs(rngFor(45L, k).nextLong()) % (numDocs / 2)
      while (used.contains(dst)) dst = (dst + 1) % numDocs match {
        case d if d < numDocs / 2 => d + numDocs / 2
        case d => d
      }
      used += dst
      (dst, src, pairRng.nextDouble() < 0.03)
    }.toDF("doc_id", "src_id", "exact")

    val docs = spark.range(numDocs).toDF("doc_id")
      .join(F.broadcast(plants), Seq("doc_id"), "left")
      .select(
        F.col("doc_id"),
        F.col("src_id"),
        F.col("exact"))
      .as[(Long, Option[Long], Option[Boolean])]
      .map { case (id, src, exact) =>
        val text = src match {
          case None => baseText(id, openVocab)
          case Some(s) =>
            val t = baseText(s, openVocab)
            if (exact.contains(true)) t
            else {
              // one appended word: kills ~2 of ~54 word grams, so
              // J ≈ 0.96 — the shipped near-dup profile
              val r = rngFor(46L, id)
              if (openVocab) t + " " + zipfWord(r)
              else t + " " + Vocab(r.nextInt(Vocab.length))
            }
        }
        val r = rngFor(47L, id)
        (id, text, Langs(r.nextInt(Langs.length)), s"src${id % 20}",
          text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    println(s"wrote $outDir/documents.parquet ($numDocs docs)")
  }

  /** Usage: runMain graft.tools.GenDocs <outDir> <numDocs> [closed|open] */
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/root/repo/target/graft-sf1")
    val n = args.lift(1).map(_.toLong).getOrElse(50000L)
    val open = args.lift(2).contains("open")
    val spark = GraftSession.builder("graft-gendocs", "local[32]")
      .config("spark.sql.shuffle.partitions", "32").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      generate(spark, outDir, n, open)
    } finally spark.stop()
  }
}
