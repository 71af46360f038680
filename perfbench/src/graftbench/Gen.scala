package graftbench

import scala.collection.mutable

/** Seeded input generator. Everything a workload reads comes from
  * here, and every expected result is either this generator's own
  * bookkeeping or plain Spark SQL over the generated rows (see
  * `CardProfile.Expected`) — never the graft layer under test. The
  * same seed gives the same rows.
  */
object Gen {

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Planted near-duplicate: `dup` is a copy of `src`, exact or with
    * one word appended (char-4-gram Jaccard ≈ 0.97).
    */
  final case class Plant(src: Long, dup: Long)

  val Stopwords: Array[String] = Array("the", "of", "and", "to", "in", "is")

  private val Vocab: Array[String] = Array(
    "line", "small", "group", "sort", "value", "hash", "filter", "big",
    "column", "order", "vector", "spark", "fast", "customer", "part",
    "scan", "slow", "agg", "key", "window", "table", "merge", "join",
    "query", "row", "stream", "batch", "data", "shuffle", "token",
    "corpus", "index", "bucket", "sketch", "signal", "record", "ledger",
    "market", "river", "garden", "planet", "motor", "silver", "harbor",
    "winter", "candle", "forest", "bridge", "castle", "pepper", "violet",
    "rocket", "meadow", "thunder", "lantern", "compass", "orchard",
    "granite", "falcon", "velvet")

  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  def rng(seed: Long, salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L)

  private def goodText(r: java.util.SplittableRandom): String = {
    val n = 40 + r.nextInt(71)
    val ws = Array.tabulate(n) { i =>
      if (i == 0) "the"
      else if (r.nextInt(7) == 0) Stopwords(r.nextInt(Stopwords.length))
      else Vocab(r.nextInt(Vocab.length))
    }
    ws(n / 2) = "of"
    ws.mkString(" ")
  }

  /** Docs that fail exactly one family of quality rules. */
  private def junkText(r: java.util.SplittableRandom, kind: Int): String = kind match {
    case 0 => // too short
      Array.fill(5 + r.nextInt(16))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    case 1 => // symbol-heavy
      Array.tabulate(40 + r.nextInt(40)) { _ =>
        if (r.nextInt(3) == 0) (if (r.nextBoolean()) "#" else "...")
        else Vocab(r.nextInt(Vocab.length))
      }.mkString(" ")
    case _ => // no stopwords
      Array.fill(40 + r.nextInt(70))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
  }

  /** Quality rules every workload passes to `qualityFilter`. */
  val MinTokens = 30L
  val MaxTokens = 1000L
  val MinAvgTokenLen = 3.0
  val MaxAvgTokenLen = 10.0
  val MaxSymbolFrac = 0.1
  val MinAlphaFrac = 0.8
  val MinStopwordHits = 2L

  /** The rules above, evaluated in plain Scala (bookkeeping for the
    * quality-filter check).
    */
  def keeps(text: String): Boolean = {
    val t = text.trim.toLowerCase
    val toks = if (t.isEmpty) Array.empty[String] else t.split("\\s+")
    if (toks.isEmpty) return false
    val n = toks.length.toDouble
    val avgLen = toks.map(_.length).sum / n
    val syms = "#|…|\\.\\.\\.".r.findAllMatchIn(t).size / n
    val alpha = toks.count(_.exists(c => c >= 'a' && c <= 'z')) / n
    val stops = toks.count(Stopwords.contains)
    toks.length >= MinTokens && toks.length <= MaxTokens &&
      avgLen >= MinAvgTokenLen && avgLen <= MaxAvgTokenLen &&
      syms <= MaxSymbolFrac && alpha >= MinAlphaFrac && stops >= MinStopwordHits
  }

  /** Whitespace token count (the `n_tokens` of `qualityFilter`). */
  def tokens(text: String): Long = {
    val t = text.trim
    if (t.isEmpty) 0L else t.split("\\s+").length.toLong
  }

  /** Distinct lowercase character k-gram shingles (the set `Dedup`
    * signs), for the exact-Jaccard check.
    */
  def shingles(text: String, k: Int = 4): Set[String] = {
    val t = text.toLowerCase
    if (t.length <= k) Set(t)
    else (0 to t.length - k).iterator.map(i => t.substring(i, i + k)).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** `nGood` quality-passing docs (ids from `idBase`) of which
    * `plantFrac` are planted near-copies of earlier ones, plus `nJunk`
    * docs that fail the quality rules, shuffled by id.
    */
  def corpus(seed: Long, salt: Long, idBase: Long, nGood: Int, nJunk: Int,
             plantFrac: Double): (Seq[Doc], Seq[Plant]) = {
    val r = rng(seed, salt)
    val n = nGood + nJunk
    val ids = (0 until n).map(i => idBase + i).toArray
    // Fisher-Yates so junk and copies are spread over the id range
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1
    }
    val goodIds = ids.take(nGood)
    val junkIds = ids.drop(nGood)
    val texts = mutable.LinkedHashMap.empty[Long, String]
    val nPlant = (nGood * plantFrac).toInt
    val originals = goodIds.take(nGood - nPlant)
    originals.foreach(id => texts(id) = goodText(r))
    val plants = goodIds.drop(nGood - nPlant).map { dup =>
      val src = originals(r.nextInt(originals.length))
      texts(dup) =
        if (r.nextInt(5) == 0) texts(src)
        else texts(src) + " " + Vocab(r.nextInt(Vocab.length))
      Plant(src, dup)
    }.toSeq
    junkIds.zipWithIndex.foreach { case (id, k) => texts(id) = junkText(r, k % 3) }
    val docs = texts.toSeq.sortBy(_._1).map { case (id, t) =>
      Doc(id, t, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(12)}")
    }
    (docs, plants)
  }

  final case class LineItem(l_orderkey: Long, l_linenumber: Int,
                            l_partkey: Long, l_suppkey: Long,
                            l_quantity: Double, l_extendedprice: Double,
                            l_discount: Double, l_tax: Double,
                            l_returnflag: String, l_linestatus: String)

  /** sf0.1-lineitem-shaped rows; supplier keys are skewed (a few
    * suppliers carry most lines) so `skewReport` has heavy keys.
    */
  def lineitem(seed: Long, n: Int): Seq[LineItem] = {
    val r = rng(seed, 11)
    (0 until n).map { i =>
      val q = (1 + r.nextInt(50)).toDouble
      val price = 900 + r.nextInt(110000) / 100.0
      val supp =
        if (r.nextInt(4) == 0) 1L + r.nextInt(8) else 1L + r.nextInt(1000)
      val flag = if (r.nextInt(2) == 0) "N" else if (r.nextBoolean()) "A" else "R"
      LineItem(i / 4 + 1L, i % 4 + 1, 1L + r.nextInt(20000), supp, q,
        math.rint(q * price * 100) / 100, r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, flag, if (flag == "N") "O" else "F")
    }
  }

  final case class Customer(cust_id: Long, segment: String, nation: Int)
  final case class Sale(order_id: Long, cust_id: Long, qty: Int,
                        amount_cents: Long, status: String, day: String)

  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def customers(seed: Long, n: Int): Seq[Customer] = {
    val r = rng(seed, 21)
    (1 to n).map(i => Customer(i.toLong, Segments(r.nextInt(Segments.length)), r.nextInt(25)))
  }

  /** One day batch for ring slot `slot` and its correction (the same
    * orders with ~5% of amounts restated).
    */
  def dayBatch(seed: Long, slot: Int, n: Int, nCust: Int): (Seq[Sale], Seq[Sale]) = {
    val r = rng(seed, 100 + slot)
    val day = slotDay(slot)
    val batch = (0 until n).map { i =>
      val q = 1 + r.nextInt(50)
      Sale(slot * 10000000L + i, 1L + r.nextInt(nCust), q,
        q * (100L + r.nextInt(200000)), if (r.nextInt(3) == 0) "F" else "O", day)
    }
    val fix = batch.map { s =>
      if (r.nextInt(20) == 0) s.copy(amount_cents = s.amount_cents + 1 + r.nextInt(5000))
      else s
    }
    (batch, fix)
  }

  def slotDay(slot: Int): String = f"2024-01-${slot + 1}%02d"

  /** Bytes of a row rendered as one comma-separated text line: the
    * "input bytes" base of `stored_bytes_ratio`.
    */
  def rawBytes(p: Product): Long =
    p.productIterator.map(_.toString).mkString(",").getBytes("UTF-8").length + 1L
}
