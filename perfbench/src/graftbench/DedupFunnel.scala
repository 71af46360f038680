package graftbench

import org.apache.spark.sql.{functions => F, DataFrame}
import org.apache.spark.storage.StorageLevel

import graft.llm.{Dedup, TextAnalysis}
import graft.sinks.Writer
import graft.sinks.Writer.WriteOptions
import graft.sources.Reader

/** The curation funnel: quality filter → minhash near-dup pairs →
  * near-dup removal → sequence packing → the curated docs written out,
  * over a docs corpus with planted near-duplicate pairs and planted
  * low-quality docs.
  */
object DedupFunnel extends Workload {
  val name = "dedup_funnel"
  val NGood = 2250
  val NJunk = 250
  val PlantFrac = 0.06
  val Threshold = 0.8
  val Capacity = 2048L
  val Shards = 8
  def rowsPerPass: Long = NGood + NJunk

  val Rules = TextAnalysis.QualityRules(minTokens = Gen.MinTokens,
    maxTokens = Gen.MaxTokens, minAvgTokenLen = Gen.MinAvgTokenLen,
    maxAvgTokenLen = Gen.MaxAvgTokenLen, maxSymbolFrac = Gen.MaxSymbolFrac,
    minAlphaTokenFrac = Gen.MinAlphaFrac, minStopwordHits = Gen.MinStopwordHits)

  def corpus(seed: Long): (Seq[Gen.Doc], Seq[Gen.Plant]) =
    Gen.corpus(seed, 1, 1L, NGood, NJunk, PlantFrac)

  private def docsPath(ctx: Ctx) = s"${ctx.inputDir}/docs"

  def generate(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    corpus(ctx.seed)._1.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", F.length(F.col("text")).cast("long"))
      .write.parquet(docsPath(ctx))
  }

  private def curatedPath(ctx: Ctx) = s"${ctx.work}/curated"

  private var docs: DataFrame = _
  private var texts: Map[Long, String] = Map.empty
  private var shingled: Map[Long, Set[String]] = Map.empty
  private var plants: Seq[Gen.Plant] = Nil
  /** (doc id, n_tokens) of the docs the last pass wrote out. */
  private var curated: Map[Long, Long] = Map.empty

  def setup(ctx: Ctx): Unit = {
    val (gen, ps) = corpus(ctx.seed)
    texts = gen.map(d => d.id -> d.text).toMap
    shingled = Map.empty
    plants = ps
    docs = Reader.readParquet(ctx.spark, docsPath(ctx))
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs.count()
  }

  private def shinglesOf(id: Long): Set[String] =
    shingled.getOrElse(id, {
      val s = Gen.shingles(texts(id)); shingled += id -> s; s
    })

  def pass(ctx: Ctx): Unit = {
    var kept: DataFrame = null
    var pairs: DataFrame = null
    var survivors: DataFrame = null
    try {
      val keptRows = ctx.step("llm.text", "qualityFilter") {
        kept = TextAnalysis.qualityFilter(docs, "doc_id", "text", Rules)
          .filter(F.col("keep") === 1).select("doc_id", "n_tokens")
          .join(docs.select("doc_id", "text"), "doc_id")
        kept.select("doc_id", "n_tokens").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      ctx.verify("qualityFilter") {
        val want = texts.collect { case (id, t) if Gen.keeps(t) => id -> Gen.tokens(t) }
        if (keptRows.size != ctx.expect(want.size.toLong))
          Some(s"kept ${keptRows.size} docs, expected ${want.size}")
        else if (keptRows != want) Some("kept ids or n_tokens differ from the generator's")
        else None
      }

      val found = ctx.step("llm.dedup", "minhashNearDups") {
        pairs = Dedup.minhashNearDups(kept, "doc_id", "text", shingleK = 4,
          numHashes = 128, bands = 32, threshold = Threshold, minBandMatches = 3)
        pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      }
      ctx.counters("llm.dedup.pairs_out") += found.size
      ctx.verify("minhashNearDups")(checkPairs(ctx, found, keptRows.keySet))

      val survivorIds = ctx.step("llm.dedup", "dedupNearDups") {
        survivors = Dedup.dedupNearDups(kept, "doc_id", pairs)
          .persist(StorageLevel.MEMORY_AND_DISK)
        survivors.select("doc_id").collect().map(_.getLong(0)).toSet
      }
      // the pairs are the caller's to release once everything derived
      // from them is materialized
      pairs.unpersist()
      pairs = null
      ctx.verify("dedupNearDups") {
        val want = keptRows.keySet -- losers(found)
        if (survivorIds.size != ctx.expect(want.size.toLong))
          Some(s"${survivorIds.size} survivors, expected ${want.size}")
        else if (survivorIds != want) Some("survivor ids differ")
        else None
      }

      val packed = ctx.step("llm.text", "packSequences") {
        TextAnalysis.packSequences(survivors, "doc_id", "n_tokens", Capacity, Shards)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
      }
      ctx.verify("packSequences") {
        val want = Pack.greedy(survivorIds.toSeq.map(id => id -> keptRows(id)),
          Capacity, Shards)
        if (packed.size != ctx.expect(want.size.toLong))
          Some(s"${packed.size} packed rows, expected ${want.size}")
        else if (packed.sortBy(_._1) != want) Some("bin assignment differs")
        else None
      }

      ctx.step("sinks", "toParquet") {
        Writer.toParquet(ctx.spark, survivors.select("doc_id", "n_tokens", "text"),
          curatedPath(ctx), WriteOptions(mode = "overwrite"))
      }
      curated = survivorIds.toSeq.map(id => id -> keptRows(id)).toMap
      ctx.verify("toParquet") {
        val back = ctx.spark.read.parquet(curatedPath(ctx))
        val got = back.agg(F.count(F.lit(1)), F.sum("n_tokens")).collect().head
        val want = (ctx.expect(curated.size.toLong), curated.values.sum)
        if ((got.getLong(0), got.getLong(1)) != want)
          Some(s"read back (rows, tokens) = (${got.get(0)}, ${got.get(1)}), written $want")
        else if (back.select("doc_id", "text").collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap !=
            curated.keySet.map(id => id -> texts(id)).toMap)
          Some("curated ids or texts differ from the survivors'")
        else None
      }
    } finally {
      Seq(pairs, survivors, kept).filter(_ != null).foreach(_.unpersist())
    }
  }

  /** Every planted pair among kept docs is found, and every returned
    * pair is a real near-duplicate by exact shingle Jaccard.
    */
  private def checkPairs(ctx: Ctx, found: Seq[(Long, Long, Double)],
                         kept: Set[Long]): Option[String] = {
    val got = found.map(p => (p._1, p._2)).toSet
    val planted = plants.map(p => (math.min(p.src, p.dup), math.max(p.src, p.dup)))
      .filter(p => kept(p._1) && kept(p._2)).toSet ++
      (if (ctx.corruptExpected) Set((-2L, -1L)) else Set.empty)
    val missed = planted -- got
    lazy val bad = found.filter { case (a, b, j) =>
      val exact = Gen.jaccard(shinglesOf(a), shinglesOf(b))
      a >= b || exact < Threshold || math.abs(exact - j) > 1e-6
    }
    if (missed.nonEmpty) Some(s"${missed.size} planted pairs missed, e.g. ${missed.head}")
    else if (bad.nonEmpty) Some(s"${bad.size} returned pairs fail exact Jaccard, e.g. ${bad.head}")
    else None
  }

  /** Non-minimum members of each connected component of `pairs`. */
  def losers(pairs: Seq[(Long, Long, Double)]): Set[Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keySet.filter(x => find(x) != x).toSet
  }

  def teardown(ctx: Ctx): Unit = if (docs != null) { docs.unpersist(); docs = null }

  /** Bytes of the curated docs the last pass wrote, and their raw bytes. */
  def storedBytes(ctx: Ctx): (Long, Long) =
    (Fs.du(curatedPath(ctx)),
      curated.map { case (id, n) => Gen.rawBytes((id, n, texts(id))) }.sum)
}

/** Plain-Scala replay of `packSequences`' contract: shard by the
  * md5-of-id hash, then first-fit-in-id-order bins of `capacity`.
  */
object Pack {
  def shard(id: Long, shards: Int): Int = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(md5.substring(0, 15), 16).%(shards.toLong).toInt
  }

  def greedy(rows: Seq[(Long, Long)], capacity: Long,
             shards: Int): Seq[(Long, Long, Int, Long)] =
    rows.groupBy(r => shard(r._1, shards)).toSeq.flatMap { case (s, rs) =>
      var bin = -1L
      var used = 0L
      rs.sortBy(_._1).map { case (id, tok) =>
        if (bin < 0 || used + tok > capacity) { bin += 1; used = 0L }
        used += tok
        (id, tok, s, bin)
      }
    }.sortBy(_._1)
}
