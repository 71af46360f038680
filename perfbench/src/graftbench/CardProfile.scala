package graftbench

import org.apache.spark.sql.{functions => F, DataFrame, Row}
import org.apache.spark.storage.StorageLevel

import graft.llm.{CorpusStats, DataCard}
import graft.operators.Profiling
import graft.sources.Reader

/** Profiling and data-card operators over a lineitem-shaped table and
  * a docs corpus: the job-count-bound ROADMAP q88/q135/q117 calls
  * (numeric profile, data card + diff, quantile tiers), each a driver
  * loop of exact-quantile refinement jobs. Each pass cards today's
  * corpus and diffs it against yesterday's card (built once, by the
  * untimed warm pass). Expected values are computed once per seed.
  */
object CardProfile extends Section {
  val NLineitem = 30000
  val NGood = 900
  val NJunk = 100
  /** Docs with id below this form the "old" snapshot of the card diff. */
  val OldCut = 601L
  val Measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  def rowsPerPass: Long = NLineitem + NGood + NJunk

  private def path(ctx: Ctx, t: String) = s"${ctx.inputDir}/$t"
  private def corpus(seed: Long) = Gen.corpus(seed, 2, 1L, NGood, NJunk, 0.03)._1

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val li = Gen.lineitem(ctx.seed, NLineitem).toDF()
    val docs = corpus(ctx.seed).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", F.length(F.col("text")).cast("long"))
    li.write.parquet(path(ctx, "lineitem"))
    docs.write.parquet(path(ctx, "docs"))
    Fs.writeKv(path(ctx, "expected.tsv"), Expected.compute(li, docs, corpus(ctx.seed)))
  }

  /** Expected results: plain Spark SQL over the generated frames for
    * the numeric profile and the tiers, the generator's bookkeeping for
    * the card.
    */
  object Expected {
    private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
    private def d(x: Any): String = x match {
      case v: Int => java.lang.Double.toString(v.toDouble)
      case v: Long => java.lang.Double.toString(v.toDouble)
      case null => "null"
      case v: java.lang.Number => java.lang.Double.toString(v.doubleValue())
      case v => v.toString
    }

    def compute(li: DataFrame, docs: DataFrame, gen: Seq[Gen.Doc]): Seq[(String, String)] = {
      val spark = li.sparkSession
      li.createOrReplaceTempView("li_expect")
      docs.createOrReplaceTempView("docs_expect")
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      def sql(q: String) = rows(spark.sql(q))
      val stats = Seq("n" -> "count(%s)", "mean" -> "round(avg(%s), 6)",
        "sd" -> "round(stddev_samp(%s), 6)", "min" -> "round(cast(min(%s) AS double), 6)",
        "max" -> "round(cast(max(%s) AS double), 6)", "median" -> "round(percentile(%s, 0.5), 6)")
      val keys = Measures.flatMap(c => stats.map(st => s"profile.$c.${st._1}"))
      val exprs = Measures.flatMap(c => stats.map(_._2.format(c)))
      val r = sql(s"SELECT ${exprs.mkString(", ")} FROM li_expect").head
      keys.zipWithIndex.foreach { case (k, i) => out += k -> d(r.get(i)) }
      // card counts and shares: the generator's bookkeeping
      def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq("old" -> gen.filter(_.id < OldCut), "new" -> gen).foreach { case (side, ds) =>
        out += s"card.$side.corpus/n_docs" -> d(ds.size)
        out += s"card.$side.corpus/n_sources" -> d(ds.map(_.source).distinct.size)
        out += s"card.$side.corpus/n_langs" -> d(ds.map(_.lang).distinct.size)
        out += s"card.$side.corpus/n_chars" -> d(ds.map(_.text.length.toLong).sum)
        Seq[(String, Gen.Doc => String)]("lang" -> (_.lang), "source" -> (_.source)).foreach {
          case (dim, key) => ds.groupBy(key).foreach { case (k, g) =>
            out += s"card.$side.$dim/share:$k" -> d(round6(g.size.toDouble / ds.size))
          }
        }
      }
      sql("""WITH b AS (SELECT percentile(n_chars, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6,
               0.7, 0.8, 0.9)) bs FROM docs_expect)
             SELECT 1 + size(filter(bs, x -> cast(n_chars AS double) > x)) tier,
               count(*), min(n_chars), max(n_chars)
             FROM docs_expect CROSS JOIN b GROUP BY 1""").foreach { r =>
        out += s"tier.${r.get(0)}" -> s"${r.get(1)},${r.get(2)},${r.get(3)}"
      }
      out.toSeq
    }
  }

  private var li: DataFrame = _
  private var docs: DataFrame = _
  /** Yesterday's published card, the base of each pass's diff. */
  private var oldCard: DataFrame = _
  private var want: Map[String, String] = Map.empty

  def setup(ctx: Ctx): Unit = {
    want = Fs.readKv(path(ctx, "expected.tsv"))
    li = Reader.readParquet(ctx.spark, path(ctx, "lineitem"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs = Reader.readParquet(ctx.spark, path(ctx, "docs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    li.count()
    docs.count()
    oldCard = null
  }

  /** Compare `got` against the expected key; `None` when equal. */
  private def cmp(ctx: Ctx, key: String, got: Any): Option[String] = {
    val exp = want.get(key)
    (got, exp) match {
      case (_, None) => Some(s"unexpected $key = $got")
      case (null, Some(e)) => if (e == "null") None else Some(s"$key: got null, expected $e")
      case (g: java.lang.Number, Some(e)) =>
        if (ctx.near(g.doubleValue(), ctx.expect(e.toDouble))) None
        else Some(s"$key: got $g, expected $e")
      case (g, Some(e)) => if (g.toString == e) None else Some(s"$key: got $g, expected $e")
    }
  }

  private def all(xs: Iterable[Option[String]]): Option[String] = {
    val errs = xs.flatten
    if (errs.isEmpty) None else Some(s"${errs.size} mismatches, e.g. ${errs.head}")
  }

  /** Every expected key with `prefix` was produced by the step. */
  private def complete(prefix: String, seen: Set[String]): Option[String] = {
    val missing = want.keySet.filter(_.startsWith(prefix)) -- seen
    if (missing.isEmpty) None else Some(s"missing ${missing.size} rows, e.g. ${missing.head}")
  }

  def pass(ctx: Ctx): Unit = {
    // yesterday's card is a fixture: the untimed warm pass builds it
    if (oldCard == null)
      oldCard = DataCard.corpusDataCard(docs.filter(F.col("doc_id") < OldCut), "doc_id",
        "text", "lang", "source", DedupFunnel.Rules)
    val prof = ctx.step("operators", "profileNumeric") {
      Profiling.profileNumeric(li, Measures).collect().toSeq
    }
    ctx.verify("profileNumeric") {
      val got = prof.flatMap { r =>
        val c = r.getAs[String]("column")
        Seq("n" -> r.getAs[Any]("n_nonnull"), "mean" -> r.getAs[Any]("mean"),
          "sd" -> r.getAs[Any]("sd"), "min" -> r.getAs[Any]("min"),
          "max" -> r.getAs[Any]("max"), "median" -> r.getAs[Any]("median"))
          .map { case (k, v) => s"profile.$c.$k" -> v }
      }
      all(got.map { case (k, v) => cmp(ctx, k, v) } :+ complete("profile.", got.map(_._1).toSet))
    }

    var newCard: DataFrame = null
    try {
      val rows = ctx.step("llm.datacard", "corpusDataCard") {
        newCard = DataCard.corpusDataCard(docs, "doc_id", "text", "lang", "source",
          DedupFunnel.Rules)
        newCard.collect().toSeq
      }
      ctx.verify("corpusDataCard")(checkCard(ctx, "new", rows))
      val diff = ctx.step("llm.datacard", "dataCardDiff") {
        DataCard.dataCardDiff(oldCard, newCard).collect().toSeq
      }
      ctx.verify("dataCardDiff") {
        // the diff must list exactly the metrics whose values differ
        // between the two expected cards (restricted to the metrics the
        // expectation covers), with those values on each side
        val checked = want.keySet.filter(_.startsWith("card.")).map(_.split("\\.", 3)(2))
        def exp(side: String, m: String) = want.get(s"card.$side.$m").map(_.toDouble)
        val expDiff = checked.filter(m => exp("old", m) != exp("new", m))
        val gotDiff = diff.map(r => s"${r.getString(0)}/${r.getString(1)}" -> r)
          .filter(x => checked(x._1)).toMap
        val vals = gotDiff.toSeq.flatMap { case (m, r) =>
          Seq(Option(r.get(2)).flatMap(v => cmp(ctx, s"card.old.$m", v)),
            Option(r.get(3)).flatMap(v => cmp(ctx, s"card.new.$m", v)))
        }
        if (gotDiff.keySet != expDiff)
          Some(s"diff lists ${gotDiff.size} checked metrics, expected ${expDiff.size}")
        else all(vals)
      }
    } finally {
      // the card call hands its persisted card to the caller
      if (newCard != null) newCard.unpersist()
    }

    val tiers = ctx.step("llm.corpusstats", "quantileTiers") {
      CorpusStats.quantileTiers(docs.select("n_chars"), "n_chars").collect().toSeq
    }
    ctx.verify("quantileTiers") {
      val got = tiers.map(r => s"tier.${r.getAs[Int]("tier")}" ->
        s"${r.getAs[Long]("n_rows")},${r.getAs[Any]("v_min")},${r.getAs[Any]("v_max")}")
      all(got.map { case (k, v) =>
        cmp(ctx, k, if (ctx.corruptExpected) v + "x" else v)
      } :+ complete("tier.", got.map(_._1).toSet))
    }
  }

  private def checkCard(ctx: Ctx, side: String, rows: Seq[Row]): Option[String] = {
    val got = rows.map(r => s"card.$side.${r.getString(0)}/${r.getString(1)}" -> r.get(2))
      .filter(x => want.contains(x._1))
    all(got.map { case (k, v) => cmp(ctx, k, v) } :+
      complete(s"card.$side.", got.map(_._1).toSet))
  }

  def teardown(ctx: Ctx): Unit =
    Seq(li, docs, oldCard).filter(_ != null).foreach(_.unpersist())
}
