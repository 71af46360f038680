package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.llm.Similarity

/** The native cosine_sim Catalyst expression: registration, SQL
  * callability, agreement with the interpreted HOF implementation,
  * and codegen/interpreted-path equality.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.register(spark)
  }

  private val vecs = {
    val rnd = new scala.util.Random(1)
    (1 to 50).map(i => (i.toLong,
      Seq.fill(16)(rnd.nextGaussian()),
      Seq.fill(16)(rnd.nextGaussian())))
  }

  test("cosine_sim matches the HOF cosine on random vectors") {
    val df = vecs.toDF("id", "a", "b")
    val rows = df.select(
      call_function("cosine_sim", $"a", $"b").as("native"),
      Similarity.cosine($"a", $"b").as("hof")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("cosine_sim is callable from SQL after registration") {
    vecs.toDF("id", "a", "b").createOrReplaceTempView("vecs_t")
    val n = spark.sql(
      "SELECT cosine_sim(a, b) AS s FROM vecs_t WHERE cosine_sim(a, b) > -2")
      .count()
    assert(n == vecs.size)
  }

  test("codegen and interpreted paths agree") {
    val df = vecs.toDF("id", "a", "b")
    val withCodegen = df.select(call_function("cosine_sim", $"a", $"b"))
      .as[Double].collect().toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = df.select(call_function("cosine_sim", $"a", $"b"))
        .as[Double].collect().toSeq
      assert(withCodegen == interpreted)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("nulls propagate; identical vectors score ~1") {
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0))),
      (None, Some(Seq(1.0, 2.0)))).toDF("a", "b")
    val out = df.select(call_function("cosine_sim", $"a", $"b"))
      .collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(out(1).isNullAt(0))
  }

  test("null ELEMENTS propagate to a null result, never 0.0") {
    val df = spark.sql(
      "SELECT cosine_sim(array(1.0d, CAST(NULL AS DOUBLE)), " +
        "array(1.0d, 2.0d)) AS s")
    assert(df.head().isNullAt(0))
    // and the codegen'd batch path agrees
    val many = spark.range(10).selectExpr(
      "cosine_sim(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS s")
    assert(many.filter("s IS NULL").count() == 10)
  }

  test("type mismatch fails analysis cleanly") {
    val bad = Seq((Seq("x"), Seq(1.0))).toDF("a", "b")
    intercept[Exception] {
      bad.select(call_function("cosine_sim", $"a", $"b")).collect()
    }
  }

  test("nfc_normalize composes decomposed text; codegen == interpreted") {
    val df = Seq(
      (1L, Some("café and nöel")), // e+◌́, o+◌̈
      (2L, Some("plain ascii")),
      (3L, None)
    ).toDF("id", "s")
    val expr = call_function("nfc_normalize", $"s")
    val got = df.select($"id", expr.as("n")).orderBy("id")
      .as[(Long, Option[String])].collect().toSeq
    assert(got(0)._2.contains("caf\u00e9 and n\u00f6el"))
    assert(got(1)._2.contains("plain ascii")) // NFC no-op on ASCII
    assert(got(2)._2.isEmpty)                 // null propagates
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select($"id", expr.as("n")).orderBy("id")
        .as[(Long, Option[String])].collect().toSeq
      assert(interp == got)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    // SQL callable + arity and type errors surface at analysis
    assert(spark.sql("SELECT nfc_normalize('é') AS n")
      .head().getString(0) == "é")
    intercept[Exception] {
      spark.sql("SELECT nfc_normalize('a', 'b')").collect()
    }
    intercept[Exception] {
      Seq(1).toDF("x")
        .select(call_function("nfc_normalize", $"x")).collect()
    }
  }

  test("minhash_sigs: SQL-callable, NULL on all-null groups; misuse fails loudly") {
    // SQL callable with constant arrays: per component
    // min((h*a_i + b_i) mod P) over the group — h in {5, 2}:
    // a=3,b=1 → min(16, 7); a=5,b=0 → min(25, 10)
    assert(spark.sql(
      "SELECT minhash_sigs(h, array(3L, 5L), array(1L, 0L)) AS r " +
        "FROM VALUES (5L), (2L) AS t(h)")
      .head().getSeq[Long](0) == Seq(7L, 10L))
    val as = typedlit(Array(3L, 5L))
    val bs = typedlit(Array(1L, 0L))
    def sigs(df: DataFrame, h: Column, a: Column, b: Column) =
      df.groupBy("g").agg(call_function("minhash_sigs", h, a, b).as("r"))
        .orderBy("g").collect().toSeq
    // misuse must fail naming the function, not with some unrelated
    // error (analysis failures and task failures both carry it)
    def rejects(f: => Any): Unit = {
      val e = intercept[Exception](f)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("minhash_sigs")),
        s"unexpected failure: $e")
    }
    val df = Seq((1L, Some(5L)), (1L, None), (2L, None), (2L, None))
      .toDF("g", "h")
    // a group whose every h is NULL is a NULL array (MIN semantics),
    // a group with some NULLs ignores them
    val got = sigs(df, $"h", as, bs)
    assert(got.map(_.getSeq[Long](1)) == Seq(Seq(16L, 25L), null))
    // non-constant a/b rejected at analysis (they are read once per
    // aggregate, not per row)
    rejects {
      sigs(df, $"h", array($"h"), bs)
    }
    // unequal and empty arrays rejected
    rejects {
      sigs(df, $"h", typedlit(Array(3L, 5L, 7L)), bs)
    }
    rejects {
      sigs(df, $"h", typedlit(Array.empty[Long]), typedlit(Array.empty[Long]))
    }
    // constants outside [0, 2^31) rejected loudly, not silently wrapped
    rejects {
      sigs(df, $"h", typedlit(Array(1L << 40, 5L)), bs)
    }
    rejects {
      sigs(df, $"h", as, typedlit(Array(-1L, 0L)))
    }
    // non-bigint h rejected at analysis
    rejects {
      sigs(Seq((1L, "x")).toDF("g", "s"), $"s", as, bs)
    }
  }

  test("GraftExtensions installs the functions via spark.sql.extensions") {
    import org.apache.spark.sql.SparkSession
    // a NEW SparkSession over the existing SparkContext, created with
    // the extensions hook applied (the `spark.sql.extensions` config
    // string resolves to the same class, but static confs on an
    // already-running SparkContext are not re-read, so the spec uses
    // the programmatic injection point); clear the thread bindings so
    // getOrCreate actually constructs instead of reusing the shared
    // session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      assert(s2 ne spark, "expected a fresh session")
      val r = s2.sql(
        "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c, " +
          "nfc_normalize('é') AS n").head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getString(1) == "é")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
