package graft.tools

import org.apache.spark.sql.{functions => F, DataFrame, SparkSession}

import graft.GraftSession

/** Full-star-schema scale-factor generator for the suite-wide scaling
  * decade (round-9 verdict task #1): the driver ships sf ≤ 0.1 and
  * /root/testdata is read-only, so larger decades are generated under
  * target/. Two mechanisms, chosen per table for like-for-like ratios:
  *
  *   - RELATIONAL tables (customer/supplier/part/orders/lineitem) are
  *     `factor`× KEY-SHIFTED replicas of a shipped source dir: every
  *     value distribution (statuses, segments, dates, prices — the
  *     things registered queries filter and group on) is preserved
  *     exactly, while key cardinalities and join fan-in scale with the
  *     factor. Replica i shifts every key column by i·10⁹, applied
  *     consistently on both join sides, so referential integrity and
  *     per-key fan-out are unchanged. region/nation are dimensions and
  *     copy as-is (they are fixed-size in TPC-H too).
  *   - ENTITY tables regenerate from the seeded generators so content
  *     does NOT replicate (replicated docs would be 100% duplicates —
  *     poison for dedup measurements): documents via GenDocs
  *     open-vocab (the established decade corpus), events via
  *     GenEvents (users scale with events), embeddings as seeded
  *     random unit float vectors with uniform random labels — the
  *     shipped table's measured shape (within-label cosine ≈
  *     cross-label ≈ 0, i.e. unclustered).
  *
  * IMPORTANT for ratio measurements: generate BOTH endpoints of the
  * decade with this tool (e.g. factor 1 and factor 10) and compare
  * those two dirs — comparing generated-sf1 against the shipped sf0.1
  * would conflate generator shape with scale.
  *
  * Usage: runMain graft.tools.GenSf <srcDir> <outDir> <factor>
  */
object GenSf {

  private val Shift = 1000000000L

  /** factor× key-shifted replication; `keys` are shifted by i·Shift in
    * replica i, everything else is copied verbatim.
    */
  private def replicate(df: DataFrame, factor: Int,
                        keys: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val reps = spark.range(factor).toDF("__rep")
    val rep = df.crossJoin(F.broadcast(reps))
    val shifted = keys.foldLeft(rep) { (d, k) =>
      d.withColumn(k, F.col(k) + F.col("__rep") * Shift)
    }
    shifted.drop("__rep")
  }

  private val KnownTables = Set("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "documents", "events",
    "embeddings")

  def generate(spark: SparkSession, srcDir: String, outDir: String,
               factor: Int, only: Set[String] = Set.empty): Unit = {
    // `only` restricts generation to a table subset (empty = all):
    // a single-operator decade (e.g. the cosine/ANN family, which
    // reads nothing but embeddings) should not pay the 600M-row
    // lineitem replication a factor-1000 full star schema would cost.
    // Validate up front: a silently-ignored typo ('embedings')
    // produces an EMPTY generation run whose failure surfaces later
    // as a confusing missing-parquet error in the bench it feeds.
    val unknown = only.diff(KnownTables)
    if (unknown.nonEmpty)
      throw graft.exceptions.InvalidArgumentValue(
        s"unknown table name(s) ${unknown.toSeq.sorted.mkString(", ")}; " +
          s"known: ${KnownTables.toSeq.sorted.mkString(", ")}")
    def wanted(name: String) = only.isEmpty || only.contains(name)
    def read(name: String) =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"wrote $outDir/$name.parquet")
    }

    // fixed dimensions: copy
    Seq("region", "nation").filter(wanted).foreach(n => write(read(n), n))
    if (wanted("customer"))
      write(replicate(read("customer"), factor, Seq("c_custkey")), "customer")
    if (wanted("supplier"))
      write(replicate(read("supplier"), factor, Seq("s_suppkey")), "supplier")
    if (wanted("part"))
      write(replicate(read("part"), factor, Seq("p_partkey")), "part")
    if (wanted("orders"))
      write(replicate(read("orders"), factor,
        Seq("o_orderkey", "o_custkey")), "orders")
    if (wanted("lineitem"))
      write(replicate(read("lineitem"), factor,
        Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")

    if (wanted("documents")) {
      val nDocs = read("documents").count() * factor
      GenDocs.generate(spark, outDir, nDocs, openVocab = true)
    }
    if (wanted("events")) {
      val nEvents = read("events").count() * factor
      GenEvents.generate(spark, outDir, nEvents)
    }
    if (wanted("embeddings")) {
      val nVecs = read("embeddings").count() * factor
      genEmbeddings(spark, outDir, nVecs)
    }
  }

  /** Seeded random unit vectors (64-dim float) with uniform labels
    * 0..9 — the shipped embeddings table's measured shape.
    */
  def genEmbeddings(spark: SparkSession, outDir: String,
                    numVecs: Long, dim: Int = 64): Unit = {
    import spark.implicits._
    val vecs = spark.range(numVecs).mapPartitions { ids =>
      ids.map { id =>
        val r = new java.util.Random(42L ^ (id * 0x9E3779B97F4A7C15L))
        val v = Array.fill(dim)(r.nextGaussian().toFloat)
        val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        (id, v.map(_ / n), r.nextInt(10))
      }
    }.toDF("vec_id", "embedding", "label")
      .select(F.col("vec_id"), F.col("embedding"),
        F.col("label").cast("int").as("label"))
    vecs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    println(s"wrote $outDir/embeddings.parquet ($numVecs vectors)")
  }

  /** Usage: runMain graft.tools.GenSf <srcDir> <outDir> <factor>
    *   [tables] — tables is an optional comma list restricting
    *   generation (e.g. "embeddings" for an ANN-only decade endpoint).
    */
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/root/repo/target/gen-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val only = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val spark = GraftSession.builder("graft-gensf", "local[32]")
      .config("spark.sql.shuffle.partitions", "32").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      generate(spark, srcDir, outDir, factor, only)
    } finally spark.stop()
  }
}
