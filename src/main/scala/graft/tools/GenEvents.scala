package graft.tools

import org.apache.spark.sql.{functions => F, SparkSession}

import graft.GraftSession

/** Deterministic events-table generator for the sf1 scaling decade —
  * the events twin of `GenDocs` (the driver ships sf ≤ 0.1 and
  * /root/testdata is read-only). Matches the shipped table's measured
  * shape so ratios compare like for like:
  *   - users = events/66.7 (shipped: 150 users per 10k events,
  *     1,500 per 100k — users scale WITH data, which is what makes
  *     the keyed-window operators' shuffles linear);
  *   - ts uniform over 2024-01-01..2024-01-30 (30 days, µs grain);
  *   - event_type ∈ {view, click, purchase, signup, error} ≈ uniform;
  *   - value uniform [0, 100).
  * Seeded per event id (splitmix mix of seed 42) — same bytes every
  * run under any partitioning.
  *
  * Usage: runMain graft.tools.GenEvents <outDir> <numEvents>
  */
object GenEvents {

  private val Types: Array[String] =
    Array("view", "click", "purchase", "signup", "error")

  def generate(spark: SparkSession, outDir: String,
               numEvents: Long): Unit = {
    import spark.implicits._
    val nUsers = math.max(1L, numEvents * 3 / 200) // 150 per 10k
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in epoch µs
    val span = 30L * 86400L * 1000000L
    val events = spark.range(numEvents).mapPartitions { ids =>
      ids.map { id =>
        val r = new java.util.Random(42L ^ (id * 0x9E3779B97F4A7C15L))
        val user = math.abs(r.nextLong()) % nUsers
        val ts = t0 + math.abs(r.nextLong()) % span
        val ty = Types(r.nextInt(Types.length))
        val v = r.nextDouble() * 100.0
        (id, ts, user, ty, math.rint(v * 100) / 100, s"""{"k": ${r.nextInt(100)}}""")
      }
    }.toDF("event_id", "__us", "user_id", "event_type", "value", "props")
      .withColumn("ts", F.expr("timestamp_micros(__us)"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    events.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")
    println(s"wrote $outDir/events.parquet ($numEvents events, $nUsers users)")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/root/repo/target/graft-sf1")
    val n = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val spark = GraftSession.builder("graft-genevents", "local[32]")
      .config("spark.sql.shuffle.partitions", "32").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      generate(spark, outDir, n)
    } finally spark.stop()
  }
}
