package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + engine configuration.
  *
  * Mirrors the reference's global-config surface
  * (reference: awswrangler/_config.py:25-42) as `graft.*` conf keys read
  * through `spark.conf`, and applies the scale-oriented defaults every
  * entry point relies on (AQE, UTC, sane shuffle parallelism).
  */
object GraftSession {

  /** Conf keys honored by the engine (set via SparkConf / spark.conf).
    *
    * Parity with the reference's `_CONFIG_ARGS` (_config.py:25-42):
    * each arg either maps to a `graft.*` key below or is documented
    * N/A-in-Spark in SURVEY §7.4 (max_cache_query_inspections — this
    * cache is direct-keyed, nothing to inspect; the athena/sts/glue/
    * kms/emr endpoint URLs — those clients are injected or emulated
    * here; redshift_endpoint_url — the endpoint is part of the JDBC
    * URL in the connection registry; concurrent_partitioning — Spark
    * writes partitions concurrently natively, the related fan-out
    * lever is `concurrentWrites`).
    */
  object confKeys {
    val database          = "graft.catalog.database"       // default db ("database")
    val cacheSeconds      = "graft.sql.maxCacheSeconds"    // result cache TTL ("max_cache_seconds")
    val s3BlockSize       = "graft.fs.blockSize"           // hadoop passthrough ("s3_block_size")
    val concurrentWrites  = "graft.write.concurrent"       // writer fan-out ("concurrent_partitioning")
    val ctasApproach      = "graft.sql.ctasApproach"       // stage results to parquet ("ctas_approach")
    val ctasScratch       = "graft.sql.ctasScratch"        // staging root for ctasApproach
    val workgroup         = "graft.sql.workgroup"          // scheduler pool ("workgroup")
    val s3Endpoint        = "graft.fs.s3Endpoint"          // fs.s3a.endpoint ("s3_endpoint_url")
    val catalogId         = "graft.catalog.catalogId"      // active catalog ("catalog_id")
  }

  def builder(appName: String = "graft", master: String = "local[*]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Cached-plan AQE stays off SESSION-WIDE; the operators where it
      // measurably wins hold it for their own persists through
      // graft.operators.OperatorScope (CachedPlanAqe has the numbers).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // testdata `events.ts` is parquet TIMESTAMP(NANOS); Spark has no
      // ns timestamps — read as long, converted in Tables.read.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Plan-STRING memory guard: every cached frame's explain output
      // re-prints its cached plan at every reference, so a composed
      // pipeline whose persisted frames nest N deep renders an
      // exponentially large string — and AQE builds that string for
      // the UI on every stage update. The default limit is ~2 GB;
      // 8 MB keeps any single plan description bounded without
      // touching execution (SPARK-26103's truncation marker appears
      // instead).
      .config("spark.sql.maxPlanStringLength", (8 << 20).toString)

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    applyEngineConf(spark)
    spark
  }

  /** Propagate engine conf into the places that consume it:
    * `graft.fs.blockSize` reaches the Hadoop S3A client (the
    * reference's s3_block_size, _config.py:25-42 — its hand-rolled
    * block cache is S3A's readahead here). `graft.sql.maxCacheSeconds`
    * is read by Sql.readSqlQuery and `graft.write.concurrent` by
    * Writer at call time; `graft.catalog.database` by Sql.readSqlTable.
    */
  def applyEngineConf(spark: SparkSession): Unit = {
    spark.conf.getOption(confKeys.s3BlockSize).foreach { v =>
      spark.sparkContext.hadoopConfiguration.set("fs.s3a.block.size", v)
      spark.sparkContext.hadoopConfiguration.set("fs.s3a.readahead.range", v)
    }
    // the reference's s3_endpoint_url (non-AWS S3 stores, VPC
    // endpoints): S3A's endpoint is the same knob
    spark.conf.getOption(confKeys.s3Endpoint).foreach { v =>
      spark.sparkContext.hadoopConfiguration.set("fs.s3a.endpoint", v)
    }
    // the reference's catalog_id selects which Glue catalog (account)
    // resolves bare table names; Spark's analog is the active catalog
    // in the multi-catalog namespace (spark.sql.catalog.*)
    spark.conf.getOption(confKeys.catalogId)
      .foreach(spark.catalog.setCurrentCatalog)
    // the reference's workgroup is Athena's execution/resource
    // isolation group; Spark's analog is the fair-scheduler pool the
    // session's jobs are submitted under (thread-local, so this covers
    // jobs issued from the configuring thread — per-thread pools are
    // the caller's concern, exactly like multi-threaded wrangler use)
    spark.conf.getOption(confKeys.workgroup).foreach { wg =>
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", wg)
    }
  }
}

/** Helpers to expose the driver's testdata star schema as temp views so
  * `spark.sql` can reference bare table names — the engine-side analog
  * of Glue-table resolution (reference: awswrangler/athena/_read.py:743).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Read one parquet table from an sf directory.
    *
    * `events.ts` is stored as parquet TIMESTAMP(NANOS,false), which
    * Spark reads as a nanosecond long (nanosAsLong); convert to a
    * microsecond-truncated TimestampType so downstream time ops see a
    * real timestamp (matches DuckDB `CAST(ts AS TIMESTAMP)`).
    */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val tsType = df.schema.find(_.name == "ts").map(_.dataType)
    if (name == "events" && tsType.contains(LongType))
      // integer division: ns epoch values (~1.7e18) exceed double's 2^53
      // mantissa, so `/ 1000` + floor can be off by 1µs vs DuckDB's CAST
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else if (name == "events" && tsType.contains(TimestampNTZType))
      // parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
      // TIMESTAMP_NTZ, which event-time watermarks reject; the session
      // runs UTC, so the NTZ→LTZ cast preserves every wall-clock value
      // (and DuckDB's naive CAST(ts AS TIMESTAMP) parity with it)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  /** Register all tables in the sf directory as temp views; idempotent. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      read(spark, sfDir, n).createOrReplaceTempView(n)
    }

  /** Per-(scale-factor, query) scratch dataset root for round-trip
    * queries — under target/ (gitignored), never the read-only
    * testdata.
    */
  def scratch(sfDir: String, name: String): String =
    s"/root/repo/target/graft-rt/${new java.io.File(sfDir).getName}/$name"
}
