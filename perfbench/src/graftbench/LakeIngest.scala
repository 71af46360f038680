package graftbench

import org.apache.spark.sql.{functions => F, DataFrame}
import org.apache.spark.storage.StorageLevel

import graft.catalog.Catalog
import graft.sinks.Writer
import graft.sinks.Writer.WriteOptions
import graft.sources.Reader
import graft.sources.Reader.ReadOptions
import graft.sql.Sql

/** The recurring daily ingest. Each pass lands one day batch into a
  * partitioned dataset (append, then an `overwrite_partitions`
  * correction), registers the partition, scans two days back with a
  * partition filter and runs a join/aggregate SQL report. Passes
  * replay a ring of `Slots` day slots, so the dataset keeps the same
  * size from pass to pass.
  */
object LakeIngest extends Section {
  val Slots = 4
  val NBatch = 10000
  val NCust = 2000
  val Db = "lake"
  def rowsPerPass: Long = 2L * NBatch

  final case class Data(customers: Seq[Gen.Customer],
                        batches: Seq[(Seq[Gen.Sale], Seq[Gen.Sale])])

  def data(seed: Long): Data =
    Data(Gen.customers(seed, NCust),
      (0 until Slots).map(s => Gen.dayBatch(seed, s, NBatch, NCust)))

  private def in(ctx: Ctx, t: String) = s"${ctx.inputDir}/$t"
  private def lake(ctx: Ctx, t: String) = s"${ctx.work}/lake/$t"

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val d = data(ctx.seed)
    d.customers.toDF().write.parquet(in(ctx, "customers"))
    d.batches.flatMap(_._1).toDF().write.parquet(in(ctx, "batch"))
    d.batches.flatMap(_._2).toDF().write.parquet(in(ctx, "fix"))
  }

  private var d: Data = _
  private var batch: DataFrame = _
  private var fix: DataFrame = _
  private var ring = 0
  /** Ring slots some pass has rewritten. */
  private val written = scala.collection.mutable.Set.empty[Int]

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    d = data(ctx.seed)
    def load(t: String) = {
      val df = Reader.readParquet(spark, in(ctx, t)).persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    batch = load("batch")
    fix = load("fix")
    Fs.rm(s"${ctx.work}/lake")
    Catalog.deleteDatabase(spark, Db)
    Catalog.createDatabase(spark, Db)
    val cust = Reader.readParquet(spark, in(ctx, "customers"))
    Writer.toParquet(spark, cust, lake(ctx, "customers"), WriteOptions(mode = "overwrite"))
    val (cc, _) = Catalog.extractAthenaTypes(cust, Nil)
    Catalog.createParquetTable(spark, Db, "customers", lake(ctx, "customers"), cc)
    Writer.toParquet(spark, fix, lake(ctx, "sales"),
      WriteOptions(dataset = true, partitionCols = Seq("day"), mode = "overwrite"))
    val (sc, sp) = Catalog.extractAthenaTypes(fix, Seq("day"))
    Catalog.createParquetTable(spark, Db, "sales", lake(ctx, "sales"), sc, sp)
    Catalog.addPartitions(spark, Db, "sales", (0 until Slots).map(s => Map("day" -> Gen.slotDay(s))))
    ring = 0
    written.clear()
  }

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val s = ring
    ring = (ring + 1) % Slots
    val day = Gen.slotDay(s)
    val sales = lake(ctx, "sales")
    val dataset = WriteOptions(dataset = true, partitionCols = Seq("day"))

    ctx.step("sinks", "toParquet.append") {
      Writer.toParquet(spark, batch.filter(F.col("day") === day), sales,
        dataset.copy(mode = "append"))
    }
    ctx.step("sinks", "toParquet.overwrite_partitions") {
      Writer.toParquet(spark, fix.filter(F.col("day") === day), sales,
        dataset.copy(mode = "overwrite_partitions"))
    }
    written += s
    // the correction must replace the appended batch, not add to it (the
    // append itself leaves no trace once the correction lands)
    ctx.verify("toParquet.overwrite_partitions") {
      val got = spark.read.parquet(s"$sales/day=$day")
        .agg(F.count(F.lit(1)), F.sum("amount_cents")).collect().head
      val rows = d.batches(s)._2
      val want = (ctx.expect(rows.size.toLong), rows.map(_.amount_cents).sum)
      if ((got.getLong(0), got.getLong(1)) == want) None
      else Some(s"partition $day holds (rows, cents) = (${got.get(0)}, ${got.get(1)}), want $want")
    }

    val parts = ctx.step("catalog", "addPartitions") {
      Catalog.addPartitions(spark, Db, "sales", Seq(Map("day" -> day)))
      Catalog.getPartitions(spark, Db, "sales")
    }
    ctx.verify("addPartitions") {
      val want = (0 until Slots).map(Gen.slotDay).toSet ++
        (if (ctx.corruptExpected) Set("corrupt") else Set.empty)
      val got = parts.flatMap(_.get("day")).toSet
      if (got == want) None else Some(s"partitions $got, expected $want")
    }

    val prev = Gen.slotDay((s + Slots - 1) % Slots)
    val scan = ctx.step("sources", "readParquet") {
      Reader.readParquet(spark, sales,
        ReadOptions(partitionFilter = Some(F.col("day").isin(day, prev))))
        .agg(F.count(F.lit(1)), F.sum("amount_cents"), F.sum("qty")).collect().head
    }
    ctx.counters("sources.rows_out") += scan.getLong(0)
    ctx.verify("readParquet") {
      val rows = d.batches.flatMap(_._2).filter(r => r.day == day || r.day == prev)
      val want = (rows.size.toLong, rows.map(_.amount_cents).sum, rows.map(_.qty.toLong).sum)
      val got = (scan.getLong(0), scan.getLong(1), scan.getLong(2))
      if (got == want.copy(_1 = ctx.expect(want._1))) None
      else Some(s"read back (rows, cents, qty) = $got, written $want")
    }

    val report = ctx.step("sql", "readSqlQuery") {
      Sql.readSqlQuery(spark,
        s"""SELECT c.segment, COUNT(*) AS n, SUM(s.amount_cents) AS cents
            FROM $Db.sales s JOIN $Db.customers c ON s.cust_id = c.cust_id
            GROUP BY c.segment""").df.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    ctx.verify("readSqlQuery") {
      val seg = d.customers.map(c => c.cust_id -> c.segment).toMap
      val want = d.batches.flatMap(_._2).groupBy(r => seg(r.cust_id)).map { case (k, rs) =>
        k -> (ctx.expect(rs.size.toLong), rs.map(_.amount_cents).sum)
      }
      if (report == want) None else Some(s"report $report, expected $want")
    }
  }

  def teardown(ctx: Ctx): Unit = {
    Seq(batch, fix).filter(_ != null).foreach(_.unpersist())
    Catalog.deleteDatabase(ctx.spark, Db)
  }

  /** Bytes of the partitions the passes rewrote, and the raw bytes of
    * the rows each holds (its correction batch).
    */
  def storedBytes(ctx: Ctx): (Long, Long) = {
    val slots = written.toSeq
    (slots.map(s => Fs.du(s"${lake(ctx, "sales")}/day=${Gen.slotDay(s)}")).sum,
      slots.map(s => d.batches(s)._2.map(Gen.rawBytes).sum).sum)
  }
}
