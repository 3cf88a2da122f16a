package platbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.TableConfig.Table
import graft.medallion.Medallion
import graft.operators.{Cdc, DataQuality, Scd2, Upsert}

/** Where one warehouse keeps its silver and gold tables. */
final class Warehouse(val root: String) {
  def silver(t: String): String = s"$root/silver/$t"
  def gold(t: String): String = s"$root/gold/$t"
  def errors: String = s"$root/silver/_dq_errors"
  def dim(version: Int): String = gold(f"dim_customer_v$version%05d")
}

/** The platform's load jobs, written as a user of the engine writes them:
  * configs → bronze → silver (committed per table) → gold (committed per
  * table), with each layer call wrapped in a [[Tracer]] span.
  */
final class Pipeline(spark: SparkSession, tr: Tracer) {
  import Pipeline._

  private def read(path: String): DataFrame = spark.read.parquet(path)

  /** Layer counters of the traced run that need extra Spark jobs. They are
    * queued during an op and computed by [[drainStats]] after it, outside
    * its timing.
    */
  val stats: mutable.Map[String, Double] = mutable.Map().withDefaultValue(0.0)
  private val pending = mutable.ArrayBuffer[() => Unit]()

  def drainStats(): Unit = {
    pending.foreach(_())
    pending.clear()
  }

  private def bronze(cfg: Table, dir: String, loadTs: String): DataFrame =
    tr.frame("medallion.bronze.ingest")(
      Medallion.bronzeIngest(spark, cfg, dir, lit(loadTs)))

  /** Silver load of one table with its error table. Without `commitTo`
    * the valid rows stay a frame for the caller to merge.
    */
  private def silver(bronze: DataFrame, cfg: Table, parents: Map[String, DataFrame],
      wh: Warehouse, loadTs: String, commitTo: Option[String]): DataFrame = {
    var res: Medallion.SilverResult = null
    def load(): DataFrame = {
      res = Medallion.silverLoad(bronze, cfg, parents)
      DataQuality.writeErrors(res.errors, Medallion.dqRulesOf(cfg, parents), wh.errors,
        cfg.tableName, lit(loadTs))
      res.valid
    }
    val out = commitTo match {
      case Some(path) => tr.span("medallion.silver.load") {
        val valid = load()
        tr.rowsWritten(writePartitioned(valid, cfg.partitionBy, path, SaveMode.Overwrite))
        read(path)
      }
      case None => tr.frame("medallion.silver.load")(load())
    }
    if (tr.enabled) {
      val (r, span) = (res, tr.spans.last)
      val critical = Medallion.dqRulesOf(cfg, parents).filter(_.blocking).map(n => lit(n.name))
      pending += { () =>
        stats("silver.in") += bronze.count()
        stats("silver.rejected") += r.errors
          .filter(arrays_overlap(split(col("failed_rules"), ","), array(critical: _*))).count()
        stats("silver.out") += span.rowsOut
      }
    }
    out
  }

  private def goldWrite(df: DataFrame, path: String, partitionBy: Seq[String],
      mode: SaveMode): Unit = {
    val before = if (tr.enabled && mode == SaveMode.Append) parquetFiles(path) else 0
    tr.span("medallion.gold.write")(tr.rowsWritten(writePartitioned(df, partitionBy, path, mode)))
    if (tr.enabled) stats("gold.files_written") += parquetFiles(path) - before
  }

  /** One complete bronze→silver→gold load of an initial landing into the
    * empty warehouse `wh`. Returns the summarized fact (collected).
    */
  def initialLoad(landing: String, wh: Warehouse): Seq[org.apache.spark.sql.Row] = {
    val cfg = tr.span("config.parse")(Configs.parse())
    def bronzeAll(t: Table): DataFrame = Seq("load_1", "load_2").zip(Gen.InitialLoadTs)
      .map { case (d, ts) => bronze(t, s"$landing/$d", ts) }.reduce(_ unionByName _)
    val loadTs = Gen.InitialLoadTs.last
    val customers = silver(bronzeAll(cfg.bronzeCustomers), cfg.silverCustomers, Map.empty,
      wh, loadTs, Some(wh.silver("customers")))
    val orders = silver(bronzeAll(cfg.bronzeOrders), cfg.silverOrders,
      Map("silver_customers" -> customers), wh, loadTs, Some(wh.silver("orders")))
    val lines = silver(bronzeAll(cfg.bronzeLineitem), cfg.silverLineitem,
      Map("silver_orders" -> orders), wh, loadTs, Some(wh.silver("lineitem")))

    val dimDate = tr.frame("medallion.gold.dim_date")(Medallion.goldDimDate(spark, cfg.dimDate))
    goldWrite(dimDate, wh.gold("dim_date"), Nil, SaveMode.Overwrite)
    val dim0 = tr.frame("operators.scd2.apply")(Medallion.goldDimScd2(None,
      customers.select(DimPayload.map(col): _*), cfg.dimCustomer, lit(Gen.InitialDimTs)))
    goldWrite(dim0, wh.dim(0), Nil, SaveMode.Overwrite)
    val dim = read(wh.dim(0))

    val factOrders = tr.frame("medallion.gold.fact")(Medallion.goldFact(orders, cfg.factOrders,
      Map("dim_customer" -> dim), Map("dim_customer" -> "c_custkey"), "order_date"))
    goldWrite(factOrders, wh.gold("fact_orders"), cfg.factOrders.partitionBy, SaveMode.Overwrite)
    val fo = read(wh.gold("fact_orders"))
    val factLines = tr.frame("medallion.gold.fact")(Medallion.goldFact(lines, cfg.factLineitem,
      Map("fact_orders" -> fo), Map("fact_orders" -> "o_orderkey"), "ship_date"))
    goldWrite(factLines, wh.gold("fact_lineitem"), cfg.factLineitem.partitionBy,
      SaveMode.Overwrite)
    tr.span("medallion.gold.summarize") {
      val rows = Medallion.summarize(fo, cfg.factOrders, Seq("order_priority")).collect().toSeq
      tr.rows(rows.size.toLong)
      rows
    }
  }

  /** One daily batch from its landing directory to committed silver and
    * gold: silver customers upsert, silver orders CDC apply (both rewriting
    * only the partitions the batch touches), the SCD2 dimension's next
    * version, the new orders appended to the fact, and the date dimension
    * rebuilt.
    */
  def dailyBatch(dir: String, k: Int, wh: Warehouse): Unit = {
    val cfg = tr.span("config.parse")(Configs.parse())
    val loadTs = Gen.batchTs(k)
    def customers(d: String) =
      silver(bronze(cfg.bronzeCustomers, d, loadTs), cfg.silverCustomers, Map.empty, wh, loadTs, None)
    val onTime = customers(dir)
    val late = customers(s"$dir/late")
    val custBatch = onTime.unionByName(late)
    val custParts = custBatch.select("c_nationkey").distinct().collect().map(_.getInt(0))
    tr.span("operators.upsert.merge_write") {
      val target = read(wh.silver("customers")).filter(col("c_nationkey").isin(custParts: _*))
      tr.rowsWritten(Upsert.mergeWrite(target, custBatch, cfg.silverCustomers.primaryKeys,
        wh.silver("customers"), cfg.silverCustomers.partitionBy))
    }

    val changesBronze = bronze(cfg.bronzeOrderChanges, dir, loadTs)
    val changes = silver(changesBronze, cfg.silverOrderChanges,
      Map("silver_customers" -> read(wh.silver("customers"))), wh, loadTs, None)
    val years = changes.select("order_year").distinct().collect().map(_.getInt(0))
    tr.span("operators.upsert.merge_write") {
      val target = read(wh.silver("orders")).filter(col("order_year").isin(years: _*))
      val merged = Cdc.applyChanges(target, changes, cfg.silverOrders.primaryKeys, "op",
        Seq(col("order_date").desc))
      tr.rowsWritten(merged.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(cfg.silverOrders.partitionBy: _*).parquet(wh.silver("orders")))
    }

    // on-time changes take the in-order SCD2 path, the late delivery the
    // out-of-order one
    val dimOld = read(wh.dim(k - 1))
    val dimOnTime = tr.frame("operators.scd2.apply")(Medallion.goldDimScd2(Some(dimOld),
      onTime.select(DimPayload.map(col): _*), cfg.dimCustomer, lit(loadTs)))
    val dim = tr.frame("operators.scd2.apply")(Medallion.goldDimScd2(Some(dimOnTime),
      late.select(DimPayload.map(col): _*), cfg.dimCustomer, lit(Gen.lateTs(k))))
    goldWrite(dim, wh.dim(k), Nil, SaveMode.Overwrite)
    val newOrders = changes.filter(col("op") === "I").drop("op")
    val fact = tr.frame("medallion.gold.fact")(Medallion.goldFact(newOrders, cfg.factOrders,
      Map("dim_customer" -> read(wh.dim(k))), Map("dim_customer" -> "c_custkey"), "order_date"))
    goldWrite(fact, wh.gold("fact_orders"), cfg.factOrders.partitionBy, SaveMode.Append)
    val dimDate = tr.frame("medallion.gold.dim_date")(Medallion.goldDimDate(spark, cfg.dimDate))
    goldWrite(dimDate, wh.gold("dim_date"), Nil, SaveMode.Overwrite)
    if (tr.enabled) {
      stats("merge.partitions_rewritten") += custParts.length + years.length
      stats("merge.batch_input_bytes") += dirBytes(dir)
      pending += { () =>
        val retro = Scd2.Config(Seq("c_custkey"), Nil)
        Seq((dimOld, onTime, loadTs), (dimOnTime, late, Gen.lateTs(k))).foreach {
          case (d, in, ts) => if (!Scd2.retroKeys(d, in, retro, lit(ts)).isEmpty)
            stats("scd2.out_of_order_batches") += 1
        }
        stats("scd2.versions_added") += read(wh.dim(k)).count() - dimOld.count()
      }
    }
  }
}

object Pipeline {
  /** The SCD2 dimension's payload: business key, type-2, type-1 columns. */
  val DimPayload: Seq[String] = Seq("c_custkey", "c_mktsegment", "c_acctbal", "c_name", "c_nationkey")

  private def files(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(path))
  }

  def parquetFiles(path: String): Int = files(path).count(_.getName.endsWith(".parquet"))

  def dirBytes(path: String): Long =
    files(path).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(_.length).sum

  /** Partitioned tables are written one file per partition. */
  def writePartitioned(df: DataFrame, partitionBy: Seq[String], path: String,
      mode: SaveMode): Unit =
    (if (partitionBy.isEmpty) df.write
     else df.repartition(partitionBy.map(col): _*).write.partitionBy(partitionBy: _*))
      .mode(mode).parquet(path)
}
