package platbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.TableConfig.Table
import graft.core.TableRegistry
import graft.medallion.Medallion
import graft.operators.{CorpusDedup, Curation, TextDedup}

/** What a workload's run needs: the session, the tracer, its seed and a
  * scratch directory it owns.
  */
final class Ctx(val spark: SparkSession, val tr: Tracer, val seed: Long, val out: String,
    val queryFile: String) {
  val pipeline = new Pipeline(spark, tr)
  def read(path: String): DataFrame = spark.read.parquet(path)

  def rm(path: String): Unit = {
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(del)
      f.delete()
    }
    del(new java.io.File(path))
  }
}

/** One workload: a closed loop of ops issued by a single client. */
trait Workload {
  /** Inputs, prior state and the untimed warm-up. */
  def setup(): Unit

  /** Untimed preparation of op `i` (e.g. landing its batch). */
  def prepare(i: Int): Unit = ()

  /** The timed op. Returns the input rows it consumed. */
  def op(i: Int): Long

  /** Untimed check of op `i`'s output. */
  def check(i: Int): Boolean

  /** Untimed check over the whole run, after the last op. */
  def finalCheck(): Boolean = true

  /** Workload-specific layer counters of the traced ops, by name. */
  def layerCounters(tracedOps: Int): Map[String, Double] = Map.empty
}

/** Row-level equality of two frames with the same columns: equal counts
  * and no row of `a` missing from `b`, counting duplicates.
  */
object Same {
  def apply(a: DataFrame, b: DataFrame): Boolean = {
    val bb = b.select(a.columns.toSeq.map(col): _*)
    a.count() == bb.count() && a.exceptAll(bb).isEmpty
  }
}

object Scales {
  /** Per-workload input sizes (rows). */
  val Daily = Scale(customers = 1000, orders = 10000, changedCustomersPerBatch = 20,
    lateCustomersPerBatch = 10, newCustomersPerBatch = 10, newOrdersPerBatch = 100,
    updatedOrdersPerBatch = 100, deletedOrdersPerBatch = 20, duplicatedOrdersPerBatch = 5)
  /** About 2,400 documents: a 20,000-base corpus takes 12 s an op on four
    * cores, and a corpus run must stay near 35 s for a benchmark pass to fit
    * its time limit (README).
    */
  val Corpus = Scale(corpusBase = 2000)
}

object Checks {
  /** After an initial load: gold fact rows equal silver valid rows with no
    * dangling dimension key; exactly one current, non-overlapping version
    * per business key; summarized totals equal the silver sums.
    */
  def initialLoad(c: Ctx, wh: Warehouse, summary: Seq[Row]): Boolean = {
    val so = c.read(wh.silver("orders"))
    val sl = c.read(wh.silver("lineitem"))
    val fo = c.read(wh.gold("fact_orders"))
    val fl = c.read(wh.gold("fact_lineitem"))
    val dim = c.read(wh.dim(0))
    val counts = fo.count() == so.count() && fl.count() == sl.count() && so.count() > 0
    val dangling = fo.join(dim, Seq("customer_key"), "left_anti").count() +
      fl.join(fo, Seq("order_key"), "left_anti").count()
    val silverTotal = so.agg(sum("total_price")).head().getDecimal(0)
    val summaryTotal = summary.map(_.getAs[java.math.BigDecimal]("total_price"))
      .reduce(_ add _)
    counts && dangling == 0 && scd2Invariants(dim) && silverTotal.compareTo(summaryTotal) == 0
  }

  def scd2Invariants(dim: DataFrame): Boolean = {
    val w = Window.partitionBy("c_custkey").orderBy("valid_from")
    val current = dim.groupBy("c_custkey")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n")).filter(col("n") =!= 1)
    val overlaps = dim.withColumn("prev_to", lag("valid_to", 1).over(w))
      .filter(col("prev_to") > col("valid_from") || col("valid_from") >= col("valid_to"))
    current.isEmpty && overlaps.isEmpty
  }
}

// -------------------------------------------------------- daily_increments
final class DailyIncrements(c: Ctx) extends Workload {
  private val gen = new Gen(c.spark, c.seed, Scales.Daily)
  private val landing = s"${c.out}/landing"
  private val w = new Warehouse(s"${c.out}/wh")
  private var k = 0
  private def batchDir(k: Int) = s"$landing/batch_$k"
  private var initialLoadOk = false
  val bi = new BiRefresh(c)

  def setup(): Unit = {
    gen.initialLanding(landing)
    gen.writeManifest(s"${c.out}/manifest.json")
    initialLoadOk = Checks.initialLoad(c, w, c.pipeline.initialLoad(landing, w))
    // the warm-up batches land like timed ones, so finalCheck covers them
    (1 to DailyIncrements.WarmupBatches).foreach { i =>
      prepare(-i)
      op(-i)
    }
  }

  override def prepare(i: Int): Unit = {
    k += 1
    gen.dailyBatch(batchDir(k), k)
    c.rm(w.dim(k - 2)) // batch k reads version k - 1 only
  }

  def op(i: Int): Long = {
    c.pipeline.dailyBatch(batchDir(k), k, w)
    bi.refresh(w, k)
    gen.scale.batchRows
  }

  def check(i: Int): Boolean = true

  /** The set-up's initial load passed [[Checks.initialLoad]], and silver
    * after the last batch equals a from-scratch keep-latest recompute over
    * every landed file.
    */
  override def finalCheck(): Boolean = {
    val cfg = Configs.parse()
    val initial = Seq(s"$landing/load_1", s"$landing/load_2")
    // every landed file in load order; batch files carry the CDC op column
    def landed(dirs: Seq[String], initialCfg: (Table, Table), batchCfg: (Table, Table)) =
      dirs.zipWithIndex.map { case (dir, seq) =>
        val (b, s) = if (seq < initial.size) initialCfg else batchCfg
        val raw = Medallion.silverTransform(
          Medallion.bronzeIngest(c.spark, b, dir, lit("2000-01-01 00:00:00")), s)
        val withOp = if (raw.columns.contains("op")) raw else raw.withColumn("op", lit("U"))
        withOp.drop("ingestion_timestamp").withColumn("__seq", lit(seq))
      }.reduce(_ unionByName _)
    def latest(df: DataFrame, key: String): DataFrame =
      df.withColumn("__rn", row_number().over(Window.partitionBy(key).orderBy(col("__seq").desc)))
        .filter(col("__rn") === 1 && col("op") =!= "D").drop("__rn", "__seq", "op")

    val customerCfg = (cfg.bronzeCustomers, cfg.silverCustomers)
    val custLanded = landed(
      initial ++ (1 to k).flatMap(b => Seq(batchDir(b), s"${batchDir(b)}/late")),
      customerCfg, customerCfg)
      .filter(col("c_custkey").isNotNull && col("c_nationkey").isNotNull)
    // each recompute is read two or three times below
    val custExpected = latest(custLanded, "c_custkey").persist()
    val custActual = c.read(w.silver("customers"))
    val ordersLanded = landed(initial ++ (1 to k).map(batchDir),
        (cfg.bronzeOrders, cfg.silverOrders), (cfg.bronzeOrderChanges, cfg.silverOrderChanges))
      .filter(col("o_orderkey").isNotNull && col("c_custkey").isNotNull &&
        col("order_date").isNotNull)
      .join(custExpected.select("c_custkey"), Seq("c_custkey"), "left_semi")
    val ordersExpected = latest(ordersLanded, "o_orderkey").persist()
    val ordersActual = c.read(w.silver("orders"))
    bi.saveLast(w, k, s"${c.out}/bi_results")
    val ok = initialLoadOk && Same(custExpected, custActual) &&
      Same(ordersExpected, ordersActual) && Checks.scd2Invariants(c.read(w.dim(k)))
    custExpected.unpersist()
    ordersExpected.unpersist()
    ok
  }

  override def layerCounters(tracedOps: Int): Map[String, Double] = bi.layerCounters(tracedOps)
}

object DailyIncrements {
  /** Untimed batches before timing: a fresh JVM's first batch pays the
    * merge, SCD2 and BI paths' code generation and JIT, about half again a
    * warm batch. Op time still falls by about a sixth from the second batch
    * to the third and is flat after it; a second warm-up batch would not
    * fit a benchmark pass's time limit (README).
    */
  val WarmupBatches = 1
}

// ------------------------------------------------------------- BI refresh
/** The BI query mix (`bi_queries.sql`), run over a warehouse's gold star
  * schema registered with the engine's table registry. Each SQL query is
  * one planning span and one execution span; the summarize query, built
  * through `Medallion.summarize`, is one span that also collects it.
  */
final class BiRefresh(c: Ctx) extends AdaptiveSparkPlanHelper {
  private val queries: Seq[(String, String)] = BiRefresh.parse(c.queryFile)
  private val scans = mutable.ArrayBuffer[(Long, Long, Long)]() // files, parts read, parts
  private var last: Seq[(String, Array[Row], org.apache.spark.sql.types.StructType)] = Nil

  private def tables(w: Warehouse, dimVersion: Int): Seq[(String, String)] =
    Seq("fact_orders" -> w.gold("fact_orders"), "fact_lineitem" -> w.gold("fact_lineitem"),
      "dim_date" -> w.gold("dim_date"), "dim_customer" -> w.dim(dimVersion))

  /** Registers the gold tables and runs every query, collecting its rows. */
  def refresh(w: Warehouse, dimVersion: Int): Unit = {
    tables(w, dimVersion).foreach { case (n, p) => TableRegistry.register(c.spark, n, c.read(p)) }
    def collectRows(df: DataFrame): Array[Row] = {
      val r = df.collect()
      c.tr.rows(r.length.toLong)
      r
    }
    last = queries.map { case (name, sql) =>
      val (df, rows) =
        if (BiRefresh.isSummarize(name)) c.tr.span("medallion.gold.summarize") {
          val d = Medallion.summarize(c.spark.table("fact_orders"), Configs.parse().factOrders,
            Seq("order_priority"), entityKeys = Seq("c_custkey"),
            timeOrder = Seq(col("order_date").desc, col("o_orderkey").desc))
          (d, collectRows(d))
        } else {
          val d = c.tr.span("core.sql.plan") {
            val d = TableRegistry.sql(c.spark, sql)
            d.queryExecution.executedPlan
            d
          }
          val r = c.tr.span("core.sql.exec")(collectRows(d))
          if (c.tr.enabled) recordScans(d)
          (d, r)
        }
      (name, rows, df.schema)
    }
  }

  /** Files read and partitions read / present in a SQL query's scans. */
  private def recordScans(df: DataFrame): Unit = {
    val fileScans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    val parted = fileScans.filter(_.relation.partitionSchema.nonEmpty)
    scans += ((fileScans.map(_.metrics("numFiles").value).sum,
      parted.map(_.metrics.get("numPartitions").map(_.value).getOrElse(0L)).sum,
      parted.map(_.relation.location.asInstanceOf[
        org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex]
        .partitionSpec().partitions.size.toLong).sum))
  }

  /** Writes the last refresh's results and the gold table paths for the
    * DuckDB comparison (`_tables.json` names each table's directory).
    */
  def saveLast(w: Warehouse, dimVersion: Int, dir: String): Unit = {
    last.foreach { case (name, rows, schema) =>
      c.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
    }
    val js = tables(w, dimVersion).map { case (n, p) =>
      s""""$n": "${new java.io.File(p).getAbsolutePath}"""" }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/_tables.json"),
      js.mkString("{", ", ", "}"))
  }

  def layerCounters(tracedOps: Int): Map[String, Double] = {
    val read = scans.map(_._2).sum.toDouble
    val total = scans.map(_._3).sum.toDouble
    Map("core.sql.exec.files_read" -> scans.map(_._1).sum.toDouble / tracedOps,
      "core.sql.exec.partitions_pruned_ratio" -> (if (total > 0) 1 - read / total else 0.0))
  }
}

object BiRefresh {
  def isSummarize(name: String): Boolean = name.endsWith("_summarize")

  /** `-- name: <query>` headers split the file into (name, SQL) pairs. */
  def parse(path: String): Seq[(String, String)] = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    text.split("(?m)^-- name: ").toSeq.drop(1).map { block =>
      val (name, body) = block.span(_ != '\n')
      name.trim -> body.linesIterator.filterNot(_.trim.startsWith("--")).mkString("\n").trim
        .stripSuffix(";")
    }
  }
}

// ------------------------------------------------------------ corpus_dedup
final class CorpusDedupWorkload(c: Ctx) extends Workload {
  import CorpusDedupWorkload._
  private val gen = new Gen(c.spark, c.seed, Scales.Corpus)
  private val dir = s"${c.out}/corpus"
  private var docs = 0L
  private var exact: Seq[(Long, Long)] = Nil
  private var near: Seq[(Long, Long)] = Nil
  private var result: CorpusDedup = _
  private var filtered: DataFrame = _
  val recalls = mutable.ArrayBuffer[Double]()
  private val traced = mutable.Map[String, Double]().withDefaultValue(0.0)

  def setup(): Unit = {
    val (n, e, nr) = gen.corpus(dir)
    gen.writeManifest(s"${c.out}/manifest.json")
    docs = n; exact = e; near = nr
    (1 to WarmupOps).foreach { i =>
      op(-i)
      if (!check(-i)) sys.error("warm-up pass failed its check")
    }
    recalls.clear()
  }

  def op(i: Int): Long = {
    val corpus = c.read(dir)
    filtered = c.tr.frame("functions.curate")(Curation.filter(corpus, "text", Rules))
    result = c.tr.span("operators.text_dedup.dedup_corpus") {
      val r = TextDedup.dedupCorpus(filtered, "id", "text", n = Banding.n,
        numHashes = Banding.numHashes, numBands = Banding.numBands,
        rowsPerBand = Banding.rowsPerBand, maxBucket = Banding.maxBucket)
      c.tr.rows(r.pairs.count())
      r
    }
    c.tr.span("operators.text_dedup.keep_one")(c.tr.rowsWritten(
      result.keepOne(filtered).write.mode(SaveMode.Overwrite).parquet(s"${c.out}/kept_$i")))
    docs
  }

  /** Every planted exact duplicate shares its original's cluster; planted
    * near duplicates do at least at [[MinNearRecall]].
    */
  def check(i: Int): Boolean = {
    val comp = result.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def together(p: (Long, Long)) = comp.get(p._1).exists(x => comp.get(p._2).contains(x))
    val recall = near.count(together).toDouble / near.size
    recalls += recall
    if (c.tr.enabled) {
      // the op's banding, recomputed outside dedupCorpus
      val sigs = TextDedup.minhashSignaturesFast(filtered, "id", "text", Banding.n,
        Banding.numHashes)
      val bands = TextDedup.lshBandsFast(sigs, "id", col("sig"), Banding.numBands,
        Banding.rowsPerBand).persist()
      traced("max_bucket") = math.max(traced("max_bucket"),
        bands.groupBy("band", "band_key").count().agg(max("count")).head().getLong(0).toDouble)
      traced("candidate_pairs") += TextDedup.lshCandidates(bands, "id", Banding.maxBucket)
        .count()
      traced("verified_pairs") += result.pairs.count()
      bands.unpersist()
    }
    c.rm(s"${c.out}/kept_$i")
    exact.forall(together) && recall >= MinNearRecall
  }

  override def layerCounters(tracedOps: Int): Map[String, Double] = Map(
    "operators.text_dedup.dedup_corpus.candidate_pairs" -> traced("candidate_pairs") / tracedOps,
    "operators.text_dedup.dedup_corpus.verified_ratio" ->
      (if (traced("candidate_pairs") > 0) traced("verified_pairs") / traced("candidate_pairs")
       else 0.0),
    "operators.text_dedup.dedup_corpus.max_bucket" -> traced("max_bucket"))
}

object CorpusDedupWorkload {
  /** Untimed passes before timing: the first pass of a fresh JVM costs
    * about three warm ones, and the second is already as fast as later ones.
    */
  val WarmupOps = 1

  /** The shingling and LSH banding the op runs `dedupCorpus` with, and the
    * traced counters recompute.
    */
  object Banding {
    val n = 3
    val numHashes = 8
    val numBands = 4
    val rowsPerBand = 2
    val maxBucket: Option[Int] = Some(100)
  }

  /** Planted near-duplicate recall every op must reach. */
  val MinNearRecall = 0.9

  val Rules = Curation.Rules(allowedLangs = Seq("en"), minQuality = 0.5, maxRepetition = 0.3,
    minTokens = 20, maxTokens = 1000)
}
