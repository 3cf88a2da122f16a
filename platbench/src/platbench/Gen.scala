package platbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of
  * (seed, tag, row key) through `xxhash64`, so the same seed yields the same
  * rows whatever the partitioning, and a daily batch `k` can be regenerated
  * without replaying batches before it. The shapes follow the TPC-H tables
  * (customer, orders, lineitem) the platform's reference data uses; every
  * injected defect and change is drawn at a fixed rate recorded in
  * [[Gen.rates]] and written to the run's manifest.
  */
final class Gen(spark: SparkSession, seed: Long, val scale: Scale) {
  import Gen._

  /** Uniform double in [0, 1). */
  def u(tag: String, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(tag) +: keys): _*), lit(1L << 40)).cast("double") /
      (1L << 40).toDouble

  /** Uniform long in [0, n). */
  def ri(tag: String, n: Long, keys: Column*): Column = riC(tag, lit(n), keys: _*)

  def riC(tag: String, n: Column, keys: Column*): Column =
    floor(u(tag, keys: _*) * n).cast("long")

  private def pick(tag: String, values: Seq[String], keys: Column*): Column =
    element_at(array(values.map(lit): _*), (ri(tag, values.size.toLong, keys: _*) + 1).cast("int"))

  /** Case and whitespace noise on a share of the values. */
  private def noisy(tag: String, c: Column, keys: Column*): Column = {
    val r = u(tag, keys: _*)
    when(r < rates("case_ws_noise") / 2, concat(lit("  "), lower(c)))
      .when(r < rates("case_ws_noise"), concat(c, lit(" ")))
      .otherwise(c)
  }

  /** Raw phone strings in four layouts; a share is unparseable. */
  private def phone(key: Column, tag: String): Column = {
    val d = lpad((ri(tag + "d", 9000000000L, key) + 1000000000L).cast("string"), 10, "0")
    val a = substring(d, 1, 3); val b = substring(d, 4, 3); val c = substring(d, 7, 4)
    val f = ri(tag + "f", 4, key)
    when(u(tag + "bad", key) < rates("bad_phone"), concat(lit("ext. "), c))
      .when(f === 0, concat(lit("("), a, lit(") "), b, lit("-"), c))
      .when(f === 1, concat_ws(".", a, b, c))
      .when(f === 2, concat(lit("1-"), concat_ws("-", a, b, c)))
      .otherwise(d)
  }

  /** Customers whose silver row is rejected (null nation key). */
  def customerRejected(key: Column): Column = u("cnull", key) < rates("null_customer_nation")

  /** One customer row per key; `version` > 0 re-draws the changeable
    * attributes (type-2 segment and balance, type-1 name).
    */
  private def customerRows(keys: DataFrame, version: Column): DataFrame = {
    val k = col("c_custkey")
    keys.select(k,
      concat(lit("Customer#"), lpad(k.cast("string"), 9, "0"),
        when(version > 0, concat(lit(" v"), version.cast("string"))).otherwise(lit("")))
        .as("c_name"),
      when(customerRejected(k), lit(null).cast("int"))
        .otherwise(ri("cnat", 25, k).cast("int")).as("c_nationkey"),
      phone(k, "cph").as("c_phone"),
      ((ri("cbal", 1100000, k, version) - 100000) / 100.0).cast("decimal(12,2)").as("c_acctbal"),
      noisy("cseg_n", pick("cseg", Segments, k, version), k, version).as("c_mktsegment"))
  }

  /** Order key → customer key, with null and orphan defects. */
  private def orderCustomer(ok: Column): Column =
    when(u("onull", ok) < rates("null_order_customer"), lit(null).cast("long"))
      .when(u("oorph", ok) < rates("orphan_order_customer"), lit(OrphanBase) + ri("oo", 1000, ok))
      .otherwise(ri("ocust", scale.customers, ok) + 1)

  /** Customer of an order born in daily batch `born`: any customer known
    * by then, with the same null and orphan defects as the initial load.
    */
  private def batchOrderCustomer(ok: Column, born: Column): Column =
    when(u("bnull", ok) < rates("null_order_customer"), lit(null).cast("long"))
      .when(u("borph", ok) < rates("orphan_order_customer"), lit(OrphanBase) + ri("bo", 1000, ok))
      .otherwise(riC("bcust", lit(scale.customers) + born * scale.newCustomersPerBatch, ok) + 1)

  private def orderDate(ok: Column): Column =
    date_add(lit(FirstOrderDate).cast("date"), ri("odate", OrderDays, ok).cast("int"))

  private def orderRows(keys: DataFrame, version: Column, custkey: Column,
      date: Column): DataFrame = {
    val ok = col("o_orderkey")
    keys.select(ok,
      custkey.as("o_custkey"),
      noisy("ost_n", pick("ost", Statuses, ok, version), ok, version).as("o_orderstatus"),
      ((ri("oprice", 50000000, ok, version) + 100000) / 100.0).cast("decimal(12,2)")
        .as("o_totalprice"),
      date.as("o_orderdate"),
      pick("oprio", Priorities, ok).as("o_orderpriority"))
  }

  private def lineRows(orders: DataFrame, version: Column): DataFrame = {
    val ok = col("o_orderkey")
    val lines = orders.select(ok, col("o_orderdate"),
        explode(sequence(lit(1), (ri("nl", 7, ok) + 1).cast("int"))).as("l_linenumber"))
    val lk = col("l_linenumber")
    lines.select(
      when(u("lorph", ok, lk) < rates("orphan_line_order"), lit(OrphanBase) + ok)
        .otherwise(ok).as("l_orderkey"),
      lk,
      when(u("lnull", ok, lk) < rates("null_line_quantity"), lit(null).cast("decimal(12,2)"))
        .otherwise((ri("lqty", 50, ok, lk, version) + 1).cast("decimal(12,2)")).as("l_quantity"),
      ((ri("lprice", 10000000, ok, lk, version) + 90000) / 100.0).cast("decimal(12,2)")
        .as("l_extendedprice"),
      (ri("ldisc", 11, ok, lk) / 100.0).cast("decimal(4,2)").as("l_discount"),
      noisy("lrf_n", pick("lrf", ReturnFlags, ok, lk), ok, lk).as("l_returnflag"),
      date_add(col("o_orderdate"), (ri("lship", 120, ok, lk) + 1).cast("int")).as("l_shipdate"))
  }

  private def range(n: Long, from: Long = 1L): DataFrame =
    spark.range(from, from + n, 1, 4).toDF("id")

  /** The initial landing: two loads of customers (CSV), orders and
    * lineitem (Parquet). Load 2 re-delivers a share of load 1's keys with
    * changed payloads (the duplicate keys silver must resolve to the later
    * load).
    */
  def initialLanding(dir: String): Unit = {
    val cust1 = customerRows(range(scale.customers).toDF("c_custkey"), lit(0))
    val cust2 = customerRows(range(scale.customers).toDF("c_custkey")
      .filter(u("credeliver", col("c_custkey")) < rates("redelivered_keys")), lit(1))
    val okeys = range(scale.orders).toDF("o_orderkey")
    val orders1 = orderRows(okeys, lit(0), orderCustomer(col("o_orderkey")),
      orderDate(col("o_orderkey")))
    val re = okeys.filter(u("oredeliver", col("o_orderkey")) < rates("redelivered_keys"))
    val orders2 = orderRows(re, lit(1), orderCustomer(col("o_orderkey")),
      orderDate(col("o_orderkey")))
    writeCsv(cust1, s"$dir/load_1/customers")
    writeCsv(cust2, s"$dir/load_2/customers")
    writeParquet(orders1, s"$dir/load_1/orders")
    writeParquet(orders2, s"$dir/load_2/orders")
    writeParquet(lineRows(orders1, lit(0)), s"$dir/load_1/lineitem")
    writeParquet(lineRows(orders2, lit(1)), s"$dir/load_2/lineitem")
  }

  /** `n` keys of `keys` drawn by the seeded hash `tag`, exactly. */
  private def sample(keys: DataFrame, key: String, tag: String, k: Int, n: Long): DataFrame =
    keys.orderBy(u(tag, col(key), lit(k))).limit(n.toInt)

  /** Customers changed on time by daily batch `k` (never rejected ones, so
    * a change cannot retroactively validate earlier orphaned orders).
    */
  private def onTimeCustomers(k: Int): DataFrame = {
    val known = scale.customers + (k - 1).toLong * scale.newCustomersPerBatch
    val valid = range(known).toDF("c_custkey").filter(!customerRejected(col("c_custkey")))
    sample(valid.join(lateCustomers(k), Seq("c_custkey"), "left_anti"), "c_custkey", "cchg", k,
      scale.changedCustomersPerBatch)
  }

  /** Customers whose change batch `k` delivers late: keys batch `k - 1`
    * changed (initially loaded ones for the first batch), so the change is
    * effective before their current version.
    */
  private def lateCustomers(k: Int): DataFrame = {
    val prior = if (k == 1) range(scale.customers).toDF("c_custkey")
        .filter(!customerRejected(col("c_custkey")))
      else onTimeCustomers(k - 1)
    sample(prior, "c_custkey", "clate", k, scale.lateCustomersPerBatch)
  }

  /** Daily batch `k` (k ≥ 1): changed and new customers (CSV), a late
    * delivery of further customer changes (CSV, under `late/`), and order
    * changes (Parquet, op I/U/D) with exact in-batch duplicates. Every
    * count is fixed by [[Scale]]: [[Scale.batchRows]] rows in all.
    */
  def dailyBatch(dir: String, k: Int): Unit = {
    val kk = lit(k)
    val newCust = range(scale.newCustomersPerBatch,
      scale.customers + (k - 1).toLong * scale.newCustomersPerBatch + 1).toDF("c_custkey")
    val cust = customerRows(onTimeCustomers(k), kk).unionByName(customerRows(newCust, lit(0)))
    val late = customerRows(lateCustomers(k), kk)

    val firstNew = scale.orders + (k - 1).toLong * scale.newOrdersPerBatch + 1
    val ok = col("o_orderkey")
    val newOrders = orderRows(range(scale.newOrdersPerBatch, firstNew).toDF("o_orderkey"),
      lit(0), batchOrderCustomer(ok, kk), lit(batchDate(k)).cast("date"))
      .withColumn("op", lit("I"))
    // updates and deletes of any earlier order re-derive its customer and
    // date exactly as they were drawn when it was born
    val bornBatch = (floor((ok - scale.orders - 1) / scale.newOrdersPerBatch) + 1).cast("int")
    val touched = sample(range(firstNew - 1).toDF("o_orderkey"), "o_orderkey", "ochg", k,
      scale.updatedOrdersPerBatch + scale.deletedOrdersPerBatch)
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(u("ochg", ok, kk))))
    val changes = orderRows(touched, kk,
        when(ok <= scale.orders, orderCustomer(ok)).otherwise(batchOrderCustomer(ok, bornBatch)),
        when(ok <= scale.orders, orderDate(ok))
          .otherwise(date_add(lit(FirstBatchDate).cast("date"), bornBatch - 1)))
      .join(touched.select(ok, col("__rank")), "o_orderkey")
      .withColumn("op", when(col("__rank") <= scale.updatedOrdersPerBatch, lit("U"))
        .otherwise(lit("D")))
      .drop("__rank")
    val all = newOrders.unionByName(changes)
    val dups = sample(all, "o_orderkey", "bdup", k, scale.duplicatedOrdersPerBatch)
    writeCsv(cust, s"$dir/customers")
    writeCsv(late, s"$dir/late/customers")
    writeParquet(all.unionByName(dups), s"$dir/order_changes")
  }

  /** A synthetic corpus: base documents plus planted exact and near
    * duplicates and low-quality filler. Returns (docs written, planted
    * exact pairs, planted near pairs), pairs as (original id, copy id).
    */
  def corpus(dir: String): (Long, Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = Array.tabulate(VocabSize)(i => word(i))
    val markers = Array("the", "a", "and", "of", "is")
    def text(len: Int): Array[String] = Array.fill(len) {
      if (rnd.nextDouble() < 0.15) markers(rnd.nextInt(markers.length))
      else vocab(rnd.nextInt(VocabSize))
    }
    val base = Array.fill(scale.corpusBase)(text(60 + rnd.nextInt(100)))
    val docs = scala.collection.mutable.ArrayBuffer[String]()
    docs ++= base.map(_.mkString(" "))
    val exact = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val near = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    base.indices.foreach { i =>
      if (rnd.nextDouble() < rates("exact_dup_docs")) {
        docs += base(i).mkString(" "); exact += ((i.toLong, docs.size - 1L))
      }
      if (rnd.nextDouble() < rates("near_dup_docs")) {
        val t = base(i).clone()
        t.indices.foreach(j => if (rnd.nextDouble() < rates("near_dup_token_edits"))
          t(j) = vocab(rnd.nextInt(VocabSize)))
        docs += t.mkString(" "); near += ((i.toLong, docs.size - 1L))
      }
    }
    val junk = (scale.corpusBase * rates("junk_docs")).toInt
    (0 until junk).foreach(_ => docs += Array.fill(8)("buy now").mkString(" "))
    import spark.implicits._
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq.toDF("id", "text")
    writeParquet(df.repartition(4), dir)
    (docs.size.toLong, exact.toSeq, near.toSeq)
  }

  private def word(i: Int): String = {
    val r = new java.util.SplittableRandom(seed * 31 + i)
    val letters = "etaoinshrdlcumwfgypbvkxjqz"
    (0 until 3 + r.nextInt(6)).map(_ => letters.charAt(r.nextInt(letters.length))).mkString
  }

  /** Records the seed, the row counts and every rate applied. */
  def writeManifest(path: String): Unit = {
    val fields = scale.productElementNames.zip(scale.productIterator)
      .map { case (n, v) => s""""$n": $v""" } ++
      rates.toSeq.sorted.map { case (n, v) => s""""rate.$n": $v""" }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      (s""""seed": $seed""" +: fields.toSeq).mkString("{", ", ", "}\n"))
  }

  // Landing tables are written as the generator partitions them (four
  // files), so the engine's scans can use every core.
  private def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  private def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
}

/** Row counts of one workload's inputs; the per-batch counts are those of
  * every daily batch.
  */
final case class Scale(customers: Long = 0, orders: Long = 0,
    changedCustomersPerBatch: Long = 0, lateCustomersPerBatch: Long = 0,
    newCustomersPerBatch: Long = 0, newOrdersPerBatch: Long = 0,
    updatedOrdersPerBatch: Long = 0, deletedOrdersPerBatch: Long = 0,
    duplicatedOrdersPerBatch: Long = 0, corpusBase: Int = 0) {
  /** Rows one daily batch lands. */
  def batchRows: Long = changedCustomersPerBatch + newCustomersPerBatch +
    lateCustomersPerBatch + newOrdersPerBatch + updatedOrdersPerBatch +
    deletedOrdersPerBatch + duplicatedOrdersPerBatch
}

object Gen {
  /** Every defect, change and duplicate rate the generator applies. */
  val rates: Map[String, Double] = Map(
    "redelivered_keys" -> 0.05,
    "case_ws_noise" -> 0.10,
    "bad_phone" -> 0.02,
    "null_customer_nation" -> 0.005,
    "null_order_customer" -> 0.005,
    "orphan_order_customer" -> 0.005,
    "orphan_line_order" -> 0.003,
    "null_line_quantity" -> 0.003,
    "exact_dup_docs" -> 0.05,
    "near_dup_docs" -> 0.08,
    "near_dup_token_edits" -> 0.03,
    "junk_docs" -> 0.03)

  val OrphanBase = 1000000000L
  val FirstOrderDate = "1992-01-01"
  val OrderDays = 2405L // through 1998-08-02
  val FirstBatchDate = "1998-08-03"
  val VocabSize = 20000

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses = Seq("O", "F", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val ReturnFlags = Seq("R", "A", "N")

  def batchDate(k: Int): String =
    java.time.LocalDate.parse(FirstBatchDate).plusDays(k - 1L).toString

  /** Load time of batch `k`: midnight of its day. */
  def batchTs(k: Int): String = s"${batchDate(k)} 00:00:00"

  /** Effective time of batch `k`'s late dimension changes: 36 hours before
    * its load, i.e. before batch `k - 1`'s changes (and before the initial
    * dimension load, for the first batch).
    */
  def lateTs(k: Int): String =
    java.time.LocalDate.parse(batchDate(k)).atStartOfDay().minusHours(36)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  val InitialDimTs = "1998-08-02 00:00:00"
  val InitialLoadTs = Seq("1998-08-02 00:00:00", "1998-08-02 12:00:00")
}
