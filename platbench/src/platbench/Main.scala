package platbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload: set-up, then a closed loop of ops for the
  * requested seconds, each op checked after it (untimed). With tracing, the
  * first half of the window runs untraced and the second half traced, so
  * the run also reports tracing overhead. Writes `result.json` (and, when
  * traced, `spans.jsonl`) into the output directory.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --out DIR --queries FILE
  */
object Main {
  val SpanNames: Seq[String] = Seq(
    "config.parse", "medallion.bronze.ingest", "medallion.silver.load",
    "operators.upsert.merge_write", "operators.scd2.apply", "medallion.gold.dim_date",
    "medallion.gold.fact", "medallion.gold.write", "medallion.gold.summarize",
    "core.sql.plan", "core.sql.exec", "functions.curate",
    "operators.text_dedup.dedup_corpus", "operators.text_dedup.keep_one")

  /** Layer counters only some workloads produce; the others report 0. */
  val WorkloadCounters: Seq[(String, String)] = Seq(
    "core.sql.exec.files_read" -> "count",
    "core.sql.exec.partitions_pruned_ratio" -> "ratio",
    "operators.text_dedup.dedup_corpus.candidate_pairs" -> "count",
    "operators.text_dedup.dedup_corpus.verified_ratio" -> "ratio",
    "operators.text_dedup.dedup_corpus.max_bucket" -> "count")

  final class Phase {
    val times = mutable.ArrayBuffer[Double]()
    var rows = 0L
    var attempted = 0
    var failed = 0
    var gcS = 0.0
    var leaked = 0L
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = opt("out")

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]").appName(s"platbench-$workload")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      // a load's generated classes outnumber the default 100-entry cache,
      // which then recompiles them on every op
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // bounded job/stage/SQL bookkeeping, so the old generation holds the
      // engine's state rather than a growing status history
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val tr = new Tracer(spark, listener)
    val ctx = new Ctx(spark, tr, seed, out, opt("queries"))
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workload match {
      case "daily_increments" => new DailyIncrements(ctx)
      case "corpus_dedup" => new CorpusDedupWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9

    var heapMb = 0.0
    var i = 0
    def loop(phase: Phase, secs: Double): Unit = {
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      while (System.nanoTime() < deadline || phase.attempted == 0) {
        w.prepare(i)
        val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
        val gc0 = Jvm.gcSeconds
        val t = System.nanoTime()
        val res = scala.util.Try(w.op(i))
        val dt = (System.nanoTime() - t) / 1e9
        phase.gcS += Jvm.gcSeconds - gc0
        phase.attempted += 1
        ctx.pipeline.drainStats()
        val ok = res.isSuccess && scala.util.Try(w.check(i)).fold(e => {
          System.err.println(s"platbench: check of op $i threw: $e"); false
        }, identity)
        res.failed.foreach(e => System.err.println(s"platbench: op $i threw: $e"))
        if (ok) { phase.times += dt; phase.rows += res.get } else phase.failed += 1
        tr.release()
        heapMb = math.max(heapMb, Jvm.oldGenAfterGcMb())
        val leaked = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !rdds0(id) }
        phase.leaked += leaked.size
        leaked.values.foreach(_.unpersist(blocking = true))
        i += 1
      }
    }

    val plain = new Phase
    val traced = new Phase
    loop(plain, if (trace) seconds / 2 else seconds)
    if (trace) {
      tr.enabled = true
      loop(traced, seconds / 2)
      tr.enabled = false
    }
    val finalOk = scala.util.Try(w.finalCheck()).fold(e => {
      System.err.println(s"platbench: final check threw: $e"); false
    }, identity)
    val phases = Seq(plain) ++ (if (trace) Seq(traced) else Nil)
    val attempted = phases.map(_.attempted).sum
    val failed = if (finalOk) phases.map(_.failed).sum else attempted

    val times = plain.times.toSeq
    val (tailPct, tail) = tailPercentile(times)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_s.p50", median(times), "s"),
      ("op_s.tail", tail, "s"),
      ("input_rows_per_s", if (times.isEmpty) 0.0 else plain.rows / times.sum, "rows/s"),
      ("peak_heap_mb", heapMb, "MB"))
    val layers = if (trace) layerMetrics(w, ctx, traced, median(traced.times.toSeq) - median(times))
      else Nil
    if (trace) tr.write(s"$out/spans.jsonl")

    val json = new StringBuilder
    json ++= s"""{"workload": "$workload", "seed": $seed, "attempted": $attempted, "failed": $failed, """
    json ++= s""""ops": ${times.size}, "tail_percentile": $tailPct, """
    json ++= s""""op_times_s": [${times.mkString(", ")}], "session_s": $sessionS, "e2e": {${metricsJson(e2e)}}, "layers": {${metricsJson(layers)}}"""
    w match {
      case d: CorpusDedupWorkload =>
        json ++= s""", "near_dup_recall_min": ${if (d.recalls.isEmpty) 0.0 else d.recalls.min}"""
      case _ =>
    }
    json ++= "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/result.json"), json.toString)
    spark.stop()
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${if (v.isNaN) 0.0 else v}, "unit": "$u"}""" }
      .mkString(", ")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile with at least ten samples above it (never
    * below the median), by nearest rank.
    */
  def tailPercentile(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    if (n == 0) (50, Double.NaN)
    else {
      val p = math.min(99, math.max(50, math.floor(100.0 * (n - 10) / n).toInt))
      val s = xs.sorted
      val v = if (p == 50) median(xs) else s(math.max(0, math.ceil(p / 100.0 * n).toInt - 1))
      (p, v)
    }
  }

  /** Per-op layer metrics of the traced phase: the common counters of every
    * span name (zero for layers this workload does not call), the named
    * layer counters, and tracing overhead.
    */
  private def layerMetrics(w: Workload, ctx: Ctx, traced: Phase,
      overheadS: Double): Seq[(String, Double, String)] = {
    val tr = ctx.tr
    val ops = math.max(1, traced.attempted)
    val byName = tr.spans.groupBy(_.name)
    def perOp(name: String)(f: (Span, Counters) => Double): Double =
      byName.getOrElse(name, Nil).map(s => f(s, tr.counters(s))).sum / ops
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    val common = SpanNames.flatMap { n =>
      Seq(
        (s"$n.wall_s", perOp(n)((s, _) => s.wallS), "s"),
        (s"$n.self_s", perOp(n)((s, _) => s.selfS), "s"),
        (s"$n.jobs", perOp(n)((_, c) => c.jobs.toDouble), "count"),
        (s"$n.task_s", perOp(n)((_, c) => c.taskMs / 1e3), "s"),
        (s"$n.shuffle_write_mb", perOp(n)((_, c) => c.shuffleWriteBytes / 1e6), "MB"),
        (s"$n.spill_mb", perOp(n)((_, c) => c.spillBytes / 1e6), "MB"),
        (s"$n.rows_out", perOp(n)((s, _) => math.max(0L, s.rowsOut).toDouble), "rows"))
    }
    val st = ctx.pipeline.stats
    val named = Seq(
      ("medallion.bronze.ingest.input_mb",
        perOp("medallion.bronze.ingest")((_, c) => c.inputBytes / 1e6), "MB"),
      ("medallion.silver.load.dq_reject_ratio", ratio(st("silver.rejected"), st("silver.in")),
        "ratio"),
      ("medallion.silver.load.dedup_keep_ratio",
        ratio(st("silver.out"), st("silver.in") - st("silver.rejected")), "ratio"),
      ("operators.upsert.merge_write.write_amplification",
        ratio(perOp("operators.upsert.merge_write")((_, c) => c.outputBytes.toDouble) * ops,
          st("merge.batch_input_bytes")), "ratio"),
      ("operators.upsert.merge_write.partitions_rewritten",
        st("merge.partitions_rewritten") / ops, "count"),
      ("operators.scd2.apply.versions_added", st("scd2.versions_added") / ops, "rows"),
      ("operators.scd2.apply.out_of_order_batches", st("scd2.out_of_order_batches"), "count"),
      ("medallion.gold.write.files_written", st("gold.files_written") / ops, "count"),
      ("medallion.gold.write.output_mb",
        perOp("medallion.gold.write")((_, c) => c.outputBytes / 1e6), "MB"),
      ("core.sql.plan.plan_s", perOp("core.sql.plan")((s, _) => s.wallS), "s"))
    val counters = w.layerCounters(ops)
    common ++ named ++ WorkloadCounters.map { case (n, u) => (n, counters.getOrElse(n, 0.0), u) } ++ Seq(
      ("core.leaked_rdds", traced.leaked.toDouble / ops, "count"),
      ("gc_s", traced.gcS / ops, "s"),
      ("trace.overhead_s", overheadS, "s"))
  }
}
