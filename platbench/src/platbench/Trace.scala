package platbench

import java.lang.management.{GarbageCollectorMXBean, ManagementFactory, MemoryPoolMXBean}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PlatbenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Task counters of every job that ran under one job group. */
final class Counters {
  var jobs = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
}

/** Attributes Spark jobs to the job group that was set on the driver thread
  * when they were submitted, and sums their task metrics per group. Jobs
  * submitted with no group land under "-".
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()

  private def of(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    val c = of(g)
    c.synchronized(c.jobs += 1)
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageGroup.getOrDefault(e.stageId, "-"))
      c.synchronized {
        c.taskMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Counters of `group`, after every event posted so far was delivered. */
  def counters(sc: org.apache.spark.SparkContext, group: String): Counters = {
    PlatbenchAccess.drainListenerBus(sc)
    byGroup.getOrDefault(group, new Counters)
  }
}

/** One traced layer call. `childNs` is the time covered by nested spans
  * (children run sequentially on the driver thread, so their durations
  * never overlap).
  */
final class Span(val id: String, val name: String, val t0: Long) {
  var t1 = 0L
  var childNs = 0L
  var rowsOut = -1L
  def wallS: Double = (t1 - t0) / 1e9
  def selfS: Double = (t1 - t0 - childNs) / 1e9
}

/** Outside-in spans around the benchmark's calls into the engine. Disabled,
  * a span is just the call. Enabled, it tags the call's Spark jobs with a
  * job group, times it, and materializes a lazily returned frame inside the
  * span (persist + count), so that the layer's work is charged to it and
  * not to whichever later action first touches the frame. Spans stay in
  * memory until [[write]].
  */
final class Tracer(spark: SparkSession, val listener: GroupListener) {
  var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var seq = 0L
  private val held = mutable.ArrayBuffer[DataFrame]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      seq += 1
      val s = new Span(s"pb-span-$seq", name, System.nanoTime())
      val sc = spark.sparkContext
      stack = s :: stack
      sc.setJobGroup(s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) =>
            p.childNs += s.t1 - s.t0
            sc.setJobGroup(p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += s
      }
    }

  /** A layer call that returns a lazy frame. */
  def frame(name: String)(body: => DataFrame): DataFrame =
    if (!enabled) body
    else span(name) {
      val d = body.persist(StorageLevel.MEMORY_AND_DISK)
      stack.head.rowsOut = d.count()
      held += d
      d
    }

  /** Rows a committing span produced. */
  def rows(n: => Long): Unit = if (enabled) stack.head.rowsOut = n

  /** Runs `write` and records the rows it wrote as the span's output. */
  def rowsWritten(write: => Unit): Unit =
    if (!enabled) write
    else {
      val before = counters(stack.head).outputRecords
      write
      stack.head.rowsOut = counters(stack.head).outputRecords - before
    }

  /** Drops the frames materialized by [[frame]] (called between ops). */
  def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }

  def counters(s: Span): Counters = listener.counters(spark.sparkContext, s.id)

  /** Writes every span, one JSON object per line. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = counters(s)
      w.println(f"""{"span":"${s.id}","name":"${s.name}","wall_s":${s.wallS}%.6f,""" +
        f""""self_s":${s.selfS}%.6f,"jobs":${c.jobs},"task_s":${c.taskMs / 1e3}%.3f,""" +
        f""""shuffle_write_mb":${c.shuffleWriteBytes / 1e6}%.6f,"spill_mb":${c.spillBytes / 1e6}%.6f,""" +
        s""""rows_out":${s.rowsOut}}""")
    }
    finally w.close()
  }
}

/** JVM-side memory and GC probes. */
object Jvm {
  private def gcs: Seq[GarbageCollectorMXBean] =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private lazy val oldGen: MemoryPoolMXBean =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .getOrElse(sys.error("no old-generation memory pool"))

  /** Accumulated GC time of every collector, in seconds. */
  def gcSeconds: Double = gcs.map(_.getCollectionTime).sum / 1e3

  /** Forces full collections and returns old-generation occupancy after
    * the last, from the pool's collection usage, in MB. Spark frees
    * broadcast and shuffle blocks of collected objects asynchronously after
    * a GC, so a second collection follows a pause for that cleanup.
    */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    oldGen.getCollectionUsage.getUsed / 1e6
  }
}
