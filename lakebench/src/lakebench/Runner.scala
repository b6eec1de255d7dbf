package lakebench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Thrown by an op whose output disagrees with the expected output. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/** Per-op context: the op's timed catalog calls and its counters. */
final class OpCtx {
  /** (call, start epoch ms, end epoch ms, duration ns) */
  val catalogSpans = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def count(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v
  def mismatch(msg: String): Unit = throw new Mismatch(msg)
  /** A timed call into the catalog's public entry points. */
  def catalog[T](name: String)(body: => T): T = {
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally catalogSpans += ((name, s, System.currentTimeMillis(), System.nanoTime() - t0))
  }
}

/** The closed-loop client: runs ops one after another, times them, and
  * keeps the timed phase's clock, which stops during untimed checks. */
final class Runner(spark: SparkSession, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Epoch ms of the first timed op. */
  var firstTimedMs: Long = -1L
  private var nextId = 0
  private var phaseStart = -1L
  private var pausedNs = 0L
  private var pauseDepth = 0
  private var heapPeak = 0L
  val cachedRddsPeak = new java.util.concurrent.atomic.AtomicLong
  val cachedBytesPeak = new java.util.concurrent.atomic.AtomicLong

  /** Seconds of timed phase so far: wall time since the first timed op
    * minus the untimed checks. */
  def phaseSeconds: Double =
    if (phaseStart < 0) 0.0 else (System.nanoTime() - phaseStart - pausedNs) / 1e9

  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    pauseDepth += 1
    try body finally {
      pauseDepth -= 1
      if (pauseDepth == 0 && phaseStart >= 0) pausedNs += System.nanoTime() - t0
    }
  }

  /** Timed-phase clock and op count at each cycle or pass end. */
  val rounds = mutable.ArrayBuffer.empty[(Double, Int)]
  def roundEnd(): Unit = rounds += ((phaseSeconds, ops.size))

  /** Untimed output checks made, and how many failed. */
  var checks = 0
  var checksFailed = 0
  def check(failure: Option[String]): Unit = {
    checks += 1
    failure.foreach { msg => checksFailed += 1; failures += msg }
  }

  /** Runs one op. Untimed ops (set-up and warm-up) run the same code but
    * are not recorded. An exception or a mismatch fails the op. */
  def op(kind: String, name: String, timed: Boolean = true)(body: OpCtx => Unit): Unit = {
    val id = nextId
    nextId += 1
    val traced = timed && tracer.on
    val ctx = new OpCtx
    if (timed && phaseStart < 0) {
      phaseStart = System.nanoTime()
      firstTimedMs = System.currentTimeMillis()
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err =
      try {
        if (traced) tracer.withGroup(id)(body(ctx)) else body(ctx)
        None
      } catch { case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[Mismatch] =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val lat = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    if (timed) {
      ops += OpRecord(id, kind, name, startMs, endMs, lat, err.isEmpty,
        traced, ctx.catalogSpans.toSeq, ctx.counters.toMap)
      if (traced) untimed(sampleStorage())
    }
    err.foreach(e => if (timed) failures += s"$name: $e" else throw new IllegalStateException(
      s"set-up op $name failed: $e"))
  }

  /** Cached-RDD gauges for the Materialize pins an op left behind. */
  private def sampleStorage(): Unit = {
    val info = spark.sparkContext.getRDDStorageInfo
    cachedRddsPeak.accumulateAndGet(info.count(_.numCachedPartitions > 0), math.max)
    cachedBytesPeak.accumulateAndGet(info.map(i => i.memSize + i.diskSize).sum, math.max)
  }

  /** Frees the pins a query left, outside the timed window (as the
    * repo's own bench does between samples). */
  def releasePins(): Unit = untimed {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** GC time and count the checkpoints' own full GCs took. */
  private var checkpointGc = (0L, 0L)

  /** GC and JIT totals so far, without the checkpoints' full GCs. */
  def jvmTimes: JvmTimes = {
    val (ms, n) = Host.gc
    JvmTimes(ms - checkpointGc._1, n - checkpointGc._2, Host.jitMs)
  }

  /** Whether [[heapCheckpoint]] samples the heap: only traced runs
    * report it, and untraced runs skip the checkpoints' wall time. */
  var heapChecks = true

  /** Untimed: full GC, a pause for Spark's ContextCleaner to drop what
    * the first GC made unreachable, a second full GC, then the live
    * heap; the peak is reported. */
  def heapCheckpoint(): Unit = if (heapChecks) untimed {
    val g0 = Host.gc
    System.gc()
    Thread.sleep(200)
    System.gc()
    val g1 = Host.gc
    checkpointGc = (checkpointGc._1 + g1._1 - g0._1, checkpointGc._2 + g1._2 - g0._2)
    heapPeak = heapPeak max ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  def heapPeakMb: Double = heapPeak / (1024.0 * 1024.0)
}

final case class JvmTimes(gcMs: Long, gcCount: Long, jitMs: Long) {
  def -(o: JvmTimes): JvmTimes = JvmTimes(gcMs - o.gcMs, gcCount - o.gcCount, jitMs - o.jitMs)
}

/** JVM and host gauges sampled around a phase. */
object Host {
  def gc: (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum, bs.map(_.getCollectionCount).sum)
  }
  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def load1: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => 0.0 }
  /** (steal, total) jiffies from the aggregate cpu line. */
  def cpuJiffies: (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 1L) }
}
