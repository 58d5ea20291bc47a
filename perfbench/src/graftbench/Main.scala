package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.openmbean.CompositeData

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One completed (or failed) op: a panel query, a write batch or a
  * curate job. `units` is the work it carried (1 panel, n samples,
  * n documents). */
final case class OpRec(kind: String, latNs: Long, ok: Boolean, traced: Boolean,
                       units: Long) {
  def latMs: Double = latNs / 1e6
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val traced: Boolean,
                val scale: Scale, val work: String, val cores: Int) {
  val input: String = s"$work/input"
  val ops = new ConcurrentLinkedQueue[OpRec]()
  /** Ops whose output failed a check made after the op completed. */
  val lateFailures = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Whole-run output checks (store contents, rollup tier): each counts
    * as one attempted op, and as a failed one when it does not hold. */
  val runChecks = new java.util.concurrent.atomic.AtomicLong(0L)
  val runCheckFailures = new java.util.concurrent.atomic.AtomicLong(0L)
  def runCheck(what: String)(ok: Boolean): Unit = {
    runChecks.incrementAndGet()
    if (!ok) { runCheckFailures.incrementAndGet(); println(s"failure check: $what") }
  }
  private val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val perLayer = mutable.LinkedHashMap.empty[String, Double]
  private val opCounters = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  /** Result rows per traced op id (panel ops), for scan efficiency. */
  val rowsByOp = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  /** Traced runs trace every other op of each stream of ops (`key`);
    * the untraced half measures the tracing overhead. */
  def traceNext(key: String): Boolean =
    traced && opCounters.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong())
      .getAndIncrement() % 2 == 0

  /** Run `body` as one timed op and record it with the units of work it
    * returns; a throw counts as a failed op. */
  def timedOp(kind: String, traced: Boolean)(body: => Long): Unit = {
    val t0 = System.nanoTime()
    val units =
      try Some(Trace.op(kind, traced)(body))
      catch {
        case e: Throwable =>
          println(s"failure op $kind: $e")
          None
      }
    ops.add(OpRec(kind, System.nanoTime() - t0, units.isDefined, traced, units.getOrElse(0L)))
  }

  def allOps: Seq[OpRec] = ops.asScala.toSeq

  /** Run an untimed phase and print its wall time. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally println(f"phase $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** Run independent untimed tasks on a few threads (Spark jobs of
    * small panels leave most cores idle when run one at a time). */
  def parallel[A, B](xs: Seq[A], threads: Int = 4)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      fs.map(_.get())
    } finally pool.shutdown()
  }

  /** A human-readable metric line (the per-workload names of metrics.json). */
  def line(name: String, value: Double, unit: String): Unit = report(name) = (value, unit)
  def layer(name: String, value: Double): Unit = perLayer(name) = value
  def reportLines: Seq[(String, (Double, String))] = report.toSeq
  def layerValues: Map[String, Double] = perLayer.toMap
}

/** A workload: seeded set-up, a closed-loop timed phase, and output
  * checks. */
trait Workload {
  /** Generate inputs and build the stores; warm up. */
  def setup(): Unit
  /** Closed-loop timed phase until `deadlineNs`. */
  def timed(deadlineNs: Long): Unit
  /** Untimed output checks; failures go to `ctx.lateFailures`. */
  def check(): Unit
  /** Primary op kinds, the e2e `op_p50_ms` source. */
  def primaryKinds: Set[String]
  /** Units of work per timed second, the e2e `throughput_per_s`. */
  def throughput(timedS: Double): Double
  /** Workload-specific report lines and per-layer metrics. */
  def finish(timedS: Double): Unit
}

object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    // nearest rank
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
  /** The tail percentile reported by every workload (see metrics.json). */
  val TailPct = 90.0
  /** Samples needed so that ≥ 10 lie beyond the tail percentile. */
  val TailMinSamples: Int = math.ceil(10.0 / (1.0 - TailPct / 100.0)).toInt + 1
}

object Main {
  private def procStat(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("").trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal ...
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  private def vmHwmMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(Double.NaN)
    } catch { case _: Throwable => Double.NaN }

  /** The largest heap occupancy right after a collection: what the run
    * retains at its peak, apart from the heap's fixed size. */
  private object HeapAfterGc {
    @volatile var peakBytes = 0L
    def install(): Unit = {
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val onGc: javax.management.NotificationListener = (n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peakBytes = math.max(peakBytes, used) }
        }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter => e.addNotificationListener(onGc, null, null)
        case _ =>
      }
    }
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val scale = if (opts.getOrElse("scale", "full") == "smoke") Scale.smoke else Scale.full
    val work = opts.getOrElse("work", sys.error("--work required"))
    val cores = Runtime.getRuntime.availableProcessors()
    if (traced) HeapAfterGc.install()

    val spark = graft.Sessions.builder(cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    graft.Sessions.tune(spark, "ERROR")
    Trace.sc = spark.sparkContext
    val listener = new Trace.Listener
    if (traced) spark.sparkContext.addSparkListener(listener)

    val ctx = new Ctx(spark, seed, traced, scale, work, cores)
    val w: Workload = workload match {
      case "dashboard" => new Dashboard(ctx)
      case "ingest" => new IngestWorkload(ctx)
      case "curate" => new Curate(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    w.setup()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val (steal0, jiff0) = procStat()
    val cpu0 = processCpuNs()
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    w.timed(t0 + (seconds * 1e9).toLong)
    val timedS = (System.nanoTime() - t0) / 1e9
    val cpuMs = (processCpuNs() - cpu0) / 1e6
    val cpuPerOp = cpuMs / math.max(1, ctx.ops.size)
    val gcDelta = gcMs() - gc0
    val (steal1, jiff1) = procStat()
    w.check()

    val ops = ctx.allOps
    val attempted = ops.size.toLong + ctx.runChecks.get()
    val failed = ops.count(!_.ok).toLong + ctx.lateFailures.get() + ctx.runCheckFailures.get()
    val primary = ops.filter(o => w.primaryKinds.contains(o.kind))
    val stealPct = if (jiff1 > jiff0) 100.0 * (steal1 - steal0) / (jiff1 - jiff0) else 0.0
    w.finish(timedS)
    val rss = vmHwmMb()
    ctx.layer("jvm.peak_heap_after_gc_mb", HeapAfterGc.peakBytes / (1024.0 * 1024.0))

    // human-readable report: the per-workload metric names of metrics.json
    println(f"host_steal_pct $stealPct%.3f %%")
    if (stealPct > 5.0) println("noise_guard CONTAMINATED: host CPU steal above 5% during the timed phase")
    ctx.line("setup_s", setupS, "s")
    ctx.line("cpu_ms_per_op", cpuPerOp, "ms")
    ctx.line("peak_rss_mb", rss, "MB")
    ctx.line("failed_ratio", failed.toDouble / math.max(1L, attempted), "1")
    for ((n, (v, u)) <- ctx.reportLines) println(s"metric $n ${num(v)} $u")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", Stats.median(primary.map(_.latMs)), "ms"),
        ("throughput_per_s", w.throughput(timedS), "1/s"),
        ("cpu_ms_per_op", cpuPerOp, "ms"))
      else
        Reducer.reduce(ctx, listener, Trace.allSpans, gcDelta)
    val correct = failed == 0L && attempted > 0L
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }
}
