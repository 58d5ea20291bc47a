package graftbench

import graft.Tables
import graft.sources.{SeriesStore, TszStore}
import graft.tsdb.Vectors

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

/** Read-only panels from 2 closed-loop clients over a compacted
  * SeriesStore and TszStore built from the seeded events. */
final class Dashboard(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val Clients = 2
  private val series = "bench_series"
  private val tsz = "bench_tsz"
  private var pool: IndexedSeq[Panel] = IndexedSeq.empty
  private var store: Source = _
  private var samples = 0L
  private val results = new ConcurrentLinkedQueue[(Panel, Panels.Result)]()
  /** Each panel's result on the direct path, computed during set-up. */
  private var expected: Map[Panel, Panels.Result] = Map.empty

  def primaryKinds: Set[String] = Panels.Kinds

  def setup(): Unit = {
    val rng = new Random(ctx.seed)
    val sc = ctx.scale
    val lo = Gen.T0
    val hi = Gen.T0 + sc.days * 86400L
    ctx.phase("setup.generate") {
      Gen.writeParquet(Gen.eventsRange(spark, ctx.seed, sc.events, sc.users, lo, hi), ctx.input, "events")
    }
    ctx.phase("setup.load") {
      val s = Vectors.samples(Tables.events(spark, ctx.input))
      val (buckets, gran) = SeriesStore.layoutFor(s)
      SeriesStore.write(s, series, buckets, gran)
      TszStore.write(s, tsz, buckets)
    }
    samples = sc.events.toLong
    store = new StoreSource(spark, series, tsz)
    // one seeded instance of every template; each client round
    // refreshes every panel once, in a seeded order
    pool = Panels.templates.map(_(rng, lo, hi, sc.users)).toIndexedSeq
    // warm-up: every panel once on the stores, checked like an op, and
    // its expected result on the direct path
    val direct = new DirectSource(Tables.events(spark, ctx.input))
    ctx.phase("setup.warmup") {
      val runs = ctx.parallel(pool.flatMap(p => Seq((p, store), (p, direct))))(
        { case (p, src) => (p, src eq store, Panels.run(p, src)) })
      expected = runs.collect { case (p, false, r) => p -> r }.toMap
      for ((p, true, r) <- runs)
        ctx.runCheck(s"warm-up panel ${p.text}")(Panels.same(r, expected(p)))
    }
  }

  def timed(deadlineNs: Long): Unit = {
    val clients = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val rng = new Random(ctx.seed * 31 + c)
        // whole rounds: every panel once per round, so each run's op mix
        // is the same multiset of panels
        while (System.nanoTime() < deadlineNs) {
          for (p <- rng.shuffle(pool)) {
            ctx.timedOp(p.kind, ctx.traceNext(p.text)) {
              val r = Panels.run(p, store)
              val a = Trace.active
              if (a != null) ctx.rowsByOp.put(a.op, r.length.toLong)
              results.add((p, r))
              1L
            }
          }
        }
      }, s"dashboard-client-$c")
      t.start(); t
    }
    clients.foreach(_.join())
  }

  def check(): Unit = {
    val bad = results.asScala.toSeq.filter { case (p, r) => !Panels.same(r, expected(p)) }
    bad.foreach { case (p, _) => println(s"failure panel ${p.text}") }
    ctx.lateFailures.addAndGet(bad.size.toLong)
  }

  def throughput(timedS: Double): Double = ctx.allOps.count(_.ok) / timedS

  def finish(timedS: Double): Unit = {
    val lat = ctx.allOps.map(_.latMs)
    ctx.line("query_p50_ms", Stats.median(lat), "ms")
    Report.tail(ctx, "query", lat)
    ctx.line("queries_per_s", throughput(timedS), "1/s")
    val bytes = Report.tableBytes(spark, series) + Report.tableBytes(spark, tsz)
    ctx.line("bytes_per_sample", bytes.toDouble / samples, "B")
  }
}

object Report {
  /** The tail rule: the tail percentile, printed only when at least 10
    * samples lie beyond it. */
  def tail(ctx: Ctx, what: String, lat: Seq[Double]): Unit = {
    println(s"samples ${what} ${lat.size}")
    if (lat.size >= Stats.TailMinSamples) ctx.line(s"${what}_tail_ms", Stats.pct(lat, Stats.TailPct), "ms")
    else println(s"note ${what}_tail_ms needs ${Stats.TailMinSamples} samples for p${Stats.TailPct.toInt}, have ${lat.size}")
  }

  /** At-rest bytes of a catalog table's location. */
  def tableBytes(spark: org.apache.spark.sql.SparkSession, table: String): Long =
    dirBytes(spark, s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")

  def dirBytes(spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (!name.startsWith(".") && !name.startsWith("_")) n += f.getLen
      }
      n
    }
  }

  /** Data files (not markers or checksums) under a table. */
  def dataFiles(spark: org.apache.spark.sql.SparkSession, table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.startsWith(".") && !name.startsWith("_")) n += 1
    }
    n
  }
}
