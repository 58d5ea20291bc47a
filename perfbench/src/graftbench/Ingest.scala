package graftbench

import graft.sources.{PromWrite, SeriesStore, TszStore}
import graft.tsdb.Downsample

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One remote-write label. */
final case class Label(name: String, value: String)
/** One remote-write request row (a flattened prompb sample). */
final case class WriteRow(labels: Seq[Label], ts: Timestamp, value: Double)

/** A writer and a reader taking turns on live stores. The writer renders
  * the seeded event stream as remote-write batches of one event-time
  * hour each and feeds them through a MemoryStream; the streaming
  * query's foreachBatch parses them (PromWrite), routes them
  * (writeBatch) and appends the unaggregated frame to a TszStore and a
  * SeriesStore and the downsampled frame to a rollup tier. After each
  * batch the reader runs its panels over the committed part of the
  * stream, on stores fragmented by the appends; every second batch the
  * writer compacts both stores. Taking turns instead of
  * running concurrently keeps each run's mix of reads, appends and
  * compactions fixed, which keeps the figures steady on a small host. */
final class IngestWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val smoke = ctx.scale.name == Scale.smoke.name
  private val series = "ingest_series"
  private val tsz = "ingest_tsz"
  private val rollupDir = s"${ctx.work}/rollup"
  private val batchSize = if (smoke) 100 else 5000
  private val baseSize = if (smoke) 500 else 20000
  private val CompactEvery = 2
  private val H = 3600L
  private val D = 86400L
  /** Event-time start of the streamed batches (the base covers 3 days). */
  private val streamStart = Gen.T0 + 3 * D
  private val rule = Downsample.Rule("bench_hourly", Nil, "hour", Seq("sum", "count", "min", "max"))

  private val committed = ArrayBuffer.empty[Gen.Sample]
  /** Event time below which every sample is committed. */
  private var watermark = streamStart
  private var batches = 0
  private val batchSpan = new AtomicReference[Span](null)
  private var mem: MemoryStream[WriteRow] = _
  private var query: StreamingQuery = _
  private val reads = new ConcurrentLinkedQueue[(Panel, Long, Panels.Result)]()
  private val compactRewrites = new java.util.concurrent.atomic.AtomicLong(0L)
  private val filesAtRead = new ConcurrentLinkedQueue[java.lang.Long]()

  /** The reader's panels, read between batches on fragmented stores:
    * their latency is the workload's op latency; write cost shows in the
    * throughput. */
  def primaryKinds: Set[String] = Panels.Kinds

  /** The samples of batch `b`: event-time hour b of the stream. */
  private def batchSamples(b: Int): Array[Gen.Sample] =
    Gen.samples(new Random(ctx.seed * 1000003L + b), batchSize, ctx.scale.users,
      streamStart + b * H, streamStart + (b + 1) * H)

  /** Samples as remote-write rows in shuffled label order, with
    * |xs|/20 random swaps (about 10 % of rows out of time order). */
  private def rows(xs: Array[Gen.Sample], rng: Random): Seq[WriteRow] = {
    val rs = xs.map(s => WriteRow(
      rng.shuffle(Seq(Label("__name__", s.nameStr), Label("user_id", s.user.toString))),
      new Timestamp(s.tsS * 1000L), s.value))
    for (_ <- 0 until rs.length / 20) {
      val i = rng.nextInt(rs.length); val j = rng.nextInt(rs.length)
      val t = rs(i); rs(i) = rs(j); rs(j) = t
    }
    rs.toSeq
  }

  /** The foreachBatch body: parse, route, append to both stores and
    * the rollup tier. */
  private def writeBatch(req: DataFrame): Unit = {
    val parent = batchSpan.get()
    val samples = Trace.spanUnder(parent, "sources", "promwrite_parse") {
      val s = PromWrite.toSampleFrame(PromWrite.parse(req), Seq("user_id"), "avg", "second")
        .select(col("name"), col("user_id").cast("long").as("user_id"),
          timestamp_seconds(col("bucket_s")).as("ts"), col("value"), lit(0L).as("event_id"))
        .persist()
      s.count()
      s
    }
    try {
      val routed = Trace.spanUnder(parent, "sources", "write_batch") {
        PromWrite.writeBatch(samples, PromWrite.WriteOptions(), Seq(rule))
      }
      val unagg = routed.unaggregated.drop("policy")
      Trace.spanUnder(parent, "sources", "tsz_append")(TszStore.appendBatch(unagg, tsz))
      Trace.spanUnder(parent, "sources", "series_append")(SeriesStore.appendBatch(unagg, series))
      Trace.spanUnder(parent, "tsdb", "rollup_append") {
        routed.downsampled.write.mode("append").parquet(rollupDir)
      }
    } finally samples.unpersist()
  }

  /** The streaming query appends through its own session, whose table
    * cache is not this session's: refresh before reading or compacting,
    * or a stale file listing hides (or, compacted, drops) new files. */
  private def refresh(): Unit = Trace.span("sources", "refresh") {
    spark.catalog.refreshTable(tsz)
    spark.catalog.refreshTable(series)
  }

  /** Compact both stores. */
  private def compact(record: Boolean): Unit = {
    val body = () => {
      refresh()
      Trace.span("sources", "tsz_compact")(TszStore.compact(spark, tsz))
      Trace.span("sources", "series_compact")(SeriesStore.compact(spark, series))
      0L
    }
    if (record) ctx.timedOp("compact", ctx.traceNext("compact"))(body()) else body()
    if (ctx.traced && record)
      compactRewrites.addAndGet(Report.tableBytes(spark, tsz) + Report.tableBytes(spark, series))
  }

  private def storeSource(wm: Long) = new StoreSource(spark, series, tsz, wm)

  /** Reader panels: one dashboard template per front-end and store
    * path (PromQL wide and narrow, Graphite, M3QL, TszStore fetch, label
    * completion) over windows ending at the watermark; one instance per
    * (template, watermark). */
  private val readerTemplates = Seq(0, 1, 4, 7, 9, 10).map(Panels.templates)
  private def readerPanel(t: Int, wm: Long): Panel =
    readerTemplates(t)(new Random(ctx.seed * 7919L + t * 104729L + wm),
      math.max(Gen.T0, wm - 3 * D), wm, ctx.scale.users)

  def setup(): Unit = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    ctx.phase("setup.load") {
      val base = Gen.samples(new Random(ctx.seed), baseSize, ctx.scale.users, Gen.T0, streamStart)
      writeBatch(spark.createDataset(rows(base, new Random(ctx.seed + 1))).toDF())
      committed ++= base
    }
    mem = MemoryStream[WriteRow]
    query = mem.toDF().writeStream
      .option("checkpointLocation", s"${ctx.work}/checkpoints/ingest")
      .foreachBatch((df: DataFrame, _: Long) => writeBatch(df))
      .start()
    ctx.phase("setup.warmup") {
      writeOne(traced = false, record = false)
      compact(record = false)
      readerTemplates.indices.foreach(t => readOne(t, traced = false, record = false))
    }
  }

  /** Render and commit the next batch; its latency runs from rendering
    * until both stores and the rollup tier hold it. */
  private def writeOne(traced: Boolean, record: Boolean): Unit = {
    val b = batches
    val xs = batchSamples(b)
    val rs = rows(xs, new Random(ctx.seed * 31L + b))
    val body = () => {
      Trace.span("streaming", "batch") {
        batchSpan.set(Trace.active)
        try { mem.addData(rs); query.processAllAvailable() }
        finally batchSpan.set(null)
      }
      xs.length.toLong
    }
    if (record) ctx.timedOp("write", traced)(body())
    else body()
    committed ++= xs
    batches = b + 1
    watermark = streamStart + (b + 1) * H
  }

  private def readOne(t: Int, traced: Boolean, record: Boolean): Unit = {
    val wm = watermark
    val p = readerPanel(t, wm)
    if (traced) filesAtRead.add(Report.dataFiles(spark, series))
    val run = () => {
      refresh()
      val r = Panels.run(p, storeSource(wm))
      val a = Trace.active
      if (a != null) ctx.rowsByOp.put(a.op, r.length.toLong)
      reads.add((p, wm, r))
      1L
    }
    if (record) ctx.timedOp(p.kind, traced)(run()) else run()
  }

  def timed(deadlineNs: Long): Unit = {
    val rng = new Random(ctx.seed * 17L)
    var writeNs = 0L
    def writing(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; writeNs += System.nanoTime() - t0
    }
    // whole rounds: CompactEvery batches, each followed by every panel
    // twice (a refresh) in a seeded order, then one compaction
    while (System.nanoTime() < deadlineNs) {
      for (_ <- 0 until CompactEvery) {
        writing(writeOne(ctx.traceNext("write"), record = true))
        rng.shuffle(readerTemplates.indices.toList ++ readerTemplates.indices)
          .foreach(t => readOne(t, ctx.traceNext(s"read$t"), record = true))
      }
      writing(compact(record = true))
    }
    writerS = writeNs / 1e9
    query.stop()
  }

  private var writerS = 0.0
  private def streamed: Long = ctx.allOps.filter(_.kind == "write").map(_.units).sum

  def throughput(timedS: Double): Double = streamed / writerS

  def check(): Unit = {
    // every round ends with a compaction, so the stores are compacted here
    refresh()
    import spark.implicits._
    val xs = committed.toSeq
    val events = Gen.eventsFrame(spark, xs).cache()
    val cents = round(col("value") * 100).cast("long")
    def census(df: DataFrame): Map[(String, Long), (Long, Long)] =
      df.groupBy("name", "user_id").agg(count(lit(1)), sum(cents)).as[(String, Long, Long, Long)]
        .collect().map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val want = xs.groupBy(s => (s.nameStr, s.user)).map { case (k, ss) => k -> (ss.size.toLong, ss.map(_.cents).sum) }
    ctx.phase("check.stores") {
      def diff(got: Map[(String, Long), (Long, Long)]): String = {
        val keys = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
        s"${keys.size} series differ, e.g. " + keys.take(3).map(k => s"$k got ${got.get(k)} want ${want.get(k)}").mkString("; ")
      }
      val tszC = census(TszStore.readDecoded(spark, tsz))
      ctx.runCheck(s"TszStore census: ${diff(tszC)}")(tszC == want)
      val seriesC = census(SeriesStore.read(spark, series))
      ctx.runCheck(s"SeriesStore census: ${diff(seriesC)}")(seriesC == want)
      val direct = Downsample.rollup(graft.tsdb.Vectors.samples(events), "hour")
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("sum_v") * 100).cast("long"), col("count_v").cast("double"), col("min_v"), col("max_v"))
        .as[(String, Long, Long, Long, Double, Double, Double)].collect()
        .map(r => (r._1, r._2, r._3) -> Seq(r._4.toDouble, r._5, r._6, r._7)).toMap
      val tier = spark.read.parquet(rollupDir)
        .groupBy("name", "user_id", "bucket_s").pivot("agg", Seq("sum", "count", "min", "max"))
        .agg(first("value"))
        .select(col("name"), col("user_id"), col("bucket_s"), round(col("sum") * 100).cast("double"),
          col("count"), col("min"), col("max"))
        .as[(String, Long, Long, Double, Double, Double, Double)].collect()
        .map(r => (r._1, r._2, r._3) -> Seq(r._4, r._5, r._6, r._7)).toMap
      ctx.runCheck("rollup tier equals Downsample.rollup")(tier == direct)
    }
    ctx.phase("check.reads") {
      // the first reads are the warm-up's, not ops
      val timedReads = reads.asScala.toSeq.drop(readerTemplates.size)
      val distinct = timedReads.map { case (p, wm, _) => (p.text, wm) -> p }.toMap
      val expected = ctx.parallel(distinct.toSeq) { case (k, p) =>
        k -> Panels.run(p, new DirectSource(events, k._2))
      }.toMap
      val bad = timedReads.filter { case (p, wm, r) => !Panels.same(r, expected((p.text, wm))) }
      bad.foreach { case (p, wm, _) => println(s"failure read ${p.text} at $wm") }
      ctx.lateFailures.addAndGet(bad.size.toLong)
    }
    events.unpersist()
  }

  def finish(timedS: Double): Unit = {
    val ops = ctx.allOps
    val w = ops.filter(_.kind == "write").map(_.latMs)
    val q = ops.filter(_.kind.startsWith("panel.")).map(_.latMs)
    ctx.line("write_p50_ms", Stats.median(w), "ms")
    Report.tail(ctx, "write", w)
    ctx.line("query_p50_ms", Stats.median(q), "ms")
    Report.tail(ctx, "query", q)
    ctx.line("ingest_samples_per_s", throughput(timedS), "1/s")
    val n = committed.size.toDouble
    val tszB = Report.tableBytes(spark, tsz)
    val seriesB = Report.tableBytes(spark, series)
    ctx.line("bytes_per_sample", (tszB + seriesB + Report.dirBytes(spark, rollupDir)) / n, "B")
    ctx.layer("sources.tsz_bytes_per_sample", tszB / n)
    ctx.layer("sources.series_bytes_per_sample", seriesB / n)
    if (streamed > 0) ctx.layer("sources.compaction_bytes_per_sample", compactRewrites.get().toDouble / streamed)
    val f = filesAtRead.asScala.map(_.toDouble).toSeq
    if (f.nonEmpty) ctx.layer("sources.files_at_read", f.sum / f.size)
  }
}
