package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SeriesStore
import graft.tsdb.Vectors

/** Plan audits for the partitioned + bucketed storage layout. */
class StoreSpec extends SparkSpec {

  private lazy val table: String = {
    val samples = Vectors.samples(Tables.events(spark, sf))
    SeriesStore.write(samples, "graft_series_store", buckets = 4)
    "graft_series_store"
  }

  test("round-trips the sample frame") {
    val n = Vectors.samples(Tables.events(spark, sf)).count()
    assert(SeriesStore.read(spark, table).count() == n)
  }

  test("dt bounds prune partitions at planning time") {
    val df = SeriesStore.read(spark, table,
      fromDt = Some("2024-01-01"), untilDt = Some("2024-01-08"))
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("dt"), s"expected dt partition filters, plan: $pf")
    // pruned scan reads only the bounded week of files
    val scanned = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("2024-01-20"), "unpruned partition in scan")
  }

  test("adaptive layout: coarse granularity, read floors the lower bound") {
    val samples = Vectors.samples(Tables.events(spark, sf))
    // month-partitioned table: a mid-month fromDt must still read
    // the partition containing it (pruning, not exact row bound)
    SeriesStore.write(samples, "graft_store_month", buckets = 4,
      granularity = "month")
    val full = samples.count()
    val got = SeriesStore.read(spark, "graft_store_month",
      fromDt = Some("2024-01-15")).count()
    val janOn = samples.where(col("ts") >= lit("2024-01-01")).count()
    assert(got == janOn, s"expected the full January partition: $got vs $janOn")
    assert(got <= full)
    // layoutFor: tiny volumes choose few buckets and coarse dt;
    // the spec corpus is far below 50k rows per (day, bucket)
    val (b, g) = SeriesStore.layoutFor(samples)
    assert(b == 8 && g != "day", s"($b, $g)")
  }

  test("hourly consolidation over the bucketed table runs shuffle-free") {
    // the store_scrape shape: grouping on (series keys + derived
    // bucket) — HashPartitioning(name, user_id) satisfies the
    // superset clustering, so no exchange before the aggregate
    val agged = SeriesStore.read(spark, table)
      .groupBy(col("name"), col("user_id"),
        graft.tsdb.Vectors.bucketS("hour").as("bucket_s"))
      .agg(avg("value").as("v"))
    agged.collect()
    val plan = agged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed distribution should satisfy the superset grouping:\n" +
        plan.take(2000))
  }

  test("per-series aggregation on the bucketed table runs shuffle-free") {
    val agged = SeriesStore.read(spark, table)
      .groupBy("name", "user_id")
      .agg(sum("value").as("sum_v"))
    agged.collect()
    val plan = agged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed distribution should satisfy the aggregation:\n" + plan.take(2000))
  }

  test("in-bucket ts sort lets a narrow time range skip most of the file") {
    import spark.implicits._
    // Enough rows for many row groups; shrink the row-group budget so
    // the layout effect is visible at spec scale (prod uses defaults).
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 64 * 1024)
    try {
      val n = 200000L
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      // time is a PERMUTATION of the row id (48271 is coprime to n), so
      // every input split carries the full day — otherwise split order
      // confounds the measurement (file-level stats would prune both
      // layouts identically). Few series → long in-file series runs
      // relative to the shrunken row groups.
      val samples = spark.range(n).select(
        concat(lit("m"), (col("id") % 4).cast("string")).as("name"),
        (col("id") % 4).as("user_id"),
        timestamp_millis(lit(base) + (col("id") * 48271L % n) * (86400000L / n)).as("ts"),
        rand(7).as("value"),
        col("id").as("event_id"))
      def scannedRows(table: String): Long = {
        val lo = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
        val hi = java.sql.Timestamp.valueOf("2024-01-01 11:12:00") // 5 % of the day
        val q = spark.table(table).where(col("ts") >= lit(lo) && col("ts") < lit(hi))
        q.collect()
        q.queryExecution.executedPlan.collectLeaves()
          .map(_.metrics("numOutputRows").value).sum
      }
      SeriesStore.write(samples, "graft_store_tsorted", buckets = 4)
      // the pre-r4 layout: series-sorted only, ts unordered in-file
      spark.sql("DROP TABLE IF EXISTS graft_store_unsorted")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), "graft_store_unsorted")
      val fs = loc.getFileSystem(hconf)
      if (fs.exists(loc)) fs.delete(loc, true)
      samples.withColumn("dt", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("dt")
        .bucketBy(4, "name", "user_id").sortBy("name", "user_id")
        .format("parquet").saveAsTable("graft_store_unsorted")
      val sorted = scannedRows("graft_store_tsorted")
      val unsorted = scannedRows("graft_store_unsorted")
      info(s"5% ts window scanned $sorted/$n rows ts-sorted, $unsorted/$n series-only")
      // 5 % window: the ts-clustered layout skips whole row groups via
      // min/max stats; the series-only sort leaves every row group
      // spanning the full day, so nothing is skipped.
      assert(sorted < n * 35 / 100,
        s"ts-sorted layout read $sorted of $n rows — stats not pruning")
      assert(sorted < unsorted / 2,
        s"expected ts clustering to beat series-only sort: $sorted vs $unsorted")
    } finally {
      if (oldBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", oldBlock)
    }
  }

  test("compaction collapses a fragmented day to one file per bucket") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime
    val day = spark.range(8000L).select(
      concat(lit("m"), (col("id") % 6).cast("string")).as("name"),
      (col("id") % 6).as("user_id"),
      timestamp_millis(lit(base) + (col("id") * 48271L % 8000L) * 10000L).as("ts"),
      rand(11).as("value"),
      col("id").as("event_id"))
    // fragment: 8 writer tasks × 4 buckets → up to 32 files for the day
    SeriesStore.write(day.repartition(8), "graft_store_compact", buckets = 4)
    def dayFiles: Int = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        "graft_store_compact/dt=2024-02-01")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).count(_.getPath.getName.endsWith(".parquet"))
    }
    def rowSet = spark.table("graft_store_compact")
      .select("name", "user_id", "ts", "value", "event_id")
      .collect().map(_.toSeq).toSet
    val before = dayFiles
    val rowsBefore = rowSet
    SeriesStore.compact(spark, "graft_store_compact", buckets = 4)
    val after = dayFiles
    info(s"day files $before → $after")
    assert(before > 4, s"fixture not fragmented: $before files")
    // ≤ one file per bucket (a bucket no series hashes into writes none)
    assert(after <= 4 && after < before,
      s"expected at most one file per bucket, got $after (was $before)")
    assert(rowSet == rowsBefore, "compaction changed the data")
    // bucket metadata survives the rewrite: per-series agg still free
    val agged = spark.table("graft_store_compact")
      .groupBy("name", "user_id").agg(sum("value"))
    agged.collect()
    assert(!agged.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "compacted table lost its bucket distribution")
  }

  test("streaming ingest appends to the layout; compact folds the batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def rows(from: Int, until: Int) = (from until until).map(i =>
      (s"m${i % 4}", (i % 4).toLong,
        new java.sql.Timestamp(base + i * 60000L), i * 1.5, i.toLong))
    val tbl = "graft_store_stream"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stream_store").toString
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double, Long)]
    val q = SeriesStore.streamWrite(
      mem.toDF().toDF("name", "user_id", "ts", "value", "event_id"),
      tbl, ckpt, buckets = 4)
    try {
      // three micro-batches = three flushes into the same day
      mem.addData(rows(0, 300): _*); q.processAllAvailable()
      mem.addData(rows(300, 600): _*); q.processAllAvailable()
      mem.addData(rows(600, 900): _*); q.processAllAvailable()
    } finally q.stop()
    // stream-ingested rows == the one-shot batch write of the same data
    val streamed = SeriesStore.read(spark, tbl)
      .select("name", "user_id", "ts", "value", "event_id")
    val batchDf = rows(0, 900)
      .toDF("name", "user_id", "ts", "value", "event_id")
    assert(streamed.count() == 900)
    assert(streamed.exceptAll(batchDf).isEmpty &&
      batchDf.exceptAll(streamed).isEmpty,
      "stream-ingested table diverged from the batch write")
    // bucket distribution holds across appended batches: per-series
    // agg reads the union of flushes with no exchange
    val agged = SeriesStore.read(spark, tbl)
      .groupBy("name", "user_id").agg(sum("value"))
    agged.collect()
    assert(!agged.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "appended batches broke the bucket distribution")
    // flush-per-batch fragments (≥ one file per batch per bucket hit);
    // compact folds the day back to ≤ one file per bucket
    def dayFiles: Int = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), s"$tbl/dt=2024-03-01")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).count(_.getPath.getName.endsWith(".parquet"))
    }
    val before = dayFiles
    assert(before > 4, s"expected flush-per-batch fragmentation, got $before")
    SeriesStore.compact(spark, tbl, buckets = 4)
    assert(dayFiles <= 4, "compaction did not fold the streamed flushes")
    assert(SeriesStore.read(spark, tbl).count() == 900)
  }

  test("compaction keeps appends committed through another session") {
    // a streaming query's foreachBatch appends through its own
    // session, leaving this session's cached file listing stale: the
    // compaction must overwrite the day from what is committed, not
    // from that listing, or the other session's appends vanish
    val tbl = "graft_store_other_session"
    val base = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime / 1000
    def rows(s: SparkSession, from: Long, until: Long): DataFrame =
      s.range(from, until).select(
        concat(lit("m"), (col("id") % 3).cast("string")).as("name"),
        (col("id") % 3).as("user_id"),
        timestamp_seconds(lit(base) + col("id") * 60).as("ts"),
        (col("id") % 97).cast("double").as("value"),
        col("id").as("event_id"))
    def perSeries(df: DataFrame) = df.groupBy("name", "user_id")
      .agg(count(lit(1)), sum("value")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    SeriesStore.write(rows(spark, 0, 600), tbl, buckets = 4)
    assert(SeriesStore.read(spark, tbl).count() == 600) // lists the day
    SeriesStore.appendBatch(rows(spark.newSession(), 600, 1200), tbl, buckets = 4)
    SeriesStore.compact(spark, tbl, buckets = 4)
    assert(perSeries(SeriesStore.read(spark, tbl)) == perSeries(rows(spark, 0, 1200)),
      "compaction dropped rows appended through another session")
  }

  test("corpus store writes split-partitioned, shard-disjoint ordered files") {
    import graft.pipeline.{Corpus, Dedup}
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.minhashCandidates(Dedup.minhashSignature(docs))
    val man = Corpus.manifest(docs, pairs)
    val order = Corpus.shuffleOrder(docs, seed = 7L)
    val path = "/tmp/graft-warehouse/corpus_store_spec"
    val kept = graft.sources.CorpusStore.write(docs, man, order, path)
    assert(kept == man.where(col("keep") === 1).count())
    val back = graft.sources.CorpusStore.read(spark, path)
      .select(col("shard"), col("position"),
        input_file_name().as("file"), col("split"))
      .collect()
    // split dirs exist (partition column round-trips)
    assert(back.map(_.getAs[String]("split")).toSet.contains("train"))
    // within a split, a shard never straddles two files...
    val shardFiles = back
      .groupBy(r => (r.getAs[String]("split"), r.getAs[Long]("shard")))
      .map { case (_, rs) => rs.map(_.getAs[String]("file")).toSet.size }
    assert(shardFiles.forall(_ == 1), "shard split across files in a split")
    // ...and every file is (shard, position)-sorted on disk
    // (parquet preserves row order per file)
    val sorted = back.groupBy(_.getAs[String]("file")).forall { case (_, rs) =>
      val ks = rs.map(r => (r.getAs[Long]("shard"), r.getAs[Long]("position")))
      ks.sameElements(ks.sortBy(identity))
    }
    assert(sorted, "file rows not in (shard, position) order")
    Dedup.clearShingleCache(); Corpus.clearClusterCache()
  }

  test("z-order store: box fetch parity and 2-D partition pruning") {
    import graft.sources.ZOrderStore
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val layout = ZOrderStore.layoutFor(ev)
    ZOrderStore.write(ev, "graft_zstore_spec", layout)
    val l = ZOrderStore.layoutOf(spark, "graft_zstore_spec")
    assert(l == layout, "layout round-trip through table properties")
    val dFrom = l.minDay + l.daySpan * 3 / 10
    val dUntil = math.max(dFrom + 1, l.minDay + l.daySpan * 7 / 10)
    val uFrom = l.minUser + l.userSpan * 2 / 10
    val uUntil = math.max(uFrom + 1, l.minUser + l.userSpan * 8 / 10)
    val boxed = ZOrderStore.fetchBox(spark, "graft_zstore_spec",
      dFrom, dUntil, uFrom, uUntil)
    // byte-parity with the direct filtered scan
    val direct = ev.where(
      ZOrderStore.epochDay(col("ts")) >= dFrom &&
        ZOrderStore.epochDay(col("ts")) < dUntil &&
        col("user_id") >= uFrom && col("user_id") < uUntil)
    val a = boxed.drop("zcell").collect().map(_.toSeq).toSet
    val b = direct.collect().map(_.toSeq).toSet
    assert(a == b, s"parity: store ${a.size} vs direct ${b.size}")
    // the scan prunes on zcell at planning time...
    val plan = boxed.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("zcell"), s"expected zcell partition filters: $pf")
    // ...reading strictly fewer files than the table holds — a box
    // bounded in BOTH dimensions cannot need the full grid
    val all = spark.table("graft_zstore_spec").inputFiles.length
    val read = boxed.inputFiles.length
    assert(read < all, s"no pruning: $read of $all files")
    // out-of-extent box bounds clamp into the grid: a dayFrom far
    // below minDay must not enumerate negative cells or explode the
    // z-id list, and parity still holds
    assert(l.dayCell(l.minDay - 1000000L) == 0 &&
      l.userCell(l.minUser - 1000000L) == 0, "below-extent cells clamp to 0")
    val wide = ZOrderStore.fetchBox(spark, "graft_zstore_spec",
      l.minDay - 1000000L, dUntil, l.minUser - 1000000L, uUntil)
    val directWide = ev.where(
      ZOrderStore.epochDay(col("ts")) < dUntil && col("user_id") < uUntil)
    assert(wide.drop("zcell").collect().map(_.toSeq).toSet ==
      directWide.collect().map(_.toSeq).toSet, "below-extent box parity")
  }

  test("self-join on the series key runs shuffle-free") {
    val l = SeriesStore.read(spark, table).groupBy("name", "user_id")
      .agg(max("value").as("mx"))
    val r = SeriesStore.read(spark, table).groupBy("name", "user_id")
      .agg(min("value").as("mn"))
    val joined = l.join(r, Seq("name", "user_id"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed join should not shuffle:\n" + plan.take(2000))
  }
}
