package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Tsz, TszStore}
import graft.tsdb.Temporal

class TszSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("codec round-trips adversarial blocks exactly") {
    // repeats, sign flips, mult upgrades (int → 1dp → 2dp), a large
    // jump, sig-tracker collapse run, irregular microsecond cadence
    val pts = Array(
      (1700000000000000L, 5.0),
      (1700000000000001L, 5.0),       // dod kicks to 7-bit bucket
      (1700000001500000L, -5.0),      // sign flip, big micros dod
      (1700000002000000L, 81.1),      // mult 0 → 1
      (1700000002000500L, 19.17),     // mult 1 → 2
      (1700000002001000L, 19.18),
      (1700000002001500L, 19.19),
      (1700000002002000L, 19.20),
      (1700000002002500L, 19.21),
      (1700000002003000L, 19.22),     // 5th small diff → sig collapse
      (1700000002003500L, 98765.43),  // large jump grows sig again
      (1700000002004000L, 98765.43),  // repeat at high mult
      (1700000002004500L, 0.0))
    val (bytes, tsBits, valBits) = Tsz.encodeBlock(pts)
    assert(tsBits > 0 && valBits > 0)
    assert(bytes.length.toLong * 8 >= tsBits + valBits)
    val back = Tsz.decodeBlock(bytes, pts.length)
    assert(back.toSeq == pts.toSeq, "round trip must be exact")
    // compression should beat raw (64+64 bits per point) on this block
    assert(tsBits + valBits < pts.length * 128L)
  }

  test("float-XOR fallback round-trips adversarial values bit-exactly") {
    // int→float→int mode flips mid-block, XOR repeats, ±Inf, a
    // NaN payload, a subnormal, the 1e13 maxOptInt cap boundary, a
    // 7-decimal value no multiplier ≤ 6 can convert
    val nanPayload = java.lang.Double.longBitsToDouble(0x7ff800000000beefL)
    val pts = Array[(Long, Double)](
      (1700000000000000L, 5.0),             // int mode start
      (1700000000000700L, 5.25),            // mult upgrade inside int mode
      (1700000000001400L, math.Pi),         // int → float transition
      (1700000000002100L, math.Pi),         // float repeat (bit-equal)
      (1700000000002800L, math.E),          // XOR uncontained write
      (1700000000003500L, math.E + 1e-9),   // XOR after XOR
      (1700000000004200L, Double.PositiveInfinity),
      (1700000000004900L, Double.NegativeInfinity),
      (1700000000005600L, nanPayload),      // NaN carries its payload
      (1700000000006300L, nanPayload),      // NaN repeat (same raw bits)
      (1700000000007000L, Double.MinPositiveValue), // subnormal stays float
      (1700000000007700L, 42.5),            // float → int (forced mult rewrite)
      (1700000000008400L, 42.5),            // int repeat after the flip
      (1700000000009100L, 1.0e13),          // ≥ maxOptInt cap → float again
      (1700000000009800L, 9999999999999.0), // < cap → int, 44-bit sig
      (1700000000010500L, 0.1234567))       // 7 decimals → float
    val (bytes, tsBits, valBits) = Tsz.encodeBlock(pts)
    assert(bytes.length.toLong * 8 >= tsBits + valBits)
    val back = Tsz.decodeBlock(bytes, pts.length)
    val raw = (d: Double) => java.lang.Double.doubleToRawLongBits(d)
    pts.indices.foreach { i =>
      assert(back(i)._1 == pts(i)._1, s"ts mismatch at $i")
      assert(raw(back(i)._2) == raw(pts(i)._2),
        s"bits mismatch at $i: ${pts(i)._2} -> ${back(i)._2}")
    }
    // −0.0 converts to int 0 and decodes +0.0 — the reference does the
    // same (convertToIntFloat's Modf quick path returns (−0.0, int)
    // and uint64(int64(−0.0)) drops the sign); value-equal, not
    // bit-equal, is the contract there
    val z = Tsz.decodeBlock(Tsz.encodeBlock(Array((1L, -0.0)))._1, 1)
    assert(z(0)._2 == 0.0)
  }

  test("value-half bits equal the tszValueCost card per series") {
    val s = spark
    import s.implicits._
    val samples = tsdb.Vectors.samples(Tables.events(spark, sf))
    val cards = Temporal.tszValueCost(samples)
      .select("name", "user_id", "total_bits").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val enc = TszStore.blockFrame(samples)
      .groupBy("name", "user_id").agg(sum("val_bits").as("vb"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(enc.keySet == cards.keySet)
    val bad = enc.collect { case (k, v) if cards(k) != v => (k, v, cards(k)) }
    assert(bad.isEmpty, s"bits mismatch on ${bad.take(3).mkString(", ")}")
  }

  test("float-salted corpus: card upper-bounds codec bits, store round-trips") {
    val s = spark
    import s.implicits._
    // every 7th event becomes non-convertible (value + π has no
    // finite decimal multiplier ≤ 6) — int→float→int flips inside
    // real blocks
    val salted = tsdb.Vectors.samples(Tables.events(spark, sf))
      .withColumn("value",
        when(col("event_id") % 7 === 0, col("value") + math.Pi)
          .otherwise(col("value")))
    val cards = Temporal.tszValueCost(salted)
      .select("name", "user_id", "total_bits", "n_float_mode")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(cards.values.map(_._2).sum > 0, "salt must hit float mode")
    val enc = TszStore.blockFrame(salted)
      .groupBy("name", "user_id").agg(sum("val_bits").as("vb"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(enc.keySet == cards.keySet)
    // worst-case XOR modeling: card ≥ actual everywhere, exact would
    // need IEEE bit patterns SQL cannot see (documented at the card)
    val under = enc.collect { case (k, v) if cards(k)._1 < v => k }
    assert(under.isEmpty, s"card under actual bits on $under")
    // the decoded store census equals the salted raw census exactly
    // (micro-units: both sides the same doubles)
    val micros = round(col("value") * 1e6, 0).cast("long")
    def census(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum(micros), min(micros), max(micros))
        .collect()(0).toSeq
    TszStore.write(salted, "graft_tsz_float_spec")
    val back = TszStore.readDecoded(spark, "graft_tsz_float_spec")
    assert(census(back) == census(salted))
  }

  test("streamed ingest + compaction equal the batch path exactly") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Ingest
    val mem = MemoryStream[Ingest.Sample]
    val ck = java.nio.file.Files.createTempDirectory("graft-tsz-ck").toString
    spark.sql("DROP TABLE IF EXISTS graft_tsz_stream")
    val q = TszStore.streamWrite(mem.toDF(), "graft_tsz_stream", ck)
    try {
      // one (series, day) split across TWO micro-batches
      mem.addData(
        Ingest.Sample("m", 1L, ts("2024-01-01 01:00:00"), 5.0),
        Ingest.Sample("m", 1L, ts("2024-01-01 02:00:00"), 7.25))
      q.processAllAvailable()
      mem.addData(
        Ingest.Sample("m", 1L, ts("2024-01-01 03:00:00"), 7.25),
        Ingest.Sample("m", 1L, ts("2024-01-02 01:00:00"), 9.0))
      q.processAllAvailable()
    } finally q.stop()
    val blobs = spark.table("graft_tsz_stream")
      .groupBy("block").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(blobs.values.exists(_ > 1) || blobs.size == 2,
      s"expected split-day blobs: $blobs")
    // pre-compaction: all points decode across the block versions
    def pts() = TszStore.readDecoded(spark, "graft_tsz_stream")
      .collect().map(r => (r.getAs[java.sql.Timestamp]("ts").getTime,
        r.getAs[Double]("value"))).sorted.toSeq
    val before = pts()
    assert(before.map(_._2) == Seq(5.0, 7.25, 7.25, 9.0))
    TszStore.compact(spark, "graft_tsz_stream")
    // post-compaction: ONE blob per block key, same point set
    val counts = spark.table("graft_tsz_stream")
      .groupBy("name", "user_id", "block").count()
      .collect().map(_.getLong(3))
    assert(counts.forall(_ == 1L), "compaction must fold to one blob per key")
    assert(pts() == before, "compaction must preserve the point set")
  }

  test("compaction keeps appends committed through another session") {
    // appends through another session (a streaming query's
    // foreachBatch) leave this session's cached listing stale; both
    // compactions overwrite the whole table, so they must snapshot
    // what is committed or silently drop those appends
    def rows(s: SparkSession, from: Long, until: Long): DataFrame =
      s.range(from, until).select(
        concat(lit("m"), (col("id") % 3).cast("string")).as("name"),
        (col("id") % 3).as("user_id"),
        timestamp_seconds(lit(1714521600L) + col("id") * 60).as("ts"),
        (col("id") % 97).cast("double").as("value"),
        lit("a").as("annotation"))
    def perSeries(df: DataFrame) = df.groupBy("name", "user_id")
      .agg(count(lit(1)), sum("value")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val want = perSeries(rows(spark, 0, 1200))
    for (annotated <- Seq(false, true)) {
      val t = s"graft_tsz_other_session_$annotated"
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      def append(df: DataFrame): Unit =
        if (annotated) TszStore.appendBatchAnnotated(df, t)
        else TszStore.appendBatch(df.drop("annotation"), t)
      def decoded: DataFrame =
        if (annotated) TszStore.decodeAnnotated(spark.table(t))
        else TszStore.readDecoded(spark, t)
      append(rows(spark, 0, 600))
      assert(decoded.count() == 600) // lists the table's files
      append(rows(spark.newSession(), 600, 1200))
      if (annotated) TszStore.compactAnnotated(spark, t) else TszStore.compact(spark, t)
      assert(perSeries(decoded) == want,
        s"compaction (annotated=$annotated) dropped another session's appends")
    }
  }

  test("store round-trips the sf sample stream through parquet blocks") {
    val samples = tsdb.Vectors.samples(Tables.events(spark, sf))
    TszStore.write(samples, "graft_tsz_spec")
    val back = TszStore.readDecoded(spark, "graft_tsz_spec")
    val cents = round(col("value") * 100, 0).cast("long")
    def census(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum(cents), min(cents), max(cents),
        sum(unix_micros(col("ts")))).collect()(0).toSeq
    assert(census(back) == census(samples), "decoded census != raw census")
    // block pruning reaches the scan before any blob decodes
    val blocks = spark.table("graft_tsz_spec")
      .agg(min("block"), max("block")).collect()(0)
    val (mn, mx) = (blocks.getLong(0), blocks.getLong(1))
    if (mx > mn) {
      val pruned = TszStore.readDecoded(spark, "graft_tsz_spec",
        fromBlock = Some(mn + 1))
      val direct = samples.where(
        floor(unix_timestamp(col("ts")).cast("double") / 86400.0) >= mn + 1)
      assert(pruned.count() == direct.count())
    }
  }

  test("annotations: write-on-change markers, prevailing decode, bit costs") {
    val pts = Array.tabulate(8)(i => (1700000000000000L + i * 500000L, i * 1.0))
    def ann(s: String): Array[Byte] = if (s == null) null else s.getBytes("UTF-8")
    // null → "a" (write) → "a" repeat (skip) → null gap (carries) →
    // "bb" (write) → "" empty (skip, carries) → "a" again (write —
    // change detection is vs PREVIOUS, not a seen-set) → long 100-byte
    // annotation (2-byte varint: zigzag(99) = 198 ≥ 128)
    val long100 = "x" * 100
    val ants = Array(null, "a", "a", null, "bb", "", "a", long100).map(ann)
    val (bytes, tsBits, valBits, antBits) = Tsz.encodeBlockAnnotated(pts, ants)
    // 4 writes: "a"=11+8+8, "bb"=11+8+16, "a"=11+8+8, 100B=11+16+800
    assert(antBits == 27L + 35 + 27 + 827, s"antBits $antBits")
    val back = Tsz.decodeBlockAnnotated(bytes, pts.length)
    assert(back.map(p => (p._1, p._2)).toSeq == pts.toSeq)
    val prevailing = back.map(p => if (p._3 == null) null else new String(p._3, "UTF-8"))
    assert(prevailing.toSeq ==
      Seq(null, "a", "a", "a", "bb", "bb", "a", long100))
    // total accounting: stream = ts + val + ant bits exactly
    assert(bytes.length.toLong * 8 - (tsBits + valBits + antBits) < 8,
      "only byte padding beyond the three accounted halves")
  }

  test("annotations: first-point marker sits in the first dod slot") {
    val pts = Array((1700000000000000L, 1.5), (1700000000500000L, 2.5))
    val (bytes, _, _, antBits) =
      Tsz.encodeBlockAnnotated(pts, Array("unit=ms", "unit=ms").map(_.getBytes("UTF-8")))
    assert(antBits == 11L + 8 + 7 * 8) // one write, repeat skipped
    val back = Tsz.decodeBlockAnnotated(bytes, 2)
    assert(back.forall(p => new String(p._3, "UTF-8") == "unit=ms"))
    assert(back.map(p => (p._1, p._2)).toSeq == pts.toSeq)
  }

  test("annotated layout with no annotations differs only by the zero first dod") {
    val pts = Array(
      (1700000000000000L, 5.0), (1700000000000001L, 5.5),
      (1700000001500000L, -5.0), (1700000002000000L, 81.1))
    val (b0, t0, v0) = Tsz.encodeBlock(pts)
    val (b1, t1, v1, a1) = Tsz.encodeBlockAnnotated(pts, null)
    assert(a1 == 0L)
    assert(t1 == t0 + 1, "the annotated layout carries a zero first dod")
    assert(v1 == v0)
    assert(Tsz.decodeBlock(b0, 4).toSeq == pts.toSeq)
    assert(Tsz.decodeBlockAnnotated(b1, 4).map(p => (p._1, p._2)).toSeq == pts.toSeq)
    // unannotated arrays of nulls behave identically to ants = null
    val (b2, _, _, a2) = Tsz.encodeBlockAnnotated(pts, Array(null, null, null, null))
    assert(a2 == 0L && b2.toSeq == b1.toSeq)
  }

  test("annotated store frame round-trips prevailing annotations at sf") {
    val samples = graft.tsdb.Vectors.samples(Tables.events(spark, sf))
      .withColumn("annotation",
        when(hour(col("ts")) >= 12, concat(lit("h"), hour(col("ts")).cast("string"))))
    val blocks = TszStore.annotatedBlockFrame(samples)
    val back = TszStore.decodeAnnotated(blocks)
      .select(col("name"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("annotation"))
    // full per-point parity: every decoded point carries the
    // prevailing (last non-null at-or-before, within its block)
    // annotation of the raw stream
    val expect = samples.where(col("value").isNotNull)
      .withColumn("block",
        floor(unix_timestamp(col("ts")).cast("double") / 86400.0).cast("long"))
      .withColumn("prev", last(col("annotation"), ignoreNulls = true).over {
        val w = org.apache.spark.sql.expressions.Window
        w.partitionBy("name", "user_id", "block")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(w.unboundedPreceding, w.currentRow)
      })
      .select(col("name"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("prev").as("annotation"))
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty,
      "decoded (point, prevailing annotation) set != raw replay")
  }

  test("annotated blocks: split ingest compacts to one blob, annotations kept") {
    val t = "graft_tsz_ann_compact_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    // every point annotated → per-blob prevailing == per-point label,
    // so compaction must preserve the (point, annotation) set exactly
    val samples = graft.tsdb.Vectors.samples(Tables.events(spark, sf))
      .withColumn("annotation",
        concat(lit("h"), hour(col("ts")).cast("string")))
    TszStore.appendBatchAnnotated(samples.where(col("event_id") % 2 === 0), t)
    TszStore.appendBatchAnnotated(samples.where(col("event_id") % 2 === 1), t)
    val key = Seq("name", "user_id", "ts", "value", "annotation")
    val before = TszStore.decodeAnnotated(spark.table(t))
      .select(key.map(col): _*)
    val nKeysMulti = spark.table(t)
      .groupBy("name", "user_id", "block").count()
      .where(col("count") > 1).count()
    assert(nKeysMulti > 0, "split ingest should produce multi-blob keys")
    TszStore.compactAnnotated(spark, t)
    assert(spark.table(t).groupBy("name", "user_id", "block").count()
      .where(col("count") > 1).isEmpty, "compaction must fold to one blob")
    val after = TszStore.decodeAnnotated(spark.table(t))
      .select(key.map(col): _*)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "compaction changed the (point, annotation) set")
  }

  test("time-unit schemes: per-scheme round trips and default-bucket widths") {
    import graft.sources.TszTimeUnit
    // unit-aligned cadences with a dod large enough to force the
    // DEFAULT bucket in every scheme (> 2047 unit ticks between
    // deltas) plus in-bucket steps; values exercise both halves
    def pts(unitUs: Long) = Array(
      (1700000000000000L, 5.0),
      (1700000000000000L + 1L * unitUs, 5.0),
      (1700000000000000L + 2L * unitUs, 7.25),
      (1700000000000000L + 5000L * unitUs, -3.0), // default bucket dod
      (1700000000000000L + 5001L * unitUs, math.Pi))
    val unitUsOf = Map[TszTimeUnit, Long](
      TszTimeUnit.Second -> 1000000L, TszTimeUnit.Millisecond -> 1000L,
      TszTimeUnit.Microsecond -> 1L, TszTimeUnit.Nanosecond -> 1L)
    for (u <- TszTimeUnit.all) {
      val p = pts(unitUsOf(u))
      val (bytes, tsBits, valBits) = Tsz.encodeBlock(p, u)
      val back = Tsz.decodeBlock(bytes, p.length, u)
      assert(back.toSeq == p.toSeq, s"${u.name}: unit-aligned round trip")
      assert(tsBits > 0 && valBits > 0)
    }
    // the 32-bit default bucket is 32 bits NARROWER per out-of-bucket
    // dod than the 64-bit schemes on the same instants
    val p = pts(1000000L)
    val (_, tsSec, _) = Tsz.encodeBlock(p, TszTimeUnit.Second)
    // the same SECOND-tick dods through a 64-bit-default scheme:
    // nanosecond ticks shrink no in-bucket dod here, they only widen
    // the default slot, so the delta is exactly the two widths
    val pNsAligned = p.map { case (us, v) => (us, v) }
    val (_, tsNs, _) = Tsz.encodeBlock(pNsAligned, TszTimeUnit.Nanosecond)
    assert(tsSec < tsNs, s"32-bit default bucket must be narrower: $tsSec vs $tsNs")
    // sub-unit truncation is the documented Second-scheme semantics
    // (xtime truncation): a 500ms offset floors to the second
    val trunc = Array((1700000000000000L, 1.0), (1700000001500000L, 2.0))
    val (b2, _, _) = Tsz.encodeBlock(trunc, TszTimeUnit.Second)
    val back2 = Tsz.decodeBlock(b2, 2, TszTimeUnit.Second)
    assert(back2.toSeq == Seq((1700000000000000L, 1.0),
      (1700000001000000L, 2.0)), back2.toSeq.toString)
  }

  test("time-unit store: table property drives the reader scheme") {
    import graft.sources.TszTimeUnit
    val s0 = spark
    import s0.implicits._
    // second-aligned synthetic samples through a Second-scheme store:
    // write stamps the property, readDecoded picks it up, round trip
    // is exact; compact preserves the scheme
    val samples = (0 until 50).map { i =>
      ("m", (i % 3).toLong,
        new java.sql.Timestamp(1700000000000L + i.toLong * 7000L),
        i.toDouble / 4, i.toLong)
    }.toDF("name", "user_id", "ts", "value", "event_id")
    TszStore.write(samples, "tsz_unit_spec", buckets = 2,
      unit = TszTimeUnit.Second)
    val back = TszStore.readDecoded(spark, "tsz_unit_spec")
      .select(col("name"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val expected = (0 until 50).map { i =>
      ("m", (i % 3).toLong, (1700000000L + i.toLong * 7) * 1000000L,
        i.toDouble / 4)
    }.toSet
    assert(back == expected)
    TszStore.compact(spark, "tsz_unit_spec", buckets = 2)
    val afterCompact = TszStore.readDecoded(spark, "tsz_unit_spec")
      .select(col("name"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(afterCompact == expected, "compact must keep the table scheme")
  }

  test("golden wire vectors: reference encoder_test.go byte equality") {
    // the reference ships byte-level fixtures
    // (src/dbnode/encoding/m3tsz/encoder_test.go:58-66 dod table,
    // :104-127 writeXOR, :128-155 writeAnnotation); asserting them
    // here upgrades the codec from "restated semantics" to
    // "wire-checked" on every scheme-overlapping write path
    def bytesOf(f: Tsz.BitWriter => Unit): (Seq[Int], Long) = {
      val w = new Tsz.BitWriter()
      f(w)
      (w.toBytes.map(_ & 0xff).toSeq, w.bits)
    }
    // TestWriteDeltaOfDeltaTimeUnitUnchanged: the 7/9/12-bit buckets
    // are unit-independent (scheme.go defaultNumValueBitsForBuckets);
    // the Second scheme's 32-bit default bucket is the one divergence
    // from the Microsecond scheme this codec stores (64-bit default,
    // scheme.go:50), so the in-bucket vectors must match byte-for-byte
    val dodVectors = Seq(
      0L     -> (Seq(0x0), 1L),
      32L    -> (Seq(0x90, 0x0), 9L),
      -63L   -> (Seq(0xa0, 0x80), 9L),
      -128L  -> (Seq(0xd8, 0x0), 12L),
      255L   -> (Seq(0xcf, 0xf0), 12L),
      -2048L -> (Seq(0xe8, 0x0), 16L),
      2047L  -> (Seq(0xe7, 0xff), 16L))
    for ((dod, (eb, ebits)) <- dodVectors) {
      val (b, bits) = bytesOf(w => Tsz.writeDod(w, dod))
      assert(b == eb && bits == ebits,
        s"dod $dod: got $b/$bits expected $eb/$ebits")
    }
    // the 64-bit default bucket, shared by the Nanosecond and
    // Microsecond schemes: the reference's Nanosecond vector
    // {4096s → f0 00 00 3b 9a ca 00 00 00} reproduces exactly when
    // the same dod value flows through this codec's default arm
    val (bNs, bitsNs) = bytesOf(w => Tsz.writeDod(w, 4096L * 1000000000L))
    assert(bNs == Seq(0xf0, 0x0, 0x0, 0x3b, 0x9a, 0xca, 0x0, 0x0, 0x0) &&
      bitsNs == 68L, s"ns +4096s vector: $bNs/$bitsNs")
    val (bNsNeg, _) = bytesOf(w => Tsz.writeDod(w, -4096L * 1000000000L))
    assert(bNsNeg == Seq(0xff, 0xff, 0xff, 0xc4, 0x65, 0x36, 0x0, 0x0, 0x0),
      s"ns -4096s vector: $bNsNeg")
    // the Second scheme's 32-bit default bucket (encoder_test.go:68-69
    // {4096s → f0 00 01 00 00} / {−4096s → ff ff ff 00 00}) — the
    // r12 TszTimeUnit parameter's wire divergence from the 64-bit
    // schemes, byte-for-byte
    val (bS, bitsS) = bytesOf(w => Tsz.writeDod(w, 4096L, defaultBits = 32))
    assert(bS == Seq(0xf0, 0x0, 0x1, 0x0, 0x0) && bitsS == 36L,
      s"second +4096s vector: $bS/$bitsS")
    val (bSNeg, _) = bytesOf(w => Tsz.writeDod(w, -4096L, defaultBits = 32))
    assert(bSNeg == Seq(0xff, 0xff, 0xff, 0x0, 0x0),
      s"second -4096s vector: $bSNeg")
    // TestWriteValue: writeXOR zero / contained / uncontained arms
    val xorVectors = Seq(
      (0x4028000000000000L, 0L,
        Seq(0x0), 1L),
      (0x4028000000000000L, 0x0120000000000000L,
        Seq(0x80, 0x90), 14L),
      (0x0120000000000000L, 0x4028000000000000L,
        Seq(0xc1, 0x2e, 0x1, 0x40), 26L))
    for ((prev, cur, eb, ebits) <- xorVectors) {
      val (b, bits) = bytesOf(w => Tsz.writeXorBits(w, prev, cur))
      assert(b == eb && bits == ebits,
        s"xor ($prev, $cur): got $b/$bits expected $eb/$ebits")
    }
    // TestWriteAnnotation: marker + zigzag varint(len−1) + raw bytes
    val antVectors = Seq(
      Array[Byte](0x1, 0x2) ->
        (Seq(0x80, 0x20, 0x40, 0x20, 0x40), 35L),
      Array.fill[Byte](8)(0xff.toByte) ->
        (Seq(0x80, 0x21, 0xdf, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff,
          0xff, 0xe0), 83L))
    for ((ant, (eb, ebits)) <- antVectors) {
      val (b, bits) = bytesOf(w => Tsz.writeAnnotationBits(w, ant))
      assert(b == eb && bits == ebits,
        s"annotation ${ant.toSeq}: got $b/$bits expected $eb/$ebits")
    }
  }
}
