package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Sketches
import graft.sources.SketchStore

class SketchStoreSpec extends SparkSpec {

  private def corpus = corpusIn(spark)

  private def corpusIn(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    (0 until 40).map { i =>
      (i.toLong, s"src${i % 2}",
        (0 until 8).map(j => s"tok_${i}_$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
  }

  test("stored estimate is byte-equal to the direct sketch") {
    val docs = corpus
    val t = "graft_hll_spec"
    // two appended halves: the read-time max-merge is on the path
    SketchStore.build(docs.where(col("doc_id") < 20), t)
    SketchStore.append(docs.where(col("doc_id") >= 20), t)
    val stored = SketchStore.estimate(spark, t, docs)
      .collect().map(_.toSeq)
    val direct = Sketches.hllDistinct(docs).collect().map(_.toSeq)
    assert(stored.toSeq == direct.toSeq)
  }

  test("compaction folds appended rows, answers unchanged") {
    val docs = corpus
    val t = "graft_hll_spec_c"
    SketchStore.build(docs.where(col("doc_id") < 20), t)
    SketchStore.append(docs.where(col("doc_id") >= 20), t)
    val before = SketchStore.estimate(spark, t, docs)
      .collect().map(_.toSeq)
    val rawRows = spark.table(t).count()
    SketchStore.compact(spark, t)
    val compactRows = spark.table(t).count()
    assert(compactRows <= rawRows)
    // compacted rows are exactly the merged register set
    assert(compactRows ==
      SketchStore.registers(spark, t).count())
    val after = SketchStore.estimate(spark, t, docs)
      .collect().map(_.toSeq)
    assert(after.toSeq == before.toSeq)
  }

  test("compaction keeps appends committed through another session") {
    // see StoreSpec's test of the same name: registers appended by a
    // foreachBatch writer's own session must survive a compaction run
    // from this session, whose cached listing predates them
    val t = "graft_hll_other_session"
    val docs = corpus
    SketchStore.build(docs.where(col("doc_id") < 20), t)
    assert(SketchStore.registers(spark, t).count() > 0) // lists the table
    SketchStore.append(corpusIn(spark.newSession()).where(col("doc_id") >= 20), t)
    SketchStore.compact(spark, t)
    def regs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("idx")) -> r.get(r.fieldIndex("mj")))
      .toMap
    val expect = regs(Sketches.hllRegisters(docs))
    val got = regs(SketchStore.registers(spark.newSession(), t))
    val kept = expect.count { case (k, v) => got.get(k).contains(v) }
    assert(kept == expect.size && got.size == expect.size,
      s"compaction kept $kept of ${expect.size} merged registers " +
        "after appends through another session")
  }

  test("per-source reads prune source partitions") {
    val docs = corpus
    val t = "graft_hll_spec_p"
    SketchStore.build(docs, t)
    val plan = spark.table(t).where(col("source") === "src0")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("src0"),
      "source filter did not reach the partition pruning:\n" +
        plan.take(2000))
  }

  private def ddEvents = {
    val s = spark
    import s.implicits._
    (1 to 200).map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i * 0.5))
      .toDF("event_id", "event_type", "value")
  }

  test("stored dd quantiles are byte-equal to the direct sketch") {
    val events = ddEvents
    val t = "graft_dd_spec"
    // two appended halves: the read-time sum-merge is on the path
    SketchStore.buildDd(events.where(col("event_id") <= 100), t)
    SketchStore.appendDd(events.where(col("event_id") > 100), t)
    val stored = SketchStore.ddEstimate(spark, t, events)
      .collect().map(_.toSeq)
    val direct = Sketches.ddSketch(events).collect().map(_.toSeq)
    assert(stored.toSeq == direct.toSeq)
  }

  test("stored spectrum is byte-equal to the direct sketch") {
    val docs = corpus
    val t = "graft_spec_spec"
    // two appended halves: the MIXED max/sum read-merge is on the
    // path (HLL registers must max, everything else must sum)
    SketchStore.buildSpectrum(docs.where(col("doc_id") < 20), t)
    SketchStore.appendSpectrum(docs.where(col("doc_id") >= 20), t)
    val stored = SketchStore.spectrum(spark, t).collect().map(_.toSeq)
    val direct = graft.pipeline.Dedup.suffixSpectrumSketch(docs)
      .collect().map(_.toSeq)
    assert(stored.toSeq == direct.toSeq,
      s"stored:\n${stored.toSeq}\nvs direct:\n${direct.toSeq}")
    // compaction folds the appended rows; answers unchanged
    val rawRows = spark.table(t).count()
    SketchStore.compactSpectrum(spark, t)
    assert(spark.table(t).count() < rawRows)
    val after = SketchStore.spectrum(spark, t).collect().map(_.toSeq)
    assert(after.toSeq == direct.toSeq)
    // the readout legs prune to their kind partitions: a single-kind
    // scan must not read the others (partition pruning on kind=)
    val leg = SketchStore.spectrumCells(spark, t)
      .where(col("kind") === 0)
    val scan = leg.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("kind"),
      "kind partition filter missing:\n" + scan.take(1500))
  }

  test("dd cells sum-merge: re-appending a batch doubles its counts") {
    val events = ddEvents
    val t = "graft_dd_spec_a"
    SketchStore.buildDd(events, t)
    val once = SketchStore.ddCells(spark, t).collect()
      .map(r => (r.get(0), r.get(1)) -> r.getAs[Long]("c")).toMap
    // counts are ADDITIVE (counter algebra): appending the same batch
    // again is new data and doubles every cell — unlike the HLL
    // registers, where re-appending history is a no-op under max
    SketchStore.appendDd(events, t)
    val twice = SketchStore.ddCells(spark, t).collect()
      .map(r => (r.get(0), r.get(1)) -> r.getAs[Long]("c")).toMap
    assert(twice.keySet == once.keySet)
    once.foreach { case (k, c) => assert(twice(k) == 2 * c) }
    // compaction folds back to one row per cell, counts unchanged
    val rawRows = spark.table(t).count()
    SketchStore.compactDd(spark, t)
    assert(spark.table(t).count() < rawRows)
    val after = SketchStore.ddCells(spark, t).collect()
      .map(r => (r.get(0), r.get(1)) -> r.getAs[Long]("c")).toMap
    assert(after == twice)
  }
}
