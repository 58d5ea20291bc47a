package graft.sources

import graft.Materialize.MatOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Sketches

/** Persisted HLL register table — the audit pipeline's at-rest
  * sketch state (daily distinct-vocabulary tracking without ever
  * re-reading history): registers write source-partitioned, appends
  * are BLIND row appends (registers are max-mergeable, so duplicate
  * (source, idx) rows are folded by `max` at read time — an append
  * never reads the table), and [[compact]] folds the rows back to
  * ≤m per source in place. [[estimate]] runs the SAME estimator
  * code path as the direct `corpus_hll` ([[Sketches.hllEstimateFrom]]
  * is shared), so stored and direct answers are byte-identical —
  * spec-pinned, and the `store_hll` gate entry reuses the
  * `corpus_hll` oracle SQL verbatim.
  *
  * Scale: the table holds ≤ sources × 256 rows per append batch —
  * the whole point of persisting the sketch instead of the corpus;
  * a per-source probe prunes `source=` partitions (plan-audited in
  * the spec). Follows the build/append/probe/compact shape of
  * [[SeriesStore]]/[[VectorStore]]/[[MinHashStore]].
  */
object SketchStore {

  private val HllLayout = Warehouse.Layout(partitionBy = Seq("source"))

  /** Build the register table from a corpus. */
  def build(docs: DataFrame, table: String): Unit =
    Warehouse.create(Sketches.hllRegisters(docs), table, HllLayout)

  /** Fold a new batch in: a blind row append — max-merge happens at
    * read, so appending never reads history. */
  def append(docs: DataFrame, table: String): Unit =
    Warehouse.append(Sketches.hllRegisters(docs), table, HllLayout)

  private def maxMerge(rows: DataFrame): DataFrame =
    rows.groupBy("source", "idx").agg(max("mj").as("mj"))

  /** The merged register view (max over appended rows). */
  def registers(spark: SparkSession, table: String): DataFrame =
    maxMerge(spark.table(table))

  /** Estimate from the STORED registers — byte-identical to the
    * direct [[Sketches.hllDistinct]] when the table holds the same
    * corpus (shared estimator), with the exact calibration column
    * still computed from the live corpus frame. */
  def estimate(spark: SparkSession, table: String,
               docs: DataFrame): DataFrame =
    Sketches.hllEstimateFrom(registers(spark, table),
      Sketches.hllExact(docs))

  /** In-place compaction: fold appended duplicate registers back to
    * ≤m rows per source. */
  def compact(spark: SparkSession, table: String): Unit =
    Warehouse.rewrite(spark, table, HllLayout)(maxMerge)

  // ---- persisted DDSketch cells (the SUM-mergeable sibling) ----
  //
  // Same lifecycle with the other merge algebra: HLL registers fold
  // by max (idempotent — re-appending history is harmless), DDSketch
  // bucket counts fold by SUM (additive — an append is a NEW batch
  // of events, exactly a counter's semantics). Appends stay blind
  // row appends; reads sum; compaction folds to ≤cap rows per type.

  private val DdLayout = Warehouse.Layout(partitionBy = Seq("event_type"))

  /** Build the DDSketch cell table from an event batch. */
  def buildDd(events: DataFrame, table: String): Unit =
    Warehouse.create(Sketches.ddBuckets(events), table, DdLayout)

  /** Fold a new event batch in: a blind row append — counts
    * sum-merge at read, so appending never reads history. */
  def appendDd(events: DataFrame, table: String): Unit =
    Warehouse.append(Sketches.ddBuckets(events), table, DdLayout)

  private def sumMerge(rows: DataFrame): DataFrame =
    rows.groupBy("event_type", "i").agg(sum("c").as("c"))

  /** The merged cell view (sum over appended rows). */
  def ddCells(spark: SparkSession, table: String): DataFrame =
    sumMerge(spark.table(table))

  /** Quantiles from the STORED cells — byte-identical to the direct
    * [[Sketches.ddSketch]] when the table holds the same events
    * (shared read-back), with the exact calibration column still
    * computed from the live events frame. */
  def ddEstimate(spark: SparkSession, table: String,
                 events: DataFrame): DataFrame =
    Sketches.ddReadback(ddCells(spark, table), events,
      alpha = 0.01, maxBuckets = 256)

  /** In-place compaction: fold appended duplicate cells back to one
    * row per (type, bucket). */
  def compactDd(spark: SparkSession, table: String): Unit =
    Warehouse.rewrite(spark, table, DdLayout)(sumMerge)

  // ---- persisted repetition-spectrum sketch cells ----
  //
  // The incremental form of the corpus repetition audit: each doc
  // batch folds into (kind, depth, k, vmax, vsum) cells
  // (Dedup.spectrumCells — HLL registers max-merge, CMS / sampled
  // census / alphabet census / char counts sum-merge), appends stay
  // blind row appends, and the 7-row spectrum reads back from the
  // merged cells WITHOUT ever rescanning corpus history — the same
  // lifecycle as the HLL and DDSketch tables, with the MIXED merge
  // algebra (max for kind 0, sum otherwise) resolved at read.
  // Partitioned by `kind`, so each readout leg prunes to its own
  // partition. Appending the same docs twice double-counts the
  // sum-merged kinds (batch semantics, like the DD cells) — dedup
  // of batches belongs to the ingest layer.

  private val SpectrumLayout = Warehouse.Layout(partitionBy = Seq("kind"))

  /** Build the spectrum cell table from a corpus batch. */
  def buildSpectrum(docs: DataFrame, table: String): Unit =
    Warehouse.create(graft.pipeline.Dedup.spectrumCells(docs), table,
      SpectrumLayout)

  /** Fold a new doc batch in: blind row append, merge at read. */
  def appendSpectrum(docs: DataFrame, table: String): Unit =
    Warehouse.append(graft.pipeline.Dedup.spectrumCells(docs), table,
      SpectrumLayout)

  private def cellMerge(rows: DataFrame): DataFrame =
    rows.groupBy("kind", "depth", "k")
      .agg(max("vmax").as("vmax"), sum("vsum").as("vsum"))

  /** The merged cell view: cells merge with cells by the same
    * per-kind algebra the builders use — associative, so
    * append-then-merge equals the one-shot batch walk
    * bit-for-bit. */
  def spectrumCells(spark: SparkSession, table: String): DataFrame =
    cellMerge(spark.table(table))

  /** The 7-row spectrum from the STORED cells — byte-identical to
    * the direct [[graft.pipeline.Dedup.suffixSpectrumSketch]] when
    * the table holds the same corpus (shared readout), so the
    * `store_spectrum` gate entry reuses the direct oracle SQL
    * verbatim. */
  def spectrum(spark: SparkSession, table: String): DataFrame = {
    val cells = spectrumCells(spark, table).materialize(true)
    val out = graft.pipeline.Dedup.spectrumFromCells(cells)
      .materialize(true) // 7 rows
    graft.pipeline.Corpus.freeCheckpoint(cells)
    out
  }

  /** In-place compaction: fold appended duplicate cells back to one
    * row per (kind, depth, k). */
  def compactSpectrum(spark: SparkSession, table: String): Unit =
    Warehouse.rewrite(spark, table, SpectrumLayout)(cellMerge)
}
