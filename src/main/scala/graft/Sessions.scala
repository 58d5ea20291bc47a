package graft

import org.apache.spark.sql.SparkSession

/** Standard session config shared by Verify, Bench and the specs. */
object Sessions {
  /** Post-creation log tuning, called by every main and the spec
    * base right after `setLogLevel` (it must run AFTER the context
    * starts — Spark re-initializes log4j at startup and discards
    * earlier per-logger levels). Every unpartitioned window in this
    * codebase is a provably BOUNDED frame (k centroid seeds, shard
    * counts, ≤10 buckets, top-N post-limit — audited in PlanSpec's
    * window tests), so the WindowExec single-partition warning
    * carries no signal here, and ~80 copies of it per run bury real
    * defects in the bench log. Constant partition keys don't help:
    * the optimizer folds foldable keys away and the warning fires
    * anyway (verified on Spark 4.1). A genuinely unbounded window is
    * caught where it is visible — the PlanSpec shard-key audits. */
  def tune(spark: SparkSession, logLevel: String = "WARN"): SparkSession = {
    spark.sparkContext.setLogLevel(logLevel)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // freeing a localCheckpoint (the suffix-spectrum round frames,
    // Corpus.freeCheckpoint) warns that the truncated lineage can't
    // be recomputed — which is the POINT of the call (nothing reads
    // the frame again, by construction); one warning per freed round
    // per query otherwise floods the bench log
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def builder(cpus: String): SparkSession.Builder = {
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet is TIMESTAMP(NANOS); read as long + convert
      // (see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE on: runtime re-plan, skew-join handling, auto broadcast
      .config("spark.sql.adaptive.enabled", "true")
      // write timestamps as INT64 micros: INT96 is deprecated and
      // carries no usable min/max stats, which would defeat ts
      // row-group/page pruning on the SeriesStore layout
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // bucketed-table warehouse (SeriesStore tests) outside the repo
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // generated-class cache (JVM-wide, sized when the first class
      // compiles). The default 100 entries sit below the working set:
      // with constants passed as parameters (functions.ParamLiterals) a
      // benchmark run compiles ≈260 classes (curate) and ≈270 (ingest),
      // so at 100 the LRU evicted every class before its reuse and each
      // query paid Janino and C2 again. Both changes together took a
      // run from ≈1,080 (curate) and ≈740 (ingest) compiles to these.
      .config("spark.sql.codegen.cache.maxEntries", "2048")
  }
}
