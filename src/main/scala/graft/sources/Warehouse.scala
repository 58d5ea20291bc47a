package graft.sources

import graft.Materialize.MatOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** The catalog-table lifecycle every store shares — m3db's flush and
  * compaction (dbnode's persist/fs and storage/compaction) restated
  * ONCE over parquet tables: create a table from scratch, append
  * micro-batches to it, stream into it, read its properties, and
  * rewrite it in place. The stores
  * ([[SeriesStore]], [[TszStore]], [[ProtoStore]], [[VectorStore]],
  * [[SketchStore]], [[MinHashStore]], [[ZOrderStore]]) and the tsdb
  * block index own only their data: the frame they write, their
  * [[Layout]] and, for a compaction, the merge. */
private[graft] object Warehouse {

  /** A table's physical layout: `partitionBy` directories, and
    * `buckets` hash buckets on `bucketBy` (0 = unbucketed), each
    * sorted by `sortBy`. */
  final case class Layout(partitionBy: Seq[String] = Nil, buckets: Int = 0,
                          bucketBy: Seq[String] = Nil,
                          sortBy: Seq[String] = Nil)

  /** Delete the table's warehouse location: a fresh in-memory catalog
    * does not know about directories a previous session left behind,
    * and CTAS refuses to reuse them. */
  private def clearLocation(spark: SparkSession, table: String): Unit = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  private def save(rows: DataFrame, table: String, layout: Layout,
                   mode: String): Unit = {
    val w = rows.write.mode(mode).format("parquet")
    val parted =
      if (layout.partitionBy.isEmpty) w else w.partitionBy(layout.partitionBy: _*)
    val bucketed =
      if (layout.buckets == 0) parted
      else parted.bucketBy(layout.buckets, layout.bucketBy.head,
        layout.bucketBy.tail: _*)
    val sorted =
      if (layout.sortBy.isEmpty) bucketed
      else bucketed.sortBy(layout.sortBy.head, layout.sortBy.tail: _*)
    sorted.saveAsTable(table)
  }

  /** Replace the table with `rows` under `layout` (idempotent: drops
    * a stale catalog entry AND any orphaned location); `props` ride as
    * table properties so readers pick the table's parameters up
    * without out-of-band state. */
  def create(rows: DataFrame, table: String, layout: Layout,
             props: Map[String, Any] = Map.empty): Unit = {
    val spark = rows.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    clearLocation(spark, table)
    save(rows, table, layout, "overwrite")
    if (props.nonEmpty)
      spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES(" +
        props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")")
  }

  /** Append one batch under `layout`, creating the table on the first
    * batch. A location left behind without a catalog entry (a prior
    * JVM's warehouse) is unreadable garbage and is cleared so the
    * create succeeds; an EXISTING table is never touched
    * (restart-append relies on it). */
  def append(rows: DataFrame, table: String, layout: Layout): Unit = {
    val spark = rows.sparkSession
    val exists = spark.catalog.tableExists(table)
    if (!exists) clearLocation(spark, table)
    save(rows, table, layout, if (exists) "append" else "errorifexists")
  }

  /** The table's properties, as [[create]] stamped them. */
  def properties(spark: SparkSession, table: String): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .properties

  /** Continuous ingest: each micro-batch goes through `sink`
    * (exactly-once per batch under the checkpoint). */
  def stream(rows: DataFrame, checkpoint: String)(
      sink: DataFrame => Unit): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => sink(batch) }
      .start()

  /** Rewrite the table in place from `merge` of its current rows —
    * every store's compaction. In order:
    *
    *  1. Re-list the table. Appends committed through another session
    *     (a streaming query's `foreachBatch`) are missing from this
    *     session's cached listing, and the overwrite would silently
    *     drop them. The re-list is in place (not
    *     `catalog.refreshTable`): frames already holding the cached
    *     relation keep seeing the table once it is rewritten.
    *  2. Hand the fresh table to `merge`.
    *  3. Snapshot the result (the truncated lineage lets Spark
    *     overwrite the table being read).
    *  4. Repartition to the layout — by the bucket key with exactly
    *     `buckets` tasks (the murmur3-pmod assignment bucketing uses,
    *     so each task writes one file per bucket), else by the
    *     partition key (one task per partition) — in the table's
    *     column order (`insertInto` is positional).
    *  5. Overwrite: dynamically for a partitioned table, so only the
    *     partitions the merge produced are replaced. No manual sort:
    *     a bucketed insert adds the `sortBy` ordering itself. */
  def rewrite(spark: SparkSession, table: String, layout: Layout)(
      merge: DataFrame => DataFrame): Unit = {
    val current = spark.table(table)
    current.queryExecution.analyzed.refresh()
    val snap = merge(current).materialize(true)
    val spread =
      if (layout.buckets > 0)
        snap.repartition(layout.buckets, layout.bucketBy.map(col): _*)
      else if (layout.partitionBy.nonEmpty)
        snap.repartition(layout.partitionBy.map(col): _*)
      else snap
    val out = spread.select(current.columns.map(col): _*)
      .write.mode("overwrite")
    if (layout.partitionBy.isEmpty) out.insertInto(table)
    else {
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try out.insertInto(table)
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
