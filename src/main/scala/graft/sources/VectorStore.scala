package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Similarity

/** Persisted ANN index — the at-rest physical layout a 100 TB vector
  * deployment actually queries, mirroring what [[SeriesStore]] does
  * for series: instead of re-assigning the corpus to IVF cells on
  * every query (the [[Similarity.ivfAnn]] direct path), the corpus is
  * written ONCE as a `cell=`-partitioned parquet table with its PQ
  * codes as a column, and queries read only the probed cells.
  *
  * This is the FAISS build/search split restated in storage terms
  * (the reference's analogue is m3db's fileset-index split: matcher
  * resolution reads the index files, never the data blocks):
  *
  *  - **build** = train/assign/encode once: seed centroids, per-vector
  *    cell assignment, residual PQ codes — all via the SAME
  *    `private[graft]` building blocks the direct paths compose, so
  *    stored results are byte-identical by construction (pinned by
  *    the `store_ann`/`store_ivfpq` oracles and VectorStoreSpec).
  *  - **model** = the bounded artifact (cells·dim centroid doubles +
  *    ks·m codebook rows) persisted as a sidecar table; query-time
  *    reads collect it back (same bounded-driver-state pattern as the
  *    k-means/BPE/LR trainers).
  *  - **search** = probe-cell pruning as PARTITION pruning: the
  *    distinct probed-cell set is at most `cells` values no matter
  *    how many queries probe (collected as a bounded list), so the
  *    corpus scan carries a static `cell IN (...)` partition filter —
  *    `PartitionFilters` on the scan node, audited in
  *    VectorStoreSpec. At 1000 executors the unprobed cells are
  *    never opened, read, or shuffled.
  *
  * Sizing: `cells` is the table's pruning granularity AND its write
  * fan-out. The spec/oracle default (8) matches the direct paths; a
  * 100 TB corpus wants √N-ish cells (FAISS practice, ≥4096) so each
  * partition holds ~256 MB–1 GB — set `cells` accordingly at build
  * and every downstream number (probe cost = nprobe/cells of the
  * corpus) scales with it.
  */
object VectorStore {

  private val PropDim = "graft.vec.dim"
  private val PropM = "graft.vec.m"
  private val PropKs = "graft.vec.ks"
  private val PropCells = "graft.vec.cells"

  /** `cell=` partitions: the probe prunes to the probed cells. */
  private val CellLayout = Warehouse.Layout(partitionBy = Seq("cell"))

  /** Build the index: assign every vector its coarse cell, PQ-encode
    * its residual, and write `(vec_id, embedding, codes)` partitioned
    * by `cell=`, plus the `{table}_model` sidecar (centroids +
    * codebook). Idempotent like [[SeriesStore.write]]. One
    * `repartition(cell)` shuffle at build time buys every future
    * query its pruned read — the build-once/search-many trade. */
  def build(emb: DataFrame, table: String, cells: Int = 8,
            dim: Int = 64, m: Int = 8, ks: Int = 32): Unit = {
    val spark = emb.sparkSession
    val sub = dim / m
    val cents = Similarity.seedCentroids(emb, cells)
    val centsDf = Similarity.centroidFrame(spark, cents)
    val cb = Similarity.residualFrame(emb, cents, centsDf)
    val seedRes: Array[Seq[Double]] = cb
      .orderBy("c_id").limit(ks)
      .select("r").collect()
      .map(_.getSeq[Double](0))
    val bdf = Similarity.pqCodebookFrame(spark, seedRes, m, sub)
    // codes as one ordered array column per vector (j-major), so the
    // stored row stays narrow and the read side re-derives (j, code)
    // rows with a single posexplode
    val codesArr = Similarity.pqEncode(cb, bdf, m, sub)
      .groupBy("c_id")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("code")))),
        x => x("code")).as("codes"))
    Warehouse.create(
      emb.select(col("vec_id"), col("embedding"),
          Similarity.cellAssign(cents)(col("embedding")).as("cell"))
        .join(codesArr.withColumnRenamed("c_id", "vec_id"), Seq("vec_id"))
        .repartition(col("cell")),
      table, CellLayout,
      Map(PropDim -> dim, PropM -> m, PropKs -> ks, PropCells -> cells))
    // model sidecar: centroids (j = -1, idx = cell) + codebook rows
    // (idx = codeword); doubles round-trip parquet bit-exactly
    Warehouse.create(
      centsDf.select(lit("centroid").as("kind"), col("cell").as("idx"),
          lit(-1).as("j"), col("cemb").as("w"))
        .unionByName(bdf.select(lit("codeword").as("kind"),
          col("c").as("idx"), col("j"), col("w")))
        .coalesce(1),
      table + "_model", Warehouse.Layout())
  }

  /** Collect the persisted centroids back (bounded: cells·dim). */
  private def loadCentroids(spark: SparkSession,
                            table: String): Array[Seq[Double]] =
    spark.table(table + "_model")
      .where(col("kind") === "centroid")
      .orderBy("idx").select("w").collect()
      .map(_.getSeq[Double](0))

  private def tableProp(spark: SparkSession, table: String,
                        key: String): Int =
    Warehouse.properties(spark, table)(key).toInt

  /** The distinct probed-cell set for a query frame — AT MOST `cells`
    * values regardless of query count, so collecting it is bounded
    * and the resulting `cell IN (...)` filter prunes partitions at
    * planning time. */
  private def probedCells(queries: DataFrame, cents: Array[Seq[Double]],
                          nprobe: Int): Seq[Int] =
    queries
      .select(Similarity.centroidDists(cents)(col("embedding")).as("qd"))
      .select(explode(Similarity.probeFromDists(col("qd"), cents.length,
        nprobe)).as("probe"))
      .select(col("probe.i").as("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  /** Append a batch of arriving vectors to an EXISTING index — the
    * incremental maintenance path a continuously-embedding corpus
    * needs (FAISS `add()` restated in storage terms, and the vector
    * twin of [[SeriesStore.appendBatch]]): new vectors are assigned
    * cells and PQ-encoded against the PERSISTED model (the index
    * does not retrain on append — exactly FAISS semantics; retrain =
    * [[build]]), then land under their cell= partitions. Every
    * existing query plan is unchanged: searches see old + new rows
    * through the same pruned partition read. */
  def appendBatch(batch: DataFrame, table: String): Unit = {
    val spark = batch.sparkSession
    val dim = tableProp(spark, table, PropDim)
    val m = tableProp(spark, table, PropM)
    val sub = dim / m
    val cents = loadCentroids(spark, table)
    val centsDf = Similarity.centroidFrame(spark, cents)
    val bdf = spark.table(table + "_model")
      .where(col("kind") === "codeword")
      .select(col("idx").as("c"), col("j"), col("w"))
    val cb = Similarity.residualFrame(batch, cents, centsDf)
    val codesArr = Similarity.pqEncode(cb, bdf, m, sub)
      .groupBy("c_id")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("code")))),
        x => x("code")).as("codes"))
    Warehouse.append(
      batch.select(col("vec_id"), col("embedding"),
          Similarity.cellAssign(cents)(col("embedding")).as("cell"))
        .join(codesArr.withColumnRenamed("c_id", "vec_id"), Seq("vec_id"))
        .repartition(col("cell")),
      table, CellLayout)
  }

  /** Compact the index in place — the vector twin of
    * [[SeriesStore.compact]]: every [[appendBatch]] lands one file
    * per written cell per batch, so a long-running ingest fragments
    * the cell partitions into small files whose open/footer cost
    * erodes the pruned read. [[Warehouse.rewrite]] repartitions by
    * cell — one task holds one cell's rows, writes one file — and
    * dynamic-overwrites only the touched partitions. Row set
    * byte-identical; searches keep their pruned plans. */
  def compact(spark: SparkSession, table: String): Unit =
    Warehouse.rewrite(spark, table, CellLayout)(identity)

  /** Continuous vector ingest into the index — Structured Streaming
    * micro-batches through [[appendBatch]] (exactly-once per batch
    * under the checkpoint), the same shape as
    * [[SeriesStore.streamWrite]]. */
  def streamWrite(vectors: DataFrame, table: String,
                  checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    Warehouse.stream(vectors, checkpoint)(appendBatch(_, table))

  /** IVF search over the stored layout: probe cells → pruned
    * partition read → exact cosine rerank. Byte-identical to
    * [[Similarity.ivfAnn]] on the same corpus (same centroids — they
    * were persisted at build — same probe, same scoring). */
  def ivfAnn(spark: SparkSession, table: String, queries: DataFrame,
             k: Int, nprobe: Int = 2): DataFrame = {
    val cents = loadCentroids(spark, table)
    val probed = probedCells(queries, cents, nprobe)
    val cb = spark.table(table)
      .where(col("cell").isin(probed: _*))
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("cell"))
    Similarity.ivfProbeScore(cb, queries, cents, k, nprobe)
  }

  /** IVF-PQ search over the stored layout: probe cells → pruned read
    * of (vec_id, codes) ONLY — the embedding column never leaves
    * storage, the PQ compression contract — → ADC scoring against
    * the persisted codebook. Byte-identical to
    * [[Similarity.ivfpqAnn]] on the same corpus. */
  def ivfpqAnn(spark: SparkSession, table: String, queries: DataFrame,
               k: Int, nprobe: Int = 2): DataFrame = {
    val dim = tableProp(spark, table, PropDim)
    val m = tableProp(spark, table, PropM)
    val sub = dim / m
    val cents = loadCentroids(spark, table)
    val centsDf = Similarity.centroidFrame(spark, cents)
    val bdf = spark.table(table + "_model")
      .where(col("kind") === "codeword")
      .select(col("idx").as("c"), col("j"), col("w"))
    val probed = probedCells(queries, cents, nprobe)
    val codes = spark.table(table)
      .where(col("cell").isin(probed: _*))
      .select(col("vec_id").as("c_id"), col("cell"),
        posexplode(col("codes")).as(Seq("j", "code")))
    Similarity.ivfpqScore(codes, queries, cents, centsDf, bdf, k, m, sub,
      nprobe)
  }
}
