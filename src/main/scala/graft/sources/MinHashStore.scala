package graft.sources

import graft.Materialize.MatOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.Dedup

/** Persisted MinHash-LSH index — fuzzy dedup's at-rest state, the
  * third physical layout next to [[SeriesStore]] (series) and
  * [[VectorStore]] (vectors): a continuously-crawled corpus cannot
  * re-shingle 100 TB of history per arriving batch, so the banded
  * postings and the signatures ARE the stored artifact and a batch
  * probes them with batch-sized work only. ([[Dedup.incremental]]
  * is the exact-hash form of this; the reference's analogue is
  * m3db's fileset index blooms/postings consulted before touching
  * blocks.)
  *
  * Layout:
  *  - `{table}`: banded postings (doc_id, band, bucket, bsz)
  *    BUCKETED BY bucket — the probe's equi-join key, so history's
  *    side of the candidate join is read pre-distributed; `bsz` is
  *    the build-time bucket size, letting the probe apply the
  *    hot-bucket cap ([[Dedup.minhashCandidates]]'s guard) as a
  *    pushed filter instead of a recount.
  *  - `{table}_sigs`: signatures (doc_id, mh0..mh{k-1}) bucketed by
  *    doc_id — the verification join's key.
  *
  * A probe never reads history TEXT: candidates come from the
  * postings join (batch side broadcast), verification from the
  * signature sidecar — the same agree≥minAgree Jaccard estimate as
  * the batch path, so stored results match the direct computation
  * (the store_dedup_probe oracle replays it end-to-end).
  *
  * Appends add an arriving batch's postings + signatures under the
  * same layout (bsz = 1 sentinel: cap bookkeeping is refreshed at
  * [[build]]-time/compaction, never blocks ingest — a bucket that
  * goes hot between rebuilds is caught by the next one, exactly how
  * fileset blooms age). */
object MinHashStore {

  private val PropK = "graft.mh.k"
  private val PropBands = "graft.mh.bands"
  private val PropRows = "graft.mh.rows"
  private val PropN = "graft.mh.n"
  private val PropBuckets = "graft.mh.buckets"

  /** Postings bucketed by `bucket`, signatures by `doc_id`. */
  private def postingsLayout(buckets: Int) =
    Warehouse.Layout(buckets = buckets, bucketBy = Seq("bucket"))
  private def sigsLayout(buckets: Int) =
    Warehouse.Layout(buckets = buckets, bucketBy = Seq("doc_id"))

  /** Index a corpus: signatures once, banded postings with
    * build-time bucket sizes, both written bucketed on their join
    * keys. */
  def build(docs: DataFrame, table: String, k: Int = 16, bands: Int = 8,
            rows: Int = 2, n: Int = 3, buckets: Int = 8): Unit = {
    val sigs = Dedup.minhashSignature(docs, k, n).materialize(true)
    Warehouse.create(sigs, table + "_sigs", sigsLayout(buckets))
    Warehouse.create(
      Dedup.bandedBuckets(sigs, bands, rows)
        .withColumn("bsz",
          count(lit(1)).over(Window.partitionBy("band", "bucket"))),
      table, postingsLayout(buckets),
      Map(PropK -> k, PropBands -> bands, PropRows -> rows, PropN -> n,
        PropBuckets -> buckets))
  }

  private def props(spark: SparkSession,
                    table: String): (Int, Int, Int, Int, Int) = {
    val p = Warehouse.properties(spark, table)
    (p(PropK).toInt, p(PropBands).toInt, p(PropRows).toInt, p(PropN).toInt,
      p(PropBuckets).toInt)
  }

  /** Probe: verified near-dup pairs (history doc_a, arriving doc_b)
    * of a batch against the index — batch-sized work: the batch's
    * signatures/buckets compute fresh and BROADCAST against the
    * stored postings (hot buckets capped via the stored bsz), then
    * the candidate list verifies against the signature sidecar.
    * History text is never read. */
  def probe(spark: SparkSession, table: String, batch: DataFrame,
            minAgree: Int = 8, maxBucket: Int = 1000): DataFrame = {
    val (k, bands, rows, n, _) = props(spark, table)
    val bsigs = Dedup.minhashSignature(batch, k, n).materialize(true)
    val bbuk = Dedup.bandedBuckets(bsigs, bands, rows)
      .withColumnRenamed("doc_id", "doc_b")
    val cands = spark.table(table)
      .where(col("bsz") <= maxBucket)
      .join(broadcast(bbuk), Seq("band", "bucket"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    val hsig = spark.table(table + "_sigs").select(
      col("doc_id").as("doc_a") +:
        (0 until k).map(i => col(s"mh$i").as(s"_la$i")): _*)
    val bsig = bsigs.select(
      col("doc_id").as("doc_b") +:
        (0 until k).map(i => col(s"mh$i").as(s"_ra$i")): _*)
    val agree = (0 until k)
      .map(i => when(col(s"_la$i") === col(s"_ra$i"), 1).otherwise(0))
      .reduce(_ + _)
    cands.join(hsig, "doc_a").join(broadcast(bsig), "doc_b")
      .withColumn("agree", agree)
      .where(col("agree") >= minAgree)
      .select(col("doc_a"), col("doc_b"), col("agree").cast("long").as("agree"),
        round(col("agree") / lit(k.toDouble), 6).as("est_jaccard"))
  }

  /** Fold an accepted batch into the index: its postings (bsz = 1
    * sentinel — see the class note) and signatures append under the
    * same bucketed layout, so the next probe sees it as history. */
  def append(batch: DataFrame, table: String): Unit = {
    val spark = batch.sparkSession
    val (k, bands, rows, n, buckets) = props(spark, table)
    val sigs = Dedup.minhashSignature(batch, k, n).materialize(true)
    // the bucketed-append path SeriesStore.appendBatch uses — readers
    // keep the bucket distribution across appended files
    Warehouse.append(sigs, table + "_sigs", sigsLayout(buckets))
    Warehouse.append(
      Dedup.bandedBuckets(sigs, bands, rows).withColumn("bsz", lit(1L)),
      table, postingsLayout(buckets))
  }
}
