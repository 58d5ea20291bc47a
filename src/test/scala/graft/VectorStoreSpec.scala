package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Similarity
import graft.sources.VectorStore

/** Plan + parity audits for the persisted ANN layout: stored results
  * must be byte-identical to the direct paths, and the stored scan
  * must actually prune unprobed cells at planning time. */
class VectorStoreSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val table: String = {
    VectorStore.build(emb, "graft_vec_spec")
    "graft_vec_spec"
  }
  private def queries = emb.where(col("vec_id") < 10)

  test("stored IVF search is byte-identical to the direct path") {
    val direct = Similarity.ivfAnn(emb, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    val stored = VectorStore.ivfAnn(spark, table, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    assert(stored == direct)
  }

  test("stored IVF-PQ search is byte-identical to the direct path") {
    val direct = Similarity.ivfpqAnn(emb, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    val stored = VectorStore.ivfpqAnn(spark, table, queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    assert(stored == direct)
  }

  /** The corpus-table FileScan lines of a plan (AQE wraps the tree,
    * so match plan-string lines; each scan renders on one line). */
  private def corpusScanLines(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("FileScan") && l.contains(table) &&
        !l.contains(table + "_model"))
      .toSeq

  test("probed read prunes cell partitions at planning time") {
    // nprobe=1 with a single query probes exactly one cell; the scan
    // must carry a static cell-IN partition filter and read a single
    // partition's files
    val one = emb.where(col("vec_id") === 0)
    val df = VectorStore.ivfAnn(spark, table, one, 3, nprobe = 1)
    df.collect()
    val scans = corpusScanLines(df)
    assert(scans.nonEmpty,
      df.queryExecution.executedPlan.toString.take(2000))
    assert(scans.exists(l => l.contains("PartitionFilters") &&
      l.split("PartitionFilters")(1).takeWhile(_ != ']').contains("cell")),
      s"expected cell partition filters: ${scans.mkString}")
  }

  test("PQ search reads codes only — the embedding column stays in storage") {
    val df = VectorStore.ivfpqAnn(spark, table, queries, 5)
    df.collect()
    val scans = corpusScanLines(df)
    assert(scans.nonEmpty)
    scans.foreach { l =>
      val read = l.split("ReadSchema").lift(1).getOrElse(l)
      assert(!read.contains("embedding"),
        s"PQ route must not read the float payload: $l")
    }
  }

  test("appendBatch extends the index under the FROZEN persisted model") {
    val old = emb.where(col("vec_id") % 2 === 0)
    val fresh = emb.where(col("vec_id") % 2 === 1)
    VectorStore.build(old, "graft_vec_app")
    VectorStore.appendBatch(fresh, "graft_vec_app")
    val t = spark.table("graft_vec_app")
    assert(t.count() == emb.count())
    // appended rows carry full PQ codes
    assert(t.where(size(col("codes")) =!= 8).count() == 0)
    // FAISS add() semantics: appends do NOT retrain — the search
    // equals the direct probe-score under the BUILD-time centroids
    // applied to the whole (old ∪ new) corpus
    val cents = Similarity.seedCentroids(old, 8)
    val cb = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"),
      Similarity.cellAssign(cents)(col("embedding")).as("cell"))
    val expect = Similarity.ivfProbeScore(cb, queries, cents, 5, 2)
      .orderBy("q_id", "rk").collect().toSeq
    val got = VectorStore.ivfAnn(spark, "graft_vec_app", queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    assert(got == expect)
  }

  test("stored search parity holds across k and nprobe settings") {
    for (k <- Seq(3, 7); np <- Seq(1, 3)) {
      val direct = Similarity.ivfAnn(emb, queries, k, nprobe = np)
        .orderBy("q_id", "rk").collect().toSeq
      val stored = VectorStore.ivfAnn(spark, table, queries, k, np)
        .orderBy("q_id", "rk").collect().toSeq
      assert(stored == direct, s"k=$k nprobe=$np diverged")
    }
  }

  test("streaming vector ingest appends under the frozen model") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val old = emb.where(col("vec_id") % 2 === 0)
    VectorStore.build(old, "graft_vec_stream")
    val fresh = emb.where(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_vec_stream").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = VectorStore.streamWrite(
      mem.toDF().toDF("vec_id", "embedding"), "graft_vec_stream", ckpt)
    try {
      val (b1, b2) = fresh.splitAt(fresh.size / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("graft_vec_stream").count() == emb.count())
    // searches see streamed + built rows identically to a one-shot
    // frozen-model assignment of the whole corpus
    val cents = Similarity.seedCentroids(old, 8)
    val cb = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"),
      Similarity.cellAssign(cents)(col("embedding")).as("cell"))
    val expect = Similarity.ivfProbeScore(cb, queries, cents, 5, 2)
      .orderBy("q_id", "rk").collect().toSeq
    val got = VectorStore.ivfAnn(spark, "graft_vec_stream", queries, 5)
      .orderBy("q_id", "rk").collect().toSeq
    assert(got == expect)
  }

  test("compact folds appended fragments to one file per cell, rows identical") {
    val old = emb.where(col("vec_id") % 2 === 0)
    VectorStore.build(old, "graft_vec_cmp")
    // three appends fragment every written cell
    (0 until 3).foreach { i =>
      VectorStore.appendBatch(
        emb.where(col("vec_id") % 2 === 1 && col("vec_id") % 6 === 2 * i + 1),
        "graft_vec_cmp")
    }
    val before = spark.table("graft_vec_cmp").orderBy("vec_id")
      .collect().map(_.toSeq).toSeq
    VectorStore.compact(spark, "graft_vec_cmp")
    val after = spark.table("graft_vec_cmp").orderBy("vec_id")
      .collect().map(_.toSeq).toSeq
    assert(after == before)
    // one parquet file per cell directory
    val loc = new java.io.File("/tmp/graft-warehouse/graft_vec_cmp")
    val perCell = loc.listFiles().filter(_.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perCell.nonEmpty && perCell.forall(_._2 == 1), perCell.toSeq.toString)
  }

  test("compaction keeps appends committed through another session") {
    // see StoreSpec's test of the same name: a foreachBatch writer
    // appends through its own session, and compacting from this one
    // must not overwrite the cells from a stale listing
    val t = "graft_vec_other_session"
    VectorStore.build(emb.where(col("vec_id") % 2 === 0), t)
    val built = spark.table(t).count() // lists the cells
    VectorStore.appendBatch(
      Tables.embeddings(spark.newSession(), sf).where(col("vec_id") % 2 === 1), t)
    VectorStore.compact(spark, t)
    assert(built < emb.count())
    assert(spark.newSession().table(t).count() == emb.count(),
      "compaction dropped vectors appended through another session")
  }

  test("the model sidecar is the bounded build artifact") {
    val mdl = spark.table(table + "_model")
    assert(mdl.where(col("kind") === "centroid").count() == 8)
    assert(mdl.where(col("kind") === "codeword").count() == 32 * 8)
  }
}
