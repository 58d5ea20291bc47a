package graftbench

import graft.Materialize
import graft.pipeline.{Corpus, Dedup, Similarity, TextAnalysis}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random

/** Training-data curation jobs run back to back by one client. Each
  * job takes its own seeded subset of the documents (so no session
  * memo can serve one job from an earlier one) and a seeded set of
  * query vectors, and runs exact dedup, MinHash + LSH candidates,
  * signature verification, dup clusters, quality/language gates,
  * budgeted selection and IVF top-k. Every stage's output is
  * materialized as the job's artifact. */
final class Curate(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val K = 10
  /** Share of the documents (percent) and of the vectors (per mille) a job takes. */
  private val DocPct = 12
  /** Jobs per round: the client runs whole rounds, so a run's median
    * is over at least this many jobs. */
  private val Round = 4
  private val QueryPerMille = 20
  /** The IVF recall@10 floor. On the isotropic sf0.1-shaped vectors
    * (8 cells, 2 probed) jobs of this tree measured 0.39-0.45; the
    * floor leaves room for job-to-job spread. */
  private val RecallFloor = 0.3
  /** Token budget of the selection stage. */
  private val Budget = 20000L
  /** The C4 gate's minimum word count (`c4Filters`' default). */
  private val MinWords = 50

  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  /** Document texts by id, for the checks. */
  private var texts: Map[Long, String] = Map.empty
  private val jobs = mutable.ArrayBuffer.empty[JobOut]

  /** A job's artifacts, collected for the checks. */
  final case class JobOut(seed: Long, queries: DataFrame, taken: Array[Long], firsts: Set[Long],
                          pairs: Array[(Long, Long)], clusters: Map[Long, Long], gated: Set[Long],
                          ranking: Array[Ranked], ann: Array[(Long, Long)])
  /** One row of `budgetSelect`'s output. */
  final case class Ranked(doc: Long, quality: Double, tokens: Long, rank: Long, selected: Boolean)

  def primaryKinds: Set[String] = Set("job")

  def setup(): Unit = {
    val rng = new Random(ctx.seed)
    ctx.phase("setup.generate") {
      val docRows = Gen.documents(rng, ctx.scale.docs)
      texts = docRows.map(r => r.getLong(0) -> r.getString(1)).toMap
      Gen.writeParquet(spark.createDataFrame(
        java.util.Arrays.asList(docRows: _*), Gen.docSchema), ctx.input, "documents")
      Gen.writeParquet(spark.createDataFrame(
        java.util.Arrays.asList(Gen.embeddings(rng, ctx.scale.vectors): _*), Gen.vecSchema),
        ctx.input, "embeddings")
    }
    docs = graft.Tables.documents(spark, ctx.input)
    vecs = graft.Tables.embeddings(spark, ctx.input)
    ctx.phase("setup.warmup")(job(-1L - ctx.seed, record = false, pct = 10))
  }

  private def stage[T](name: String)(body: => T): T = Trace.span("pipeline", name)(body)
  private def art(df: DataFrame): DataFrame = Materialize(df, eager = true)

  /** One curate job; returns the number of documents it took. */
  private def job(jobSeed: Long, record: Boolean, pct: Int = DocPct): Long = {
    val sub = docs.where(pmod(xxhash64(col("doc_id"), lit(jobSeed)), lit(100)) < pct)
    val queries = vecs.where(pmod(xxhash64(col("vec_id"), lit(jobSeed)), lit(1000)) < QueryPerMille)
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { held += df; df }
    try {
      val exact = stage("exact")(keep(art(Dedup.exact(sub))))
      val firsts = sub.join(exact.where(col("is_dup") === 0).select("doc_id"), "doc_id")
      val (sigs, cands) = stage("minhash") {
        val s = keep(art(Dedup.minhashSignature(firsts)))
        (s, keep(art(Dedup.minhashCandidates(s))))
      }
      val pairs = stage("verify")(keep(art(Dedup.verifyCandidates(sigs, cands))))
      val clusters = stage("clusters")(keep(art(Corpus.dupClusters(firsts, pairs))))
      val gates = stage("gates") {
        keep(art(TextAnalysis.gopherQuality(firsts).select("doc_id", "gopher_pass")
          .join(TextAnalysis.c4Filters(firsts).select("doc_id", "c4_pass"), "doc_id")
          .join(TextAnalysis.languageId(firsts).select("doc_id", "pred_lang"), "doc_id")
          .where(col("gopher_pass") === 1 && col("c4_pass") === 1 && col("pred_lang") =!= "und")
          .select("doc_id")))
      }
      val canon = firsts.join(gates, "doc_id")
        .join(clusters.where(col("cluster_id") === col("doc_id")).select("doc_id"), "doc_id")
      val ranking = stage("select")(keep(art(Corpus.budgetSelect(canon, Budget))))
      val ann = stage("ann")(keep(art(Similarity.ivfAnn(vecs, queries, K))))
      val n = exact.count()
      if (record) {
        val ls = (df: DataFrame, c: String) => df.select(c).collect().map(_.getLong(0))
        val candN = cands.count()
        val pairRows = pairs.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
        precision += ((pairRows.length.toLong, candN))
        jobs.synchronized {
          jobs += JobOut(jobSeed, queries, ls(exact, "doc_id"), ls(firsts, "doc_id").toSet, pairRows,
            clusters.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap,
            ls(gates, "doc_id").toSet,
            ranking.select("doc_id", "quality_score", "n_tokens", "rank", "selected").collect()
              .map(r => Ranked(r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getInt(4) == 1)),
            ann.select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))))
        }
      }
      n
    } finally {
      held.foreach(Materialize.free)
      Dedup.clearShingleCache()
      Corpus.clearClusterCache()
    }
  }

  private val precision = mutable.ArrayBuffer.empty[(Long, Long)]

  def timed(deadlineNs: Long): Unit = {
    var j = 0L
    while (System.nanoTime() < deadlineNs) {
      for (_ <- 0 until Round) {
        ctx.timedOp("job", ctx.traceNext("job"))(job(ctx.seed * 1000L + j, record = true))
        j += 1
      }
    }
  }

  /** Connected components of the verified pairs, labeled by their min id. */
  private def components(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private val recalls = mutable.ArrayBuffer.empty[Double]

  /** BPE-ish token count of a text: ceil(length / 4) per word. */
  private def tokens(text: String): Long = text.split(" ").map(w => (w.length + 3) / 4L).sum

  /** The selection ranks exactly the gated canonical documents by
    * (quality desc, doc_id), carries each text's token count, selects
    * the prefix whose running total before each document stays under
    * the budget, and selects at least one document, each of which
    * passes the C4 word-count gate. */
  private def selectionOk(j: JobOut): Boolean = {
    val canon = j.firsts.filter(d => j.gated.contains(d) && j.clusters.get(d).contains(d))
    val byRank = j.ranking.sortBy(_.rank)
    var before = 0L
    val prefixOk = byRank.forall { r => val ok = r.selected == (before < Budget); before += r.tokens; ok }
    j.ranking.map(_.doc).toSet == canon && j.ranking.length == canon.size &&
      byRank.map(_.rank).sameElements(1L to byRank.length.toLong) &&
      byRank.map(r => (-r.quality, r.doc)).sameElements(byRank.map(r => (-r.quality, r.doc)).sorted) &&
      j.ranking.forall(r => r.tokens == tokens(texts(r.doc))) && prefixOk &&
      j.ranking.exists(_.selected) &&
      j.ranking.filter(_.selected).forall(r => texts(r.doc).split(" ").length >= MinWords)
  }

  def check(): Unit = ctx.phase("check.jobs") {
    for (j <- jobs) {
      val comp = components(j.pairs)
      // exact dedup keeps the lowest id of each text in the job's subset
      val exactOk = j.taken.groupBy(texts).values.map(_.min).toSet == j.firsts
      // one cluster row per surviving document, every verified pair's
      // documents among them, and labels equal to the pairs' components
      val clustersOk = j.clusters.keySet == j.firsts &&
        j.pairs.forall { case (a, b) => j.firsts.contains(a) && j.firsts.contains(b) } &&
        j.clusters.forall { case (d, c) => c == comp.getOrElse(d, d) }
      val selectOk = selectionOk(j)
      val exactTop = Similarity.cosineTopK(vecs, j.queries, K).select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = if (exactTop.isEmpty) 1.0 else j.ann.count(exactTop.contains).toDouble / exactTop.size
      recalls.synchronized { recalls += recall }
      if (!(exactOk && clustersOk && selectOk && recall >= RecallFloor)) {
        println(s"failure job ${j.seed}: exact=$exactOk clusters=$clustersOk select=$selectOk recall=$recall")
        ctx.lateFailures.incrementAndGet()
      }
    }
  }

  def throughput(timedS: Double): Double = ctx.allOps.filter(_.ok).map(_.units).sum / timedS

  def finish(timedS: Double): Unit = {
    ctx.line("curate_s", Stats.median(ctx.allOps.map(_.latMs)) / 1000.0, "s")
    ctx.line("docs_per_s", throughput(timedS), "1/s")
    if (recalls.nonEmpty) ctx.line("ann_recall_at_10_min", recalls.min, "1")
    val (v, c) = (precision.map(_._1).sum, precision.map(_._2).sum)
    if (c > 0) ctx.layer("pipeline.lsh_precision", v.toDouble / c)
  }
}
