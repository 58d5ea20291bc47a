package graftbench

import scala.jdk.CollectionConverters._

/** Folds the traced run's spans and task counters into the per-layer
  * metrics. A span's self time is its duration minus its children's;
  * an op's root span self time is the part of the op no layer span
  * covers (reported as `trace.unattributed_pct`). */
object Reducer {
  val Layers: Seq[String] =
    Seq("promql", "graphite", "m3ql", "spark", "tsdb", "sources", "streaming", "pipeline")

  /** Every per-layer metric a traced run prints, with its unit. */
  val Catalog: Seq[(String, String)] = Layers.map(l => s"self.${l}_ms_per_op" -> "ms") ++ Seq(
    "trace.unattributed_pct" -> "%",
    "trace.overhead_pct" -> "%",
    "promql.build_ms" -> "ms",
    "graphite.build_ms" -> "ms",
    "m3ql.build_ms" -> "ms",
    "spark.plan_ms" -> "ms",
    "spark.exec_ms" -> "ms",
    "spark.jobs_per_query" -> "count",
    "spark.stages_per_query" -> "count",
    "spark.tasks_per_query" -> "count",
    "spark.cpu_busy_ratio" -> "1",
    "spark.shuffle_bytes_per_query" -> "B",
    "spark.gc_ms_per_op" -> "ms",
    "jvm.peak_heap_after_gc_mb" -> "MB",
    "sources.rows_scanned_per_row_returned" -> "1",
    "sources.bytes_scanned_per_query" -> "B",
    "sources.tsz_decode_ms" -> "ms",
    "tsdb.index_complete_ms" -> "ms",
    "sources.tsz_append_ms" -> "ms",
    "sources.series_append_ms" -> "ms",
    "tsdb.rollup_ms" -> "ms",
    "sources.compact_ms" -> "ms",
    "sources.files_at_read" -> "count",
    "sources.compaction_bytes_per_sample" -> "B",
    "sources.tsz_bytes_per_sample" -> "B",
    "sources.series_bytes_per_sample" -> "B",
    "streaming.batch_ms" -> "ms",
    "streaming.overhead_ms" -> "ms",
    "pipeline.exact_ms" -> "ms",
    "pipeline.minhash_ms" -> "ms",
    "pipeline.verify_ms" -> "ms",
    "pipeline.clusters_ms" -> "ms",
    "pipeline.gates_ms" -> "ms",
    "pipeline.select_ms" -> "ms",
    "pipeline.ann_ms" -> "ms",
    "pipeline.lsh_precision" -> "1",
    "pipeline.shuffle_bytes_per_doc" -> "B")

  /** Median of the given times (ms); 0 when none ran. */
  private def p50(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  def reduce(ctx: Ctx, listener: Trace.Listener, spans: Seq[Span],
             gcMs: Long): Seq[(String, Double, String)] = {
    val tracedOps = ctx.allOps.filter(_.traced)
    val roots = spans.filter(_.parent == 0L)
    val rootIds = roots.map(_.id).toSet
    val byOp = spans.groupBy(_.op).filter { case (op, _) => rootIds.contains(op) }
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    def selfMs(s: Span): Double = (s.durNs - childNs.getOrElse(s.id, 0L)) / 1e6
    val nOps = math.max(1, roots.size)

    val out = Seq.newBuilder[(String, Double)]
    val selfByLayer = spans.filter(_.parent != 0L).groupBy(_.layer)
      .map { case (l, ss) => l -> ss.map(selfMs).sum }
    Layers.foreach(l => out += s"self.${l}_ms_per_op" -> selfByLayer.getOrElse(l, 0.0) / nOps)
    val rootMs = roots.map(_.durNs / 1e6).sum
    out += "trace.unattributed_pct" -> (if (rootMs > 0) 100.0 * roots.map(selfMs).sum / rootMs else 0.0)

    // overhead: traced vs untraced latency of the same op kinds
    val ratios = ctx.allOps.filter(_.ok).groupBy(_.kind).toSeq.flatMap { case (_, os) =>
      val (t, u) = os.partition(_.traced)
      if (t.nonEmpty && u.nonEmpty) Some((Stats.median(t.map(_.latMs)) / Stats.median(u.map(_.latMs)), os.size))
      else None
    }
    val wsum = ratios.map(_._2).sum
    out += "trace.overhead_pct" -> (if (wsum > 0)
      100.0 * (math.exp(ratios.map { case (r, n) => math.log(r) * n }.sum / wsum) - 1.0) else 0.0)

    def named(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
    def layerP50(layer: String) = p50(spans.filter(_.layer == layer).map(selfMs))
    out += "promql.build_ms" -> layerP50("promql")
    out += "graphite.build_ms" -> layerP50("graphite")
    out += "m3ql.build_ms" -> layerP50("m3ql")
    out += "spark.plan_ms" -> p50(named("spark", "plan").map(selfMs))
    out += "spark.exec_ms" -> p50(named("spark", "exec").map(selfMs))

    // task counters per panel op (write batches, compactions and curate
    // jobs have their own metrics)
    val sumsBySpan = listener.bySpan.asScala
    val opSums = byOp.map { case (op, ss) =>
      val t = new TaskSums
      ss.foreach(s => sumsBySpan.get(s.id).foreach(t.add))
      op -> t
    }
    val panelOps = roots.filter(_.name.startsWith("panel.")).map(_.id)
    def perQuery(f: TaskSums => Long): Double =
      if (panelOps.isEmpty) 0.0 else panelOps.flatMap(opSums.get).map(f).sum.toDouble / panelOps.size
    out += "spark.jobs_per_query" -> perQuery(_.jobs)
    out += "spark.stages_per_query" -> perQuery(_.stages)
    out += "spark.tasks_per_query" -> perQuery(_.tasks)
    // task CPU of the panels' collect calls over their wall time × cores
    val execs = named("spark", "exec")
    val execWallNs = execs.map(_.durNs).sum.toDouble
    out += "spark.cpu_busy_ratio" -> (if (execWallNs > 0)
      execs.flatMap(s => sumsBySpan.get(s.id)).map(_.cpuNs).sum / (execWallNs * ctx.cores) else 0.0)
    out += "spark.shuffle_bytes_per_query" -> perQuery(_.shuffleWritten)
    out += "spark.gc_ms_per_op" -> gcMs.toDouble / math.max(1, ctx.allOps.size)

    // scan efficiency over panel ops that returned rows
    val rows = panelOps.map(id => ctx.rowsByOp.getOrDefault(id, 0L)).sum
    val read = panelOps.flatMap(opSums.get).map(_.recordsRead).sum
    out += "sources.rows_scanned_per_row_returned" -> (if (rows > 0) read.toDouble / rows else 0.0)
    out += "sources.bytes_scanned_per_query" ->
      (if (panelOps.nonEmpty) panelOps.flatMap(opSums.get).map(_.bytesRead).sum.toDouble / panelOps.size else 0.0)
    // op latencies: every op of the kind counts, traced or not
    def opP50(kind: String) = p50(ctx.allOps.filter(o => o.ok && o.kind == kind).map(_.latMs))
    out += "sources.tsz_decode_ms" -> opP50("panel.tsz")
    out += "tsdb.index_complete_ms" -> opP50("panel.index")
    out += "sources.tsz_append_ms" -> p50(named("sources", "tsz_append").map(selfMs))
    out += "sources.series_append_ms" -> p50(named("sources", "series_append").map(selfMs))
    out += "tsdb.rollup_ms" -> p50(named("tsdb", "rollup_append").map(selfMs))
    out += "sources.compact_ms" -> p50(spans.filter(s => s.layer == "sources" && s.name.endsWith("_compact")).map(selfMs))
    val batches = named("streaming", "batch")
    out += "streaming.batch_ms" -> p50(batches.map(_.durNs / 1e6))
    out += "streaming.overhead_ms" -> p50(batches.map(selfMs))
    for (st <- Seq("exact", "minhash", "verify", "clusters", "gates", "select", "ann"))
      out += s"pipeline.${st}_ms" -> p50(named("pipeline", st).map(selfMs))
    val pipeShuffle = spans.filter(_.layer == "pipeline")
      .flatMap(s => sumsBySpan.get(s.id)).map(_.shuffleWritten).sum
    val docs = tracedOps.filter(_.kind == "job").map(_.units).sum
    out += "pipeline.shuffle_bytes_per_doc" -> (if (docs > 0) pipeShuffle.toDouble / docs else 0.0)

    val computed = out.result().toMap
    val fromWorkload = ctx.layerValues
    Catalog.map { case (n, u) =>
      (n, fromWorkload.getOrElse(n, computed.getOrElse(n, 0.0)), u)
    }
  }
}
