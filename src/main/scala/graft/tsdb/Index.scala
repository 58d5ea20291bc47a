package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** m3ninx restated — the inverted index the dbnode consults for
  * label matching (/root/reference/src/m3ninx: segment terms
  * dictionaries + postings lists, FST-regex over terms) — as
  * relational frames. The direct route ([[Fetch]]) pushes matcher
  * predicates into the sample scan; THIS route resolves matchers
  * against the index frames (built here by one series-level
  * distinct; a cluster deployment maintains them incrementally, so
  * resolution reads no sample rows at all): regexes evaluate over
  * the TERMS DICTIONARY (distinct (label, value) pairs — m3ninx
  * runs its regex automaton over the FST's term space for exactly
  * this reason), and the surviving terms' postings intersect down
  * to the series set.
  *
  * Scale: the terms dictionary and postings frames are orders of
  * magnitude smaller than the sample store and are exactly what a
  * cluster deployment maintains incrementally next to the bucketed
  * layout; a matcher touches |terms(label)| rows for the regex and
  * |matched postings| rows for the intersection — series-count
  * work, never datapoint-count work. Matcher intersection is a
  * chain of set intersections on the series key.
  */
object Index {

  /** Postings-size table — one row per (label, value) term with its
    * posting-list size: m3's index-cardinality view (the operational
    * answer to "which label explodes my index"). */
  def postings(samples: DataFrame, labelCols: Seq[String]): DataFrame = {
    val series = samples
      .select(labelCols.map(c => col(c).cast("string").as(c)): _*)
      .distinct()
    labelCols.map { l =>
      // a NULL label value is an ABSENT term, not a term: m3ninx's
      // terms dictionary only holds present values (and the oracle's
      // count(DISTINCT x) skips NULLs) — same guard as
      // indexCompleteTags' tag_value IS NOT NULL
      series.where(col(l).isNotNull)
        .groupBy(col(l).as("value"))
        .agg(count(lit(1)).as("n_series"))
        .select(lit(l).as("label"), col("value"), col("n_series"))
    }.reduce(_ unionByName _)
  }

  /** One-row index cardinality summary — the capacity-planning view
    * (m3 operators watch exactly these numbers: total series, label
    * names, and the worst-cardinality label that is about to blow up
    * the index): n_series, n_labels, the max per-label value count
    * and which label owns it (ties to the lexicographically first). */
  def cardinality(samples: DataFrame, labelCols: Seq[String]): DataFrame = {
    val p = postings(samples, labelCols)
    val series = samples
      .select(labelCols.map(c => col(c).cast("string").as(c)): _*)
      .distinct()
    val perLabel = p.groupBy("label").agg(count(lit(1)).as("n_values"))
    series.agg(count(lit(1)).as("n_series"))
      .crossJoin(perLabel.agg(count(lit(1)).as("n_labels")))
      .crossJoin(perLabel.orderBy(col("n_values").desc, col("label").asc)
        .limit(1)
        .select(col("label").as("top_label"),
          col("n_values").as("top_label_values")))
  }

  private def termPredicate(m: Fetch.Matcher): Column = m.op match {
    case Fetch.Eq    => col("value") === lit(m.value)
    case Fetch.NotEq => col("value") =!= lit(m.value)
    case Fetch.Re    => col("value").rlike(s"^(?:${m.value})$$")
    case Fetch.NotRe => !col("value").rlike(s"^(?:${m.value})$$")
  }

  /** Postings-size-ordered matcher plan: the index of each matcher,
    * smallest matched-postings-list first (ties keep the original
    * order) — m3ninx intersects postings lists in size order for
    * exactly this reason (the first, smallest set bounds every later
    * intersection's work). Sizes are summed over the matched terms'
    * posting-list lengths: series-cardinality work against the index
    * frames, ONE bounded job (|matchers| result rows), never a
    * sample-row read. */
  private[graft] def matcherSizes(post: DataFrame, terms: DataFrame,
                                  matchers: Seq[Fetch.Matcher]): Map[Int, Long] = {
    val matched = matchers.zipWithIndex.map { case (m, i) =>
      val label = if (m.label == "__name__") "name" else m.label
      terms.where(col("label") === label && termPredicate(m))
        .select(lit(i).as("mi"), col("label"), col("value"))
    }.reduce(_ unionByName _)
    post
      .join(broadcast(matched), Seq("label", "value"))
      .groupBy("mi").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  private[graft] def matcherOrder(post: DataFrame, terms: DataFrame,
                                  matchers: Seq[Fetch.Matcher]): Seq[Int] = {
    val sizes = matcherSizes(post, terms, matchers)
    matchers.indices.sortBy(i => (sizes.getOrElse(i, 0L), i))
  }

  /** Resolve a matcher conjunction through the index: per matcher, a
    * terms-dictionary scan selects the matching values (the regex
    * runs over distinct terms, not rows), a semi-join pulls that
    * term's postings, and the per-matcher series sets intersect —
    * SMALLEST postings list first ([[matcherOrder]], m3ninx's
    * size-ordered intersection). Returns the matched series
    * identities — byte-equal to the direct scan route (intersection
    * is order-insensitive; ordering only shapes the plan), without
    * reading a single sample row. */
  def indexMatch(samples: DataFrame, matchers: Seq[Fetch.Matcher],
                 labelCols: Seq[String]): DataFrame =
    indexMatchWithBound(samples, matchers, labelCols,
      wantBound = false)._1

  /** [[indexMatch]] plus the plan-time |result| bound the postings
    * stats give for free: the intersection is a subset of EVERY
    * matched postings list, so the smallest matched size bounds the
    * resolved series count (None when stats were not collected —
    * single matcher, bound not requested). */
  private def indexMatchWithBound(
      samples: DataFrame, matchers: Seq[Fetch.Matcher],
      labelCols: Seq[String],
      wantBound: Boolean): (DataFrame, Option[Long]) = {
    require(matchers.nonEmpty, "index route needs at least one matcher")
    val series = samples
      .select(labelCols.map(c => col(c).cast("string").as(c)): _*)
      .distinct()
    val post = labelCols.map { l =>
      // NULL terms never enter the postings frame (see postings())
      series.where(col(l).isNotNull)
        .select(lit(l).as("label"), col(l).as("value"),
          struct(labelCols.map(col): _*).as("sid"))
    }.reduce(_ unionByName _)
    val terms = post.select("label", "value").distinct()
    val sizes: Option[Map[Int, Long]] =
      if (matchers.size > 1 || wantBound)
        Some(matcherSizes(post, terms, matchers))
      else None
    val ordered = sizes match {
      case Some(sz) =>
        matchers.indices.sortBy(i => (sz.getOrElse(i, 0L), i)).map(matchers)
      case None => matchers
    }
    val perMatcher = ordered.map { m =>
      val label = if (m.label == "__name__") "name" else m.label
      val matchedTerms = terms
        .where(col("label") === label && termPredicate(m))
      post.join(broadcast(matchedTerms), Seq("label", "value"), "leftsemi")
        .select("sid")
    }
    val resolved = perMatcher.reduce(_ intersect _)
      .select(col("sid.*"))
      .orderBy(labelCols.map(col): _*)
    (resolved,
      sizes.map(sz => matchers.indices.map(i => sz.getOrElse(i, 0L)).min))
  }

  /** Index-served tag completion — m3 answers CompleteTags FROM the
    * index (src/m3ninx aggregated-terms queries; the /labels search
    * surface never touches sample blocks): matchers resolve to a
    * series set via [[indexMatch]], and the result is the distinct
    * (tag_name, tag_value) pairs present on those series — all of it
    * series-cardinality work over the index frames. This form
    * indexes ALL time; time-bounded completion goes through the
    * block-segmented at-rest layout ([[writeBlockSegments]] /
    * [[boundedCompleteTags]]). */
  def indexCompleteTags(samples: DataFrame, matchers: Seq[Fetch.Matcher],
                        labelCols: Seq[String]): DataFrame =
    indexMatch(samples, matchers, labelCols)
      .select(explode(array(labelCols.map(n =>
        struct(lit(n).as("tag_name"), col(n).as("tag_value"))): _*)).as("t"))
      .select(col("t.tag_name"), col("t.tag_value"))
      .where(col("tag_value").isNotNull)
      .distinct()

  /** Block-segmented at-rest index — m3ninx's
    * block-per-time-window segments (/root/reference/src/m3ninx:
    * per-block segment readers; the index the dbnode consults is a
    * SEQUENCE of time-blocked segments, and a bounded query opens
    * only the overlapping blocks) restated as a block-PARTITIONED
    * postings table: one row per (block, label, value, sid), block =
    * UTC day (the TszStore convention). A time-bounded matcher query
    * prunes blocks at PLANNING time (partition pruning — the
    * dt-prune a 1000-block index needs; PlanSpec audits the
    * PartitionFilters) and never opens an out-of-range segment.
    *
    * Scale: the table is (series-block presence) × labels — index
    * cardinality, orders of magnitude under datapoint cardinality;
    * a cluster maintains it incrementally per closed block exactly
    * like m3ninx seals per-block segments. */
  def writeBlockSegments(samples: DataFrame, table: String,
                         labelCols: Seq[String]): Unit = {
    val block = floor(unix_timestamp(col("ts")).cast("double") / 86400.0)
      .cast("long")
    val seg = samples.withColumn("block", block)
      .select(labelCols.map(c => col(c).cast("string").as(c)) :+
        col("block"): _*)
      .distinct()
    graft.sources.Warehouse.create(
      labelCols.map { l =>
        // NULL terms never enter a segment (same rule as postings())
        seg.where(col(l).isNotNull)
          .select(lit(l).as("label"), col(l).as("value"),
            struct(labelCols.map(col): _*).as("sid"), col("block"))
      }.reduce(_ unionByName _),
      table, graft.sources.Warehouse.Layout(partitionBy = Seq("block")))
  }

  /** Time-bounded matcher resolution over the block-segmented
    * index: blocks outside [fromBlock, untilBlock) prune at the
    * scan (m3ninx: only overlapping segments open), then the
    * standard size-ordered terms/postings intersection runs over
    * the surviving segments' union. With per-series constant tags,
    * intersect-within-block-then-union-blocks (m3's order) equals
    * intersect-over-the-bounded-union — the cheaper form. */
  def boundedMatch(post0: DataFrame, matchers: Seq[Fetch.Matcher],
                   labelCols: Seq[String],
                   fromBlock: Long, untilBlock: Long): DataFrame =
    boundedMatchWithBound(post0, matchers, labelCols, fromBlock,
      untilBlock, wantBound = false)._1

  private def boundedMatchWithBound(
      post0: DataFrame, matchers: Seq[Fetch.Matcher],
      labelCols: Seq[String], fromBlock: Long, untilBlock: Long,
      wantBound: Boolean): (DataFrame, Option[Long]) = {
    require(matchers.nonEmpty, "index route needs at least one matcher")
    val post = post0
      .where(col("block") >= fromBlock && col("block") < untilBlock)
    val terms = post.select("label", "value").distinct()
    val sizes: Option[Map[Int, Long]] =
      if (matchers.size > 1 || wantBound)
        Some(matcherSizes(post.select("label", "value"), terms, matchers))
      else None
    val ordered = sizes match {
      case Some(sz) =>
        matchers.indices.sortBy(i => (sz.getOrElse(i, 0L), i)).map(matchers)
      case None => matchers
    }
    val perMatcher = ordered.map { m =>
      val label = if (m.label == "__name__") "name" else m.label
      val matchedTerms = terms
        .where(col("label") === label && termPredicate(m))
      post.join(broadcast(matchedTerms), Seq("label", "value"), "leftsemi")
        .select("sid")
    }
    (perMatcher.reduce(_ intersect _).select(col("sid.*")),
      sizes.map(sz => matchers.indices.map(i => sz.getOrElse(i, 0L)).min))
  }

  /** Time-bounded tag completion from the block-segmented index —
    * the /labels form m3 serves from per-block index segments:
    * byte-equal to the scan route over the same time bounds
    * (spec-pinned), but resolved entirely against pruned index
    * partitions. */
  def boundedCompleteTags(post: DataFrame, matchers: Seq[Fetch.Matcher],
                          labelCols: Seq[String],
                          fromBlock: Long, untilBlock: Long): DataFrame =
    boundedMatch(post, matchers, labelCols, fromBlock, untilBlock)
      .select(explode(array(labelCols.map(n =>
        struct(lit(n).as("tag_name"), col(n).as("tag_value"))): _*)).as("t"))
      .select(col("t.tag_name"), col("t.tag_value"))
      .where(col("tag_value").isNotNull)
      .distinct()

  /** Index-backed fetch — the two-step read a maintained index
    * enables: matchers resolve to a series set through
    * [[indexMatch]] (series-cardinality work), then ONE semi-join
    * prunes the sample scan to those series. Same result as pushing
    * the predicates into the scan ([[Fetch]]), but the regex work
    * never touches a sample row and the scan-side predicate is an
    * equi-join a bucketed layout satisfies without a shuffle.
    *
    * STATS-GATED broadcast on the series set (no blind hint): the
    * postings sizes the matcher planner already collects bound the
    * resolved series count — the intersection is a subset of every
    * matched postings list — so the hint is applied ONLY when the
    * plan-time bound proves the set fits under
    * `broadcastSeriesLimit`. A loose matcher (`.+`) resolves the
    * full series set, exceeds the bound at scale, and stays
    * hint-free for AQE to size at runtime (a forced hint there is a
    * hard query error the direct scan route would not have — the
    * same stats-consulting discipline m3ninx plans with; PlanSpec
    * pins both gate outcomes). */
  def indexFetch(samples: DataFrame, matchers: Seq[Fetch.Matcher],
                 labelCols: Seq[String], startS: Option[Long] = None,
                 endS: Option[Long] = None,
                 broadcastSeriesLimit: Long = 100000L): DataFrame = {
    val (resolved, bound) =
      indexMatchWithBound(samples, matchers, labelCols, wantBound = true)
    val sids0 = resolved
      .select(labelCols.map(c => col(c).as(s"_i_$c")): _*)
    val sids =
      if (bound.exists(_ <= broadcastSeriesLimit)) broadcast(sids0)
      else sids0
    val joinCond = labelCols.map(c =>
      col(c).cast("string") === col(s"_i_$c")).reduce(_ && _)
    val bounded = samples
      .where(startS.map(s => unix_timestamp(col("ts")) >= s)
        .getOrElse(lit(true)))
      .where(endS.map(e => unix_timestamp(col("ts")) < e)
        .getOrElse(lit(true)))
    bounded.join(sids, joinCond, "leftsemi")
  }

  /** Store-backed index fetch — the time-bounded FETCH resolved
    * through the PERSISTED block-segmented index
    * ([[writeBlockSegments]]), the read path an m3 dbnode actually
    * runs: matchers resolve via [[boundedMatch]] against pruned
    * at-rest segment partitions (planning-time block pruning — no
    * out-of-range segment opens; PlanSpec audits the
    * PartitionFilters), then ONE semi-join prunes the bounded sample
    * scan to the matched series. Byte-equal to the direct scan route
    * over the same bounds. Like [[indexFetch]], no forced broadcast
    * — AQE sizes the resolved series set at runtime. */
  def boundedFetch(samples: DataFrame, post: DataFrame,
                   matchers: Seq[Fetch.Matcher], labelCols: Seq[String],
                   startS: Long, endS: Long,
                   broadcastSeriesLimit: Long = 100000L): DataFrame = {
    val fromBlock = startS / 86400L
    val untilBlock = (endS + 86399L) / 86400L
    val (resolved, bound) = boundedMatchWithBound(post, matchers,
      labelCols, fromBlock, untilBlock, wantBound = true)
    val sids0 = resolved
      .select(labelCols.map(c => col(c).as(s"_i_$c")): _*)
    // same stats-gated broadcast as indexFetch: the smallest matched
    // (pruned-segment) postings list bounds |sids|
    val sids =
      if (bound.exists(_ <= broadcastSeriesLimit)) broadcast(sids0)
      else sids0
    val joinCond = labelCols.map(c =>
      col(c).cast("string") === col(s"_i_$c")).reduce(_ && _)
    samples
      .where(unix_timestamp(col("ts")) >= startS &&
        unix_timestamp(col("ts")) < endS)
      .join(sids, joinCond, "leftsemi")
  }
}
