package graftbench

import graft.graphite.GraphiteParser
import graft.m3ql.M3QL
import graft.promql.PromQL
import graft.sources.{SeriesStore, TszStore}
import graft.tsdb.{Fetch, Index, Vectors}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Where a panel reads samples from: the at-rest stores, or the direct
  * `Vectors.samples(Tables.events)` path the checks compare against. */
trait Source {
  /** (name, user_id, ts, value, event_id) with ts in [fromS, untilS). */
  def samples(fromS: Long, untilS: Long): DataFrame
  /** Decoded raw samples (name, user_id, ts, value) of day blocks [b0, b1). */
  def decoded(b0: Long, b1: Long): DataFrame
}

private object Bounds {
  def bound(df: DataFrame, fromS: Long, untilS: Long): DataFrame =
    df.where(unix_timestamp(col("ts")) >= fromS && unix_timestamp(col("ts")) < untilS)
  def day(s: Long): String = java.time.LocalDate.ofEpochDay(Math.floorDiv(s, 86400L)).toString
}

/** Panels read the SeriesStore (dt-pruned to the window) and the
  * TszStore; `untilCap` hides samples at or after it (the ingest
  * reader's committed watermark). */
final class StoreSource(spark: SparkSession, series: String, tsz: String,
                        untilCap: Long = Long.MaxValue) extends Source {
  def samples(fromS: Long, untilS: Long): DataFrame = Trace.span("sources", "series_read") {
    val u = math.min(untilS, untilCap)
    Bounds.bound(SeriesStore.read(spark, series, Some(Bounds.day(fromS)),
      Some(Bounds.day(u + 86400L))).drop("dt"), fromS, u)
  }
  def decoded(b0: Long, b1: Long): DataFrame = Trace.span("sources", "tsz_read") {
    val d = TszStore.readDecoded(spark, tsz, Some(b0), Some(b1))
    if (untilCap == Long.MaxValue) d else d.where(unix_timestamp(col("ts")) < untilCap)
  }
}

/** The direct path over an events table. */
final class DirectSource(events: DataFrame, untilCap: Long = Long.MaxValue) extends Source {
  private val base = Vectors.samples(events)
  def samples(fromS: Long, untilS: Long): DataFrame =
    Bounds.bound(base, fromS, math.min(untilS, untilCap))
  def decoded(b0: Long, b1: Long): DataFrame =
    Bounds.bound(base, b0 * 86400L, math.min(b1 * 86400L, untilCap))
      .select("name", "user_id", "ts", "value")
}

/** One dashboard panel: a front-end text over a time window. `kind`
  * is the op kind (`panel.promql`, `panel.graphite`, `panel.m3ql`,
  * `panel.tsz`, `panel.index`). */
final case class Panel(kind: String, text: String, eval: Source => DataFrame)

object Panels {
  /** Collected result as sorted (key, value) pairs; value is NaN for a
    * null or for results without a value column. */
  type Result = Array[(String, Double)]

  /** The op kinds of panels. */
  val Kinds: Set[String] = Set("panel.promql", "panel.graphite", "panel.m3ql", "panel.tsz", "panel.index")

  def canonical(df: DataFrame, rows: Array[Row]): Result = {
    val vi = df.columns.indexOf("value")
    rows.map { r =>
      val key = (0 until r.length).filter(_ != vi).map(i => String.valueOf(r.get(i))).mkString("|")
      val v = if (vi < 0 || r.isNullAt(vi)) Double.NaN else r.getDouble(vi)
      (key, v)
    }.sortBy(_._1)
  }

  def same(a: Result, b: Result): Boolean =
    a.length == b.length && a.indices.forall { i =>
      val (ka, va) = a(i); val (kb, vb) = b(i)
      ka == kb && ((va.isNaN && vb.isNaN) ||
        math.abs(va - vb) <= 1e-9 * math.max(1.0, math.max(math.abs(va), math.abs(vb))))
    }

  /** Evaluate a panel with layer spans: front-end build, planning,
    * execution through collect. */
  def run(p: Panel, src: Source): Result = {
    val layer = p.kind.stripPrefix("panel.") match {
      case "tsz" => "sources"
      case "index" => "tsdb"
      case l => l
    }
    val df = Trace.span(layer, "build")(p.eval(src))
    Trace.span("spark", "plan")(df.queryExecution.executedPlan)
    val rows = Trace.span("spark", "exec")(df.collect())
    canonical(df, rows)
  }

  private val H = 3600L
  private val D = 86400L

  /** An hour-aligned window of `len0` (6 h – 30 d, clipped to the data)
    * at a random place inside [lo, hi), with a step of 5 m – 3 h that
    * keeps the grid at ≤ 288 points. Each template has its own fixed
    * length, so every seed draws the same mix of window sizes. */
  private def window(rng: Random, lo: Long, hi: Long, len0: Long): (Long, Long, Long) = {
    val len = math.min(len0, hi - lo)
    val slots = math.max(1L, (hi - lo - len) / H)
    val from = lo + (rng.nextDouble() * slots).toLong * H
    val step = Seq(300L, 900L, H, 3 * H).find(len / _ <= 288).getOrElse(3 * H)
    (from, from + len, step)
  }

  /** The panel templates, one instance per call. Every template reads
    * the window it draws; `users` bounds the user ids it names. */
  val templates: Seq[(Random, Long, Long, Int) => Panel] = Seq(
    (rng, lo, hi, users) => {
      val (f, u, st) = window(rng, lo, hi, D)
      val Seq(a, b) = rng.shuffle(Gen.Names).take(2)
      val r = Seq(H, 6 * H, D).filter(_ >= st)(0)
      val q = s"""sum by (name) (rate({name=~"$a|$b"}[${r / H}h]))"""
      Panel("panel.promql", s"range $q [$f,$u,$st]", s =>
        PromQL.rangeQuery(s.samples(f - r, u), q, f, u, st))
    },
    (rng, lo, hi, users) => {
      val (f, u, st) = window(rng, lo, hi, 7 * D)
      val q = s"""avg_over_time(${Gen.Names(rng.nextInt(5))}{user_id="${rng.nextInt(users)}"}[1d])"""
      Panel("panel.promql", s"range $q [$f,$u,$st]", s =>
        PromQL.rangeQuery(s.samples(f - D, u), q, f, u, st))
    },
    (rng, lo, hi, _) => {
      val (f, u, st) = window(rng, lo, hi, 6 * H)
      val q = """max by (name) ({name=~".+"})"""
      Panel("panel.promql", s"range $q [$f,$u,$st]", s =>
        PromQL.rangeQuery(s.samples(f - H, u), q, f, u, st, lookbackS = H))
    },
    (rng, lo, hi, _) => {
      val (f, u, _) = window(rng, lo, hi, 30 * D)
      val q = s"topk(5, sum by (user_id) (${Gen.Names(rng.nextInt(5))}))"
      Panel("panel.promql", s"instant $q [$f,$u]", s => PromQL.query(s.samples(f, u), q))
    },
    (rng, lo, hi, _) => {
      val (f, u, _) = window(rng, lo, hi, 3 * D)
      val t = s"sumSeries(events.${Gen.Names(rng.nextInt(5))}.*)"
      Panel("panel.graphite", s"$t [$f,$u]", s => GraphiteParser.query(s.samples(f, u), t))
    },
    (rng, lo, hi, users) => {
      val (f, u, _) = window(rng, lo, hi, 30 * D)
      val t = s"movingAverage(events.${Gen.Names(rng.nextInt(5))}.user${rng.nextInt(users)}, 3)"
      Panel("panel.graphite", s"$t [$f,$u]", s => GraphiteParser.query(s.samples(f, u), t))
    },
    (rng, lo, hi, _) => {
      val (f, u, _) = window(rng, lo, hi, D)
      val t = s"highestMax(events.${Gen.Names(rng.nextInt(5))}.user1*, 3)"
      Panel("panel.graphite", s"$t [$f,$u]", s => GraphiteParser.query(s.samples(f, u), t))
    },
    (rng, lo, hi, _) => {
      val (f, u, _) = window(rng, lo, hi, 7 * D)
      val q = s"fetch name:${Gen.Names(rng.nextInt(5))} | sum name"
      Panel("panel.m3ql", s"$q [$f,$u]", s => M3QL.query(s.samples(f, u), q))
    },
    (rng, lo, hi, users) => {
      val (f, u, _) = window(rng, lo, hi, 30 * D)
      val q = s"fetch name:${Gen.Names(rng.nextInt(5))} user_id:${rng.nextInt(users)} | abs"
      Panel("panel.m3ql", s"$q [$f,$u]", s => M3QL.query(s.samples(f, u), q))
    },
    (rng, lo, hi, users) => {
      val days = 3
      val b1 = math.max(lo / D + 1, hi / D - rng.nextInt(math.max(1, ((hi - lo) / D).toInt)))
      val b0 = math.max(lo / D, b1 - days)
      val n = Gen.Names(rng.nextInt(5)); val user = rng.nextInt(users).toLong
      Panel("panel.tsz", s"tsz $n user$user blocks [$b0,$b1)", s =>
        s.decoded(b0, b1).where(col("name") === n && col("user_id") === user))
    },
    (rng, lo, hi, users) => {
      val (f, u, _) = window(rng, lo, hi, 3 * D)
      val n = Gen.Names(rng.nextInt(5)); val d = 1
      Panel("panel.index", s"complete name=$n user_id=~$d.* [$f,$u]", s =>
        Index.indexCompleteTags(s.samples(f, u),
          Seq(Fetch.Matcher("name", Fetch.Eq, n), Fetch.Matcher("user_id", Fetch.Re, s"$d.*")),
          Vectors.labels))
    })
}
