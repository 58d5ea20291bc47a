package graft

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64Function}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Explain.compiles
import graft.functions.ParamLiteral
import graft.promql.PromQL
import graft.sources.SeriesStore
import graft.tsdb.Vectors

/** Generated code is compiled once per query shape: the codegen cache
  * holds the working set, and constants reach generated code as
  * [[ParamLiteral]] parameters instead of source text. The second
  * half checks that the rewrite keeps every plan-level use of a
  * constant: plan strings, window frames, session windows, scan
  * pushdown and exchange reuse. */
class CodegenReuseSpec extends SparkSpec {

  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a shape seen before compiles nothing after 100+ other shapes") {
    // shape i filters on a sum of i+1 products: each i is its own class
    def shape(i: Int): DataFrame = spark.range(0, 200).toDF()
      .where((0 to i).map(k => col("id") * k).reduce(_ + _) % 7 =!= 3)
    run(shape(0))
    val (between, _) = compiles((1 to 120).foreach(i => run(shape(i))))
    assert(between > 100, s"only $between classes compiled in between")
    val (again, _) = compiles(run(shape(0)))
    assert(again == 0, s"the repeated shape compiled $again classes")
  }

  test("a PromQL panel over a new window reuses its compiled classes") {
    val samples = Vectors.samples(Tables.events(spark, sf))
    val (rangeS, stepS, spanS) = (6 * 3600L, 3600L, 3 * 86400L)
    def panel(startS: Long): DataFrame = PromQL.rangeQuery(samples,
      s"""sum_over_time({name="purchase"}[6h])""", startS, startS + spanS, stepS)
    val jan1 = 1704067200L
    panel(jan1 + 2 * 86400L).collect()
    val start = jan1 + 9 * 86400L
    var rows: Array[Row] = Array.empty
    val (classes, _) = compiles { rows = panel(start).collect() }
    assert(classes == 0, s"the refreshed panel compiled $classes classes")
    val got = rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("bucket_s")) ->
      r.getAs[Double]("value")).toMap
    // the direct path: the same window sums over the samples, on the driver
    val pts = samples.where(col("name") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = (for {
      t <- start to start + spanS by stepS
      (user, in) <- pts.filter(p => p._2 > (t - rangeS) * 1000000L &&
        p._2 <= t * 1000000L).groupBy(_._1)
    } yield (user, t) -> in.map(_._3).sum).toMap
    assert(want.nonEmpty && got.keySet == want.keySet)
    for ((k, v) <- got) assert(math.abs(v - want(k)) < 1e-6, s"$k: $v vs ${want(k)}")
  }

  test("a curate subset with a new seed reuses its compiled classes") {
    val docs = Tables.documents(spark, sf)
    def subset(seed: Int): DataFrame =
      docs.where(pmod(xxhash64(col("doc_id"), lit(seed)), lit(100)) < 12).select("doc_id")
    subset(1).collect()
    var got: Set[Long] = Set.empty
    val (classes, _) = compiles { got = subset(2).collect().map(_.getLong(0)).toSet }
    assert(classes == 0, s"the re-seeded subset compiled $classes classes")
    def hash(id: Long): Long = XxHash64Function.hash(2, IntegerType,
      XxHash64Function.hash(id, LongType, 42L))
    val want = docs.select("doc_id").collect().map(_.getLong(0))
      .filter(id => java.lang.Math.floorMod(hash(id), 100L) < 12).toSet
    assert(want.nonEmpty && got == want)
  }

  test("plan strings render parameters exactly like literals") {
    val df = spark.range(0, 50)
      .select(col("id"), timestamp_seconds(col("id") * 3600 + 1704067200L).as("ts"))
      .where(col("id") > 5 && col("ts") < lit(Timestamp.valueOf("2024-01-02 12:00:00")))
      .select(
        (col("id").cast("int") + 7).as("i"), (col("id") * 3000000000L).as("l"),
        (col("id") * 0.25).as("d"), (col("id").cast("float") * 1.5f).as("f"),
        (col("id").cast("short") + 2.toShort).as("s"),
        (col("id").cast("byte") + 1.toByte).as("b"),
        date_add(lit(Date.valueOf("2024-01-03")), col("id").cast("int")).as("dt"))
    val plan = df.queryExecution.executedPlan
    val params = plan.flatMap(_.expressions.flatMap(_.collect { case p: ParamLiteral => p }))
    assert(params.map(_.dataType).toSet == Set[DataType](IntegerType, LongType,
      DoubleType, FloatType, ShortType, ByteType, DateType, TimestampType))
    for (p <- params) assert(p.sql == Literal(p.value, p.dataType).sql)
    val asLiterals = plan.transformUp { case node =>
      node.transformExpressions { case ParamLiteral(v, t) => Literal(v, t) }
    }
    assert(plan.toString == asLiterals.toString)
    assert(df.where(col("i") === 13).head().getAs[Date]("dt") ==
      Date.valueOf("2024-01-09"))
  }

  test("row frames and lag offsets keep their constants") {
    val w = Window.partitionBy("k").orderBy("t")
    val got = spark.range(0, 12)
      .select((col("id") % 2).as("k"), col("id").as("t"), (col("id") * col("id")).as("v"))
      .select(col("k"), col("t"),
        sum("v").over(w.rowsBetween(-1, 1)).as("s3"),
        lag("v", 2, -1L).over(w).as("lag2"))
      .where(col("t") >= 1)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    val want = (1L until 12L).map { t =>
      val same = (t % 2 until 12L by 2L).toIndexedSeq
      val i = same.indexOf(t)
      val s3 = same.slice(math.max(0, i - 1), i + 2).map(x => x * x).sum
      val lag2 = if (i >= 2) same(i - 2) * same(i - 2) else -1L
      t -> (s3, lag2)
    }.toMap
    assert(got == want)
  }

  test("session_window aggregation still binds its merged buffers") {
    val base = 1704067200L
    val got = spark.range(0, 4)
      .select(col("id"),
        element_at(array(lit(0L), lit(60L), lit(1000L), lit(30L)), col("id").cast("int") + 1).as("s"))
      .select(when(col("id") === 3, 2).otherwise(1).as("k"),
        timestamp_seconds(col("s") + base).as("ts"), (col("id") + 2).cast("double").as("v"))
      .groupBy(col("k"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("v") * 2).as("s2"))
      .select(col("k"), unix_seconds(col("session_window.start")) - base, col("n"), col("s2"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map((1, 0L) -> (2L, 10.0), (1, 1000L) -> (1L, 8.0), (2, 30L) -> (1L, 10.0)))
  }

  test("a dt-bounded store read keeps partition filters and pushdown") {
    val samples = Vectors.samples(Tables.events(spark, sf))
    SeriesStore.write(samples, "graft_codegen_store", buckets = 4)
    val from = Timestamp.valueOf("2024-01-04 00:00:00")
    val df = SeriesStore.read(spark, "graft_codegen_store", Some("2024-01-03"), Some("2024-01-10"))
      .where(col("ts") >= lit(from) && col("value") > 20.0)
    val n = df.collect().length
    val plan = df.queryExecution.executedPlan
    val scan = plan.toString.linesIterator.filter(_.contains("FileScan")).mkString
    def field(name: String) = scan.split(s"$name: \\[", 2).last.takeWhile(_ != ']')
    assert(field("PartitionFilters").contains("dt#") &&
      field("PartitionFilters").contains("2024-01-03"), scan)
    assert(field("PushedFilters").contains("GreaterThanOrEqual(ts,"), scan)
    // the scan keeps real literals; the filter above it takes the parameters
    val fileScan = plan.collectFirst { case f: FileSourceScanExec => f }.get
    assert((fileScan.partitionFilters ++ fileScan.dataFilters)
      .forall(!_.exists(_.isInstanceOf[ParamLiteral])))
    assert(plan.collect { case f: FilterExec => f.condition }
      .exists(_.exists(_.isInstanceOf[ParamLiteral])), plan.toString)
    assert(n == samples.where(col("ts") >= lit(from) && col("ts") < lit("2024-01-10") &&
      col("value") > 20.0).count())
  }

  test("subplans differing only in a threshold never share an exchange") {
    val df = spark.range(0, 200).select((col("id") % 5).as("k"), col("id").cast("double").as("v"))
    def counts(th: Double): DataFrame =
      df.where(col("v") > th).groupBy("k").count().withColumn("th", lit(th))
    val u = counts(50.0).union(counts(150.0))
    val got = u.collect().map(r => (r.getDouble(2), r.getLong(0)) -> r.getLong(1)).toMap
    val want = (for (th <- Seq(50.0, 150.0); k <- 0L until 5L)
      yield (th, k) -> (0L until 200L).count(i => i % 5 == k && i > th).toLong).toMap
    assert(got == want)
    assert(!u.queryExecution.executedPlan.toString.contains("ReusedExchange"))
    // equal subplans still share one exchange
    val same = counts(50.0).union(counts(50.0))
    same.collect()
    assert(same.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      same.queryExecution.executedPlan.toString)
  }
}
