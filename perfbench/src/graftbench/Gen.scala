package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.util.Random

/** Input sizes. `full` has the shape of the sf0.1 test tables (100k
  * events over 5 names × 1,500 users across 30 days, 5,000 documents,
  * 2,000 embeddings); `smoke` has the sf0.001 shape. */
final case class Scale(name: String, events: Int, users: Int, days: Int,
                       docs: Int, vectors: Int)

object Scale {
  val full = Scale("sf0.1", 100000, 1500, 30, 5000, 2000)
  val smoke = Scale("sf0.001", 1000, 15, 30, 200, 100)
}

/** Seeded input generator. Every workload's inputs come from here:
  * the same seed gives the same rows, and the program under test only
  * ever sees the rows (written as parquet and read back through
  * `graft.Tables`). The constants follow measurements of the sf0.1
  * tables (perfbench/README.md lists them). Events: names and users
  * uniform (13.3 samples per series on average), times uniform over 30
  * days, values exponential with mean 50.00 in whole cents. One
  * difference: times here are whole seconds, where sf0.1 has
  * microseconds, so the stores can be checked exactly. */
object Gen {
  val Names: Vector[String] = Vector("click", "error", "purchase", "signup", "view")
  /** 2024-01-01T00:00:00Z, the start of the event range. */
  val T0: Long = 1704067200L

  /** One sample: series (name index, user), second-aligned time and an
    * integer number of cents, so stores can be checked exactly. */
  final case class Sample(name: Int, user: Long, tsS: Long, cents: Long) {
    def value: Double = cents / 100.0
    def nameStr: String = Names(name)
  }

  /** Exponential-ish values in cents, mean ≈ 50.00 like the test data. */
  def cents(rng: Random): Long = (-math.log(1.0 - rng.nextDouble()) * 5000.0).toLong

  /** `n` samples with timestamps in [fromS, untilS), unique per series. */
  def samples(rng: Random, n: Int, users: Int, fromS: Long, untilS: Long): Array[Sample] = {
    val seen = new java.util.HashSet[(Int, Long, Long)]()
    val out = new Array[Sample](n)
    var i = 0
    while (i < n) {
      val s = Sample(rng.nextInt(Names.size), rng.nextInt(users).toLong,
        fromS + (rng.nextDouble() * (untilS - fromS)).toLong, cents(rng))
      if (seen.add((s.name, s.user, s.tsS))) { out(i) = s; i += 1 }
    }
    out.sortBy(s => (s.tsS, s.name, s.user))
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Samples as an `events` table; event_id is the row's index. */
  def eventsFrame(spark: SparkSession, xs: Seq[Sample], firstId: Long = 0L): DataFrame = {
    val rows = xs.zipWithIndex.map { case (s, i) =>
      Row(firstId + i, new Timestamp(s.tsS * 1000L), s.user, s.nameStr, s.value,
        s"""{"k": ${(s.cents % 100).toInt}}""")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), eventSchema)
  }

  /** `n` events in [fromS, untilS) generated by Spark from the seed:
    * row i's timestamp lies in its own slot of the range, so timestamps
    * are unique; series, value (exponential-ish cents) and props come
    * from seeded hashes of i. */
  def eventsRange(spark: SparkSession, seed: Long, n: Int, users: Int,
                  fromS: Long, untilS: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val span = untilS - fromS
    def h(salt: Int) = xxhash64(lit(seed), lit(salt), col("id"))
    val u = pmod(h(4), lit(1L << 31)).cast("double") / (1L << 31).toDouble
    spark.range(0L, n.toLong, 1L, 1).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(fromS) + col("id") * span / n.toLong
        + pmod(h(1), lit(span / n))).as("ts"),
      pmod(h(2), lit(users.toLong)).as("user_id"),
      element_at(typedlit(Names), (pmod(h(3), lit(Names.size.toLong)) + 1).cast("int"))
        .as("event_type"),
      (floor(-log(lit(1.0) - u) * 5000.0) / 100.0).as("value"),
      format_string("{\"k\": %d}", pmod(h(5), lit(100L))).as("props"))
  }

  def writeParquet(df: DataFrame, dir: String, table: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")

  // ---- documents ----

  /** The sf0.1 documents' vocabulary: 28 words and the stopwords "the"
    * and "a", drawn uniformly. */
  private val vocab = Vector("agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "value", "vector", "window", "the", "a")
  /** The sf0.1 `lang` tags: 41 % en, 15 % each of the other four. The
    * tag is independent of the text, as it is there. */
  private val langs = Vector("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)
    .flatMap { case (l, n) => Vector.fill(n)(l) }
  val Sources = 20

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Documents with the shape measured on sf0.1: 10-100 words (uniform)
    * over [[vocab]], source `src{i % 20}`, a random `lang` tag; 5 % are
    * near copies (another document's text plus the word "dup") and
    * 0.16 % exact copies of another document. */
  def documents(rng: Random, n: Int): Seq[Row] = {
    val texts = Array.fill(n)(Vector.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    val order = rng.shuffle((0 until n).toVector)
    val (near, rest) = order.splitAt(n / 20)
    val (exact, originals) = rest.splitAt(math.max(1, n * 16 / 10000))
    for (i <- near) texts(i) = texts(originals(rng.nextInt(originals.size))) + " dup"
    for (i <- exact) texts(i) = texts(originals(rng.nextInt(originals.size)))
    texts.toSeq.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, langs(rng.nextInt(langs.size)), s"src${i % Sources}", t.length.toLong)
    }
  }

  // ---- embeddings ----

  val Dim = 64
  val Labels = 10

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** Embeddings with the shape measured on sf0.1: unit vectors in 64
    * dimensions, isotropic (no cluster structure), and a uniform label
    * in 0-9 that is independent of the vector. */
  def embeddings(rng: Random, n: Int): Seq[Row] =
    (0 until n).map { i =>
      val g = Array.fill(Dim)(rng.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      Row(i.toLong, g.map(x => (x / norm).toFloat).toSeq, rng.nextInt(Labels))
    }
}
