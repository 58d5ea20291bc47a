package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) layout for MULTI-dimensional pruning — the
  * complement to [[SeriesStore]] (which prunes on time alone, the
  * dominant single dimension of the reference's block store): events
  * are laid out on an interleaved-bit curve over (time, user), so a
  * box query bounded in BOTH dimensions prunes to the cells the box
  * intersects. This is the OPTIMIZE ZORDER technique of the lakehouse
  * engines (Delta/Iceberg) restated with plain Spark partitioning:
  * a one-dimensional partition key can only prune its own dimension —
  * a (time-partitioned) store reads every user for a day; the z-cell
  * key prunes the product space, reading |box| / |grid| of the data
  * for a box predicate on either or both dimensions.
  *
  * Grid: `bits` bits per dimension (default 4 → 16×16 = 256 cells);
  * extents come from the data at write time (one bounded aggregate —
  * the [[SeriesStore.layoutFor]] convention) and are recorded as
  * table properties so readers derive cells without touching data.
  * Cell assignment is pure integer arithmetic (`(v−min)·2ᵇ / span`,
  * capped at 2ᵇ−1), so an oracle replays it exactly.
  *
  * Scale: at 100 TB the cell count grows with `bits` (6 bits → 4096
  * cells ≈ 25 GB each); the write is one map stage + a partitioned
  * write, the read is planning-time partition pruning (asserted in
  * StoreSpec: PartitionFilters on zcell, strictly fewer input files
  * than the table holds) plus the exact residual predicate on the
  * box bounds — row-group stats inside each cell (sortWithinPartitions
  * on ts) prune the residual further.
  */
object ZOrderStore {

  /** Grid extents; cells index [0, 2^bits) per dimension. */
  final case class Layout(bits: Int, minDay: Long, maxDay: Long,
                          minUser: Long, maxUser: Long) {
    val cellsPerDim: Int = 1 << bits
    def daySpan: Long = maxDay - minDay + 1
    def userSpan: Long = maxUser - minUser + 1
    def dayCell(day: Long): Int =
      math.max(0L, math.min(cellsPerDim - 1L,
        (day - minDay) * cellsPerDim / daySpan)).toInt
    def userCell(user: Long): Int =
      math.max(0L, math.min(cellsPerDim - 1L,
        (user - minUser) * cellsPerDim / userSpan)).toInt
    /** Bit-interleave (day cell odd bits, user cell even bits). */
    def z(tb: Int, ub: Int): Int =
      (0 until bits).map { i =>
        (((tb >> i) & 1) << (2 * i + 1)) | (((ub >> i) & 1) << (2 * i))
      }.sum
  }

  private val Props = Seq("graft.z.bits", "graft.z.minDay", "graft.z.maxDay",
    "graft.z.minUser", "graft.z.maxUser")

  /** Derive grid extents from the event frame (one bounded agg). */
  def layoutFor(events: DataFrame, bits: Int = 4): Layout = {
    val r = events.agg(
      min(epochDay(col("ts"))).as("mnd"), max(epochDay(col("ts"))).as("mxd"),
      min("user_id").as("mnu"), max("user_id").as("mxu")).head()
    Layout(bits, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Epoch-day of a timestamp — floorDiv semantics match DuckDB's
    * `floor(epoch(ts) / 86400)` for pre-1970 values too. */
  def epochDay(ts: Column): Column =
    floor(unix_timestamp(ts).cast("double") / 86400.0).cast("long")

  /** The z-cell of a row, as column algebra over the layout. */
  def zcellCol(l: Layout): Column = {
    def cellOf(v: Column, mn: Long, span: Long): Column =
      least(lit(l.cellsPerDim - 1L),
        (v - lit(mn)) * lit(l.cellsPerDim.toLong) / lit(span)).cast("int")
    val tb = cellOf(epochDay(col("ts")), l.minDay, l.daySpan)
    val ub = cellOf(col("user_id"), l.minUser, l.userSpan)
    (0 until l.bits).map { i =>
      shiftleft(tb.bitwiseAND(lit(1 << i)), i + 1)
        .bitwiseOR(shiftleft(ub.bitwiseAND(lit(1 << i)), i))
    }.reduce(_.bitwiseOR(_)).as("zcell")
  }

  /** Write events as a zcell-partitioned table; extents recorded as
    * table properties. Idempotent like [[SeriesStore.write]]. */
  def write(events: DataFrame, table: String, layout: Layout): Unit = {
    val vals = Seq(layout.bits.toLong, layout.minDay, layout.maxDay,
      layout.minUser, layout.maxUser)
    Warehouse.create(
      events.withColumn("zcell", zcellCol(layout))
        .sortWithinPartitions("zcell", "ts"),
      table, Warehouse.Layout(partitionBy = Seq("zcell")),
      Props.zip(vals).toMap)
  }

  /** Layout back from the catalog — readers never touch data. */
  def layoutOf(spark: SparkSession, table: String): Layout = {
    val p = Warehouse.properties(spark, table)
    val Seq(bits, mnd, mxd, mnu, mxu) = Props.map(k => p(k).toLong)
    Layout(bits.toInt, mnd, mxd, mnu, mxu)
  }

  /** Box fetch: day ∈ [dayFrom, dayUntil), user ∈ [userFrom,
    * userUntil). The covering z-cells enumerate on the driver (≤
    * 2^2bits integers — the classic z-range simplification at this
    * grid size) and prune partitions at planning time; the exact box
    * bounds remain as residual row predicates. */
  def fetchBox(spark: SparkSession, table: String,
               dayFrom: Long, dayUntil: Long,
               userFrom: Long, userUntil: Long): DataFrame = {
    val l = layoutOf(spark, table)
    val cells = for {
      tb <- l.dayCell(dayFrom) to l.dayCell(dayUntil - 1)
      ub <- l.userCell(userFrom) to l.userCell(userUntil - 1)
    } yield l.z(tb, ub)
    spark.table(table)
      .where(col("zcell").isin(cells: _*))
      .where(epochDay(col("ts")) >= dayFrom &&
        epochDay(col("ts")) < dayUntil &&
        col("user_id") >= userFrom && col("user_id") < userUntil)
  }
}
