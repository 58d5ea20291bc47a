package graft

import org.apache.spark.sql.functions._
import graft.sources.{ProtoStore, ProtoTsz, Tsz}

/** The proto structured-message codec (dbnode/encoding/proto):
  * stream layout golden bits, adversarial round trips through all
  * four custom field types incl. LRU eviction, and store-level
  * parity at sf. */
class ProtoSpec extends SparkSpec {

  private val schema = ProtoStore.schema

  private def msg(ts: Long, amount: Double, qty: Long, label: String,
                  flag: Boolean): (Long, Array[Any]) =
    (ts, Array[Any](amount, qty, label.getBytes("UTF-8"), flag))

  private def roundTrip(pts: Array[(Long, Array[Any])]): Unit = {
    val (bytes, _) = ProtoTsz.encodeStream(schema, pts)
    val back = ProtoTsz.decodeStream(schema, bytes, pts.length)
    assert(back.length == pts.length)
    pts.zip(back).zipWithIndex.foreach { case (((ts, v), (bts, bv)), i) =>
      assert(bts == ts, s"ts at $i")
      val a = v(0).asInstanceOf[Double]
      val b = bv(0).asInstanceOf[Double]
      assert(java.lang.Double.doubleToRawLongBits(a) ==
        java.lang.Double.doubleToRawLongBits(b), s"amount at $i")
      assert(bv(1) == v(1), s"qty at $i")
      assert(java.util.Arrays.equals(bv(2).asInstanceOf[Array[Byte]],
        v(2).asInstanceOf[Array[Byte]]), s"label at $i")
      assert(bv(3) == v(3), s"flag at $i")
    }
  }

  test("stream header and first-write golden bits (encoder.go:329-364)") {
    val pts = Array(msg(1700000000000000L, 1.5, 3, "a", flag = true))
    val (bytes, _) = ProtoTsz.encodeStream(schema, pts)
    // uvarint version 1, uvarint LRU size 4 — byte-aligned header
    assert(bytes(0) == 0x01.toByte && bytes(1) == 0x04.toByte)
    val r = new Tsz.BitReader(bytes)
    r.readBits(16)
    assert(r.readBits(4) == 0x7L, "first-write header 0111") // 0,1,1,1
    assert(r.readBits(8) == 3L, "Microsecond time-unit byte")
    // schema: uvarint(4) then 4-bit slots double,int64,bytes,bool
    assert(r.readBits(8) == 4L)
    assert(r.readBits(4) == 5L && r.readBits(4) == 1L &&
      r.readBits(4) == 7L && r.readBits(4) == 8L)
  }

  test("adversarial round trip: evicting dictionary, NaN, negatives, collapse") {
    val t0 = 1700000000000000L
    // 6 distinct labels against the size-4 LRU: forces shift-down
    // eviction, re-encode of an evicted value, index hits at every
    // position, and move-to-end reordering
    val labels = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "alpha", // evicted by now → full re-encode
      "zeta", "delta", "delta", "gamma", "alpha", "", "", "x" * 200)
    val pts = labels.zipWithIndex.map { case (l, i) =>
      val amount = i match {
        case 3 => Double.NaN
        case 5 => Double.NegativeInfinity
        case 9 => -0.0
        case _ => i * 1.25
      }
      // small diffs then a jump then 5 small (sig collapse), negatives
      val qty = i match {
        case 7 => -5000000L
        case n => (n % 3).toLong - 1
      }
      msg(t0 + i * 700001L, amount, qty, l, i % 2 == 0)
    }.toArray
    roundTrip(pts)
  }

  test("dictionary census: new / index-hit / no-change counts") {
    val t0 = 1700000000000000L
    val labels = Seq("a", "a", "b", "a", "b", "b", "c", "a")
    // writes: a new; a nochange; b new; a idx; b idx; b nochange;
    // c new; a idx → new=3, idx=3, nochange=2
    val pts = labels.zipWithIndex.map { case (l, i) =>
      msg(t0 + i * 1000L, 1.0, 7L, l, flag = false)
    }.toArray
    val (bytes, st) = ProtoTsz.encodeStream(schema, pts)
    assert(st.bytesNew == 3 && st.bytesIdxHits == 3 && st.bytesNoChange == 2)
    // constant amount/qty: one full first write then zero-XOR /
    // no-change bits
    assert(st.intNoChange == pts.length - 1)
    // the four bit sections + header account for the whole stream
    val total = st.tsBits + st.dblBits + st.intBits + st.bytesBits +
      st.boolBits + st.headBits
    assert(bytes.length.toLong * 8 - total < 8, "only byte padding unaccounted")
    roundTrip(pts)
  }

  test("mid-stream schema change: 0101 header, state reset, null flags") {
    val t0 = 1700000000000000L
    val seg1 = Array(
      msg(t0, 1.5, 3, "alpha", flag = true),
      msg(t0 + 1000000L, 2.5, 4, "alpha", flag = false))
    // the 3-field schema drops flag; "alpha" must be a FULL
    // dictionary write again (state reset, common.go:199-258)
    val seg2 = Array(
      (t0 + 2000000L, Array[Any](3.5, 5L, "alpha".getBytes("UTF-8"))),
      (t0 + 3000000L, Array[Any](3.5, 5L, "beta".getBytes("UTF-8"))))
    val (bytes, st) = ProtoTsz.encodeSegments(Seq(
      (schema, seg1), (ProtoStore.schemaNoFlag, seg2)))
    // "alpha" full-writes twice (once per segment) + "beta" once
    assert(st.bytesNew == 3 && st.bytesNoChange == 1 && st.bytesIdxHits == 0)
    val back = ProtoTsz.decodeSegments(bytes, 4)
    assert(back.map(_._2.fields.length).toSeq == Seq(4, 4, 3, 3))
    assert(back.map(_._1).toSeq ==
      Seq(t0, t0 + 1000000L, t0 + 2000000L, t0 + 3000000L))
    assert(back(2)._3(0) == 3.5 && back(2)._3(1) == 5L)
    assert(new String(back(3)._3(2).asInstanceOf[Array[Byte]], "UTF-8") == "beta")
    // decodeStream under a single expected schema must reject it
    intercept[IllegalArgumentException] {
      ProtoTsz.decodeStream(schema, bytes, 4)
    }
    // doubles/ints also restart: segment 2's first write is a raw
    // 64-bit float + first-value int (not XOR/diff against segment 1)
    val (bytesSame, stSame) = ProtoTsz.encodeSegments(Seq(
      (schema, seg1),
      (schema, seg1.map(p => (p._1 + 5000000L, p._2)))))
    assert(stSame.bytesNew == 2, "same schema re-sent still resets the dict")
    val back2 = ProtoTsz.decodeSegments(bytesSame, 4)
    assert(back2.map(_._3(0)).toSeq == Seq(1.5, 2.5, 1.5, 2.5))
  }

  private def sfMsgs = graft.tsdb.Vectors.samples(Tables.events(spark, sf))
    .where(col("value").isNotNull)
    .select(col("name"), col("user_id"), col("ts"), col("event_id"),
      col("value").as("amount"),
      floor(col("value") / 10).cast("long").as("qty"),
      concat(lit("q"), floor(hour(col("ts")) / 6).cast("int")
        .cast("string")).as("label"),
      (col("event_id") % 3 === 0).as("flag"))

  test("split ingest compacts to one blob per key, message set kept") {
    val t = "graft_proto_compact_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    val msgs = sfMsgs
    ProtoStore.appendBatch(msgs.where(col("event_id") % 2 === 0), t)
    ProtoStore.appendBatch(msgs.where(col("event_id") % 2 === 1), t)
    assert(spark.table(t).groupBy("name", "user_id", "block").count()
      .where(col("count") > 1).count() > 0, "split should multi-blob")
    val key = Seq("name", "user_id", "ts", "amount", "qty", "label", "flag")
    val before = ProtoStore.decode(spark.table(t)).select(key.map(col): _*)
    ProtoStore.compact(spark, t)
    assert(spark.table(t).groupBy("name", "user_id", "block").count()
      .where(col("count") > 1).isEmpty, "compaction must fold to one blob")
    val after = ProtoStore.decode(spark.table(t)).select(key.map(col): _*)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "compaction changed the message set")
  }

  test("compaction keeps appends committed through another session") {
    // a streaming query's foreachBatch appends through its own
    // session, leaving this session's cached file listing stale: the
    // compaction must fold what is committed, not that listing
    val t = "graft_proto_other_session"
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    val base = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime / 1000
    def msgs(s: org.apache.spark.sql.SparkSession, from: Long, until: Long) =
      s.range(from, until).select(
        concat(lit("m"), (col("id") % 3).cast("string")).as("name"),
        (col("id") % 3).as("user_id"),
        timestamp_seconds(lit(base) + col("id") * 60).as("ts"),
        col("id").as("event_id"),
        (col("id") % 97).cast("double").as("amount"),
        (col("id") % 7).as("qty"),
        concat(lit("q"), (col("id") % 4).cast("string")).as("label"),
        (col("id") % 5 === 0).as("flag"))
    ProtoStore.appendBatch(msgs(spark, 0, 500), t)
    assert(ProtoStore.decode(spark.table(t)).count() == 500) // lists the table
    ProtoStore.appendBatch(msgs(spark.newSession(), 500, 1000), t)
    ProtoStore.compact(spark, t)
    assert(ProtoStore.decode(spark.newSession().table(t)).count() == 1000,
      "compaction dropped messages appended through another session")
  }

  test("store blocks round-trip the sf message stream") {
    val msgs = sfMsgs
    val back = ProtoStore.decode(ProtoStore.blockFrame(msgs))
      .select(col("name"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("amount"), col("qty"), col("label"), col("flag"))
    val expect = msgs
      .select(col("name"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("amount"), col("qty"), col("label"), col("flag"))
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty,
      "decoded message set != raw messages")
  }
}
