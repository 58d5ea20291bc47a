package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's SECOND at-rest codec: compressed streams of
  * structured (protobuf-schema) messages — `dbnode/encoding/proto`
  * (format spec in its `docs/encoding.md`). Each write is
  * `<per-write header, compressed timestamp, custom-compressed
  * fields, proto-marshalled fields>`; every custom field compresses
  * with the technique optimal for its type:
  *
  *   - double → Gorilla XOR (the m3tsz float path: first value raw
  *     64 bits, then zero/contained/uncontained XOR —
  *     float_encoder_iterator.go, shared verbatim with m3tsz);
  *   - int64 → M3TSZ significant-digit integer compression
  *     (int_encoder_iterator.go:37-103: first = WriteIntSig + diff
  *     from 0; then a change bit, the shared IntSigBitsTracker, and
  *     a sign+magnitude diff);
  *   - bytes/string → LRU dictionary compression (encoder.go:602-690:
  *     change bit; index-vs-full bit; LRU index in
  *     numBitsRequiredForNumUpToN(lruSize) bits with move-to-end, or
  *     uvarint length + zero-pad to the next byte boundary + raw
  *     bytes with shift-down eviction — encoder.go:831-870);
  *   - bool → one bit (encoder.go:700-706).
  *
  * Stream layout restated from encoder.go:
  *   - stream header: uvarint version (=1, encoder.go:46) + uvarint
  *     LRU size (default 4, encoding/options.go:33);
  *   - first write header `0,1,1,1` (more data + time unit AND
  *     schema changed, encoder.go:176-215), the time-unit byte
  *     (Microsecond=3 per x/time/unit.go — this frame's native
  *     unit), then the schema: uvarint(maxFieldNum) + 4 bits per
  *     1-indexed field slot (numBitsToEncodeCustomType with
  *     numCustomTypes=9, common.go:61-76; the docs' "3 bits" predate
  *     boolField);
  *   - subsequent writes: a lone `1` more-data bit;
  *   - timestamps: the micros delta-of-delta bucket scheme the Tsz
  *     restatement already carries (7/9/12-bit buckets, 64-bit
  *     default — the reference's Microsecond TimeEncodingScheme,
  *     encoding/scheme.go:48-52). First write: raw 64-bit first
  *     timestamp, then the time-unit-changed 64-bit zero dod
  *     (timestamp_encoder.go:114-124 resets the delta after a manual
  *     time-unit write; the reference's 64-bit start is its block
  *     start — here the first sample, the Tsz restatement's
  *     documented first-timestamp deviation);
  *   - after each write's custom fields, the non-custom section's
  *     fast-path `0` bit (encoder.go:708-716 — every field here is
  *     custom-encoded);
  *   - terminator `0,0` (end of stream, the per-write control
  *     table's combination 2).
  *
  * Schema changes mid-stream are out of scope (one schema per
  * block). Bytes equality is compared directly where the reference
  * compares xxhash64 + stream bytes (identical decisions).
  */
object ProtoTsz {

  /** Custom field types (common.go:61-76). */
  val SignedInt64: Int = 1
  val Float64: Int = 5
  val Bytes: Int = 7
  val Bool: Int = 8

  /** (fieldNum 1-indexed, customType) sorted by fieldNum. */
  final case class Schema(fields: Seq[(Int, Int)]) {
    require(fields.nonEmpty && fields == fields.sortBy(_._1))
    def maxFieldNum: Int = fields.last._1
  }

  /** Per-stream bit/count census (cost-card + spec pins). */
  final case class ProtoStats(tsBits: Long, dblBits: Long, intBits: Long,
    bytesBits: Long, boolBits: Long, headBits: Long,
    bytesNew: Long, bytesIdxHits: Long, bytesNoChange: Long,
    intNoChange: Long)

  private val Version = 1L
  private def bitsForNumUpToN(n: Int): Int = {
    var c = 0; var m = n
    while (m > 0) { c += 1; m >>= 1 }
    c
  }

  private def writeUvarint(w: Tsz.BitWriter, x0: Long): Unit = {
    var x = x0
    while ((x & ~0x7fL) != 0L) { w.writeBits((x & 0x7fL) | 0x80L, 8); x >>>= 7 }
    w.writeBits(x, 8)
  }
  private def readUvarint(r: Tsz.BitReader): Long = {
    var x = 0L; var shift = 0; var b = 0L
    do { b = r.readBits(8); x |= (b & 0x7fL) << shift; shift += 7 } while ((b & 0x80L) != 0L)
    x
  }

  // the shared m3tsz significant-digit tracker (int_sig_bits_tracker.go)
  private final class IntSigTracker {
    var sig = 0; private var curHi = 0; private var nLower = 0
    def writeIntSig(w: Tsz.BitWriter, s: Int): Unit = {
      if (sig != s) {
        w.writeBit(1)
        if (s == 0) w.writeBit(0)
        else { w.writeBit(1); w.writeBits((s - 1).toLong, 6) }
      } else w.writeBit(0)
      sig = s
    }
    def trackNewSig(nsig: Int): Int = {
      var newSig = sig
      if (nsig > sig) newSig = nsig
      else if (sig - nsig >= 3) {
        if (nLower == 0) curHi = nsig
        else if (nsig > curHi) curHi = nsig
        nLower += 1
        if (nLower >= 5) { newSig = curHi; nLower = 0 }
      } else nLower = 0
      newSig
    }
    def readIntSig(r: Tsz.BitReader): Unit =
      if (r.readBit() == 1L)
        sig = if (r.readBit() == 0L) 0 else (r.readBits(6) + 1).toInt
  }

  private def numSig(x: Long): Int =
    64 - java.lang.Long.numberOfLeadingZeros(x)
  private def leadTrail(v: Long): (Int, Int) =
    if (v == 0L) (64, 0)
    else (java.lang.Long.numberOfLeadingZeros(v),
      java.lang.Long.numberOfTrailingZeros(v))

  /** Encode one stream. `pts` = (tsMicros, values) in time order;
    * `values(i)` aligns with `schema.fields(i)`: Double / Long /
    * Array[Byte] / Boolean. */
  def encodeStream(schema: Schema, pts: Array[(Long, Array[Any])],
                   lruSize: Int = 4): (Array[Byte], ProtoStats) =
    encodeSegments(Seq((schema, pts)), lruSize)

  /** Encode a stream whose schema CHANGES mid-stream — the format's
    * headline feature (docs/encoding.md "Changing Protobuf message
    * schemas mid-stream"; per-write control combination 3 `0101` =
    * more data + schema change, encoder.go:176-215). Each segment's
    * first write carries the re-encoded schema, and — matching
    * resetSchema → customAndNonCustomFields (encoder.go:520,
    * common.go:199-258, which zero every customFieldState) — ALL
    * per-field state restarts: fresh first-value encodings, empty
    * dictionaries. The timestamp encoder's state persists across the
    * change (only the schema flag is raised, not the time unit). */
  def encodeSegments(segments: Seq[(Schema, Array[(Long, Array[Any])])],
                     lruSize: Int = 4): (Array[Byte], ProtoStats) = {
    val total = segments.map(_._2.length).sum
    val w = new Tsz.BitWriter(math.max(64, total * 8))
    val lruIdxBits = bitsForNumUpToN(lruSize)
    var tsBits = 0L; var dblBits = 0L; var intBits = 0L
    var bytesBits = 0L; var boolBits = 0L
    var bytesNew = 0L; var bytesIdxHits = 0L; var bytesNoChange = 0L
    var intNoChange = 0L
    var headBits = 0L

    // stream header (byte-aligned at bit 0)
    writeUvarint(w, Version)
    writeUvarint(w, lruSize.toLong)
    headBits = w.bits

    def writeSchema(schema: Schema): Unit = {
      writeUvarint(w, schema.maxFieldNum.toLong)
      (1 to schema.maxFieldNum).foreach { fn =>
        val t = schema.fields.find(_._1 == fn).map(_._2).getOrElse(0)
        w.writeBits(t.toLong, 4)
      }
    }

    var prevTs = 0L; var prevDelta = 0L
    var globalIdx = 0

    for ((schema, pts) <- segments) {
      // per-field states — rebuilt fresh at every schema change
      val nFields = schema.fields.length
      val fNotFirst = new Array[Boolean](nFields)
      val fPrevFloat = new Array[Long](nFields)
      val fPrevXOR = new Array[Long](nFields)
      val fPrevInt = new Array[Long](nFields)
      val fTracker = Array.fill(nFields)(new IntSigTracker)
      val fDict = Array.fill(nFields)(
        scala.collection.mutable.ArrayBuffer.empty[Array[Byte]])

      def writeIntValDiff(t: IntSigTracker, mag: Long, neg: Boolean): Unit = {
        w.writeBit(if (neg) 1L else 0L)
        w.writeBits(mag, t.sig)
      }

    var i = 0
    while (i < pts.length) {
      val (ts, vals) = pts(i)
      if (i == 0) {
        val h0 = w.bits
        if (globalIdx == 0) {
          // stream-opening header: time unit AND schema changed
          w.writeBit(0); w.writeBit(1); w.writeBit(1); w.writeBit(1)
          w.writeBits(3L, 8) // xtime.Microsecond
          writeSchema(schema)
        } else {
          // combination 3: more data + schema change only
          w.writeBit(0); w.writeBit(1); w.writeBit(0); w.writeBit(1)
          writeSchema(schema)
        }
        headBits += w.bits - h0
      }
      val t0 = w.bits
      if (globalIdx == 0) {
        w.writeBits(ts, 64) // first timestamp raw
        w.writeBits(0L, 64) // time-unit-changed zero dod (64-bit form)
      } else {
        if (i > 0) w.writeBit(1) // more data, nothing changed
        val d = ts - prevTs
        val dod = d - prevDelta
        if (dod == 0L) w.writeBit(0)
        else if (dod >= -64 && dod <= 63) {
          w.writeBits(0x2, 2); w.writeBits(dod & 0x7fL, 7)
        } else if (dod >= -256 && dod <= 255) {
          w.writeBits(0x6, 3); w.writeBits(dod & 0x1ffL, 9)
        } else if (dod >= -2048 && dod <= 2047) {
          w.writeBits(0xe, 4); w.writeBits(dod & 0xfffL, 12)
        } else {
          w.writeBits(0xf, 4); w.writeBits(dod, 64)
        }
        prevDelta = d
      }
      prevTs = ts
      tsBits += w.bits - t0

      var f = 0
      while (f < nFields) {
        val v0 = w.bits
        schema.fields(f)._2 match {
          case Float64 =>
            val bits = java.lang.Double.doubleToRawLongBits(
              vals(f).asInstanceOf[Double])
            if (!fNotFirst(f)) {
              w.writeBits(bits, 64)
              fPrevFloat(f) = bits; fPrevXOR(f) = bits; fNotFirst(f) = true
            } else {
              val xor = fPrevFloat(f) ^ bits
              if (xor == 0L) w.writeBit(0)
              else {
                val (pl, pt) = leadTrail(fPrevXOR(f))
                val cl = java.lang.Long.numberOfLeadingZeros(xor)
                val ct = java.lang.Long.numberOfTrailingZeros(xor)
                if (cl >= pl && ct >= pt) {
                  w.writeBits(0x2, 2)
                  w.writeBits(xor >>> pt, 64 - pl - pt)
                } else {
                  w.writeBits(0x3, 2)
                  w.writeBits(cl.toLong, 6)
                  val nm = 64 - cl - ct
                  w.writeBits((nm - 1).toLong, 6)
                  w.writeBits(xor >>> ct, nm)
                }
              }
              fPrevXOR(f) = xor; fPrevFloat(f) = bits
            }
            dblBits += w.bits - v0
          case SignedInt64 =>
            val t = fTracker(f)
            val v = vals(f).asInstanceOf[Long]
            if (!fNotFirst(f)) {
              val neg = v < 0
              val mag = math.abs(v)
              t.writeIntSig(w, numSig(mag))
              writeIntValDiff(t, mag, neg)
              fPrevInt(f) = v; fNotFirst(f) = true
            } else {
              val diff = v - fPrevInt(f)
              if (diff == 0L) { w.writeBit(0); intNoChange += 1 }
              else {
                w.writeBit(1)
                val neg = diff < 0
                val mag = math.abs(diff)
                t.writeIntSig(w, t.trackNewSig(numSig(mag)))
                writeIntValDiff(t, mag, neg)
                fPrevInt(f) = v
              }
            }
            intBits += w.bits - v0
          case Bytes =>
            val v = vals(f).asInstanceOf[Array[Byte]]
            val dict = fDict(f)
            if (dict.nonEmpty && java.util.Arrays.equals(dict.last, v)) {
              w.writeBit(0); bytesNoChange += 1
            } else {
              w.writeBit(1)
              val idx = dict.indexWhere(java.util.Arrays.equals(_, v))
              if (idx >= 0) {
                w.writeBit(0) // LRU index follows
                w.writeBits(idx.toLong, lruIdxBits)
                val e = dict.remove(idx); dict.append(e) // move-to-end
                bytesIdxHits += 1
              } else {
                w.writeBit(1) // uvarint length + padded raw bytes
                writeUvarint(w, v.length.toLong)
                val pad = ((8 - (w.bits % 8)) % 8).toInt
                if (pad > 0) w.writeBits(0L, pad)
                v.foreach(b => w.writeBits(b & 0xffL, 8))
                if (dict.length >= lruSize) dict.remove(0) // shift-evict
                dict.append(v)
                bytesNew += 1
              }
            }
            bytesBits += w.bits - v0
          case Bool =>
            w.writeBit(if (vals(f).asInstanceOf[Boolean]) 1L else 0L)
            boolBits += w.bits - v0
          case other =>
            throw new IllegalArgumentException(s"unsupported custom type $other")
        }
        f += 1
      }
      w.writeBit(0) // non-custom section: fast-path no fields
      i += 1
      globalIdx += 1
    }
    }
    w.writeBit(0); w.writeBit(0) // end of stream
    val head = headBits + total /* fast-path bits */ + 2
    (w.toBytes, ProtoStats(tsBits, dblBits, intBits, bytesBits, boolBits,
      head, bytesNew, bytesIdxHits, bytesNoChange, intNoChange))
  }

  /** Decode `n` writes — the exact mirror of [[encodeStream]]
    * (iterator.go's readCustomValues / readBytesValue /
    * int_encoder_iterator.go read paths). */
  def decodeStream(schema: Schema, bytes: Array[Byte],
                   n: Int): Array[(Long, Array[Any])] = {
    decodeSegments(bytes, n).map { case (ts, sch, vals) =>
      require(sch == schema,
        s"stream schema ${sch.fields} != expected ${schema.fields}")
      (ts, vals)
    }
  }

  /** Decode `n` writes of a possibly-schema-changing stream; each
    * write returns the schema it was encoded under (reconstructed
    * from the stream's 4-bit type slots — the stream carries exactly
    * the custom types). Mirrors the per-write control-bit table
    * (docs/encoding.md: `1` = plain write, `0101` = write with a
    * schema change) and resets every per-field state at a change. */
  def decodeSegments(bytes: Array[Byte],
                     n: Int): Array[(Long, Schema, Array[Any])] = {
    val r = new Tsz.BitReader(bytes)
    val out = new Array[(Long, Schema, Array[Any])](n)
    val version = readUvarint(r)
    require(version == Version, s"unsupported stream version $version")
    val lruSize = readUvarint(r).toInt
    val lruIdxBits = bitsForNumUpToN(lruSize)

    var schema: Schema = null
    var nFields = 0
    var fNotFirst: Array[Boolean] = null
    var fPrevFloat: Array[Long] = null
    var fPrevXOR: Array[Long] = null
    var fPrevInt: Array[Long] = null
    var fTracker: Array[IntSigTracker] = null
    var fDict: Array[scala.collection.mutable.ArrayBuffer[Array[Byte]]] = null

    def readSchema(): Unit = {
      val maxField = readUvarint(r).toInt
      schema = Schema((1 to maxField).map(fn => (fn, r.readBits(4).toInt))
        .filter(_._2 != 0))
      nFields = schema.fields.length
      fNotFirst = new Array[Boolean](nFields)
      fPrevFloat = new Array[Long](nFields)
      fPrevXOR = new Array[Long](nFields)
      fPrevInt = new Array[Long](nFields)
      fTracker = Array.fill(nFields)(new IntSigTracker)
      fDict = Array.fill(nFields)(
        scala.collection.mutable.ArrayBuffer.empty[Array[Byte]])
    }

    var prevTs = 0L; var prevDelta = 0L

    var i = 0
    while (i < n) {
      // per-write control bits (the encoding.md combination table)
      val plain = r.readBit() == 1L
      if (!plain) {
        require(r.readBit() == 1L, "unexpected end of stream mid-decode")
        val tuChanged = r.readBit() == 1L
        val schemaChanged = r.readBit() == 1L
        if (tuChanged) require(r.readBits(8) == 3L, "expected micros unit")
        if (schemaChanged) readSchema()
      }
      require(schema != null, "no schema before the first write")
      if (i == 0) {
        prevTs = r.readBits(64)
        prevDelta = r.readBits(64) // the zero first dod
        prevTs += prevDelta
      } else {
        val dod =
          if (r.readBit() == 0L) 0L
          else if (r.readBit() == 0L) (r.readBits(7) << 57) >> 57
          else if (r.readBit() == 0L) (r.readBits(9) << 55) >> 55
          else if (r.readBit() == 0L) (r.readBits(12) << 52) >> 52
          else r.readBits(64)
        prevDelta += dod
        prevTs += prevDelta
      }
      val vals = new Array[Any](nFields)
      var f = 0
      while (f < nFields) {
        schema.fields(f)._2 match {
          case Float64 =>
            if (!fNotFirst(f)) {
              fPrevFloat(f) = r.readBits(64); fPrevXOR(f) = fPrevFloat(f)
              fNotFirst(f) = true
            } else {
              if (r.readBit() == 0L) fPrevXOR(f) = 0L
              else if (r.readBit() == 0L) {
                val (pl, pt) = leadTrail(fPrevXOR(f))
                val nm = 64 - pl - pt
                fPrevXOR(f) = r.readBits(nm) << pt
                fPrevFloat(f) ^= fPrevXOR(f)
              } else {
                val cl = r.readBits(6).toInt
                val nm = r.readBits(6).toInt + 1
                val ct = 64 - cl - nm
                fPrevXOR(f) = r.readBits(nm) << ct
                fPrevFloat(f) ^= fPrevXOR(f)
              }
            }
            vals(f) = java.lang.Double.longBitsToDouble(fPrevFloat(f))
          case SignedInt64 =>
            val t = fTracker(f)
            if (!fNotFirst(f)) {
              t.readIntSig(r)
              val neg = r.readBit() == 1L
              val mag = r.readBits(t.sig)
              fPrevInt(f) = if (neg) -mag else mag
              fNotFirst(f) = true
            } else if (r.readBit() == 1L) {
              t.readIntSig(r)
              val neg = r.readBit() == 1L
              val mag = r.readBits(t.sig)
              fPrevInt(f) += (if (neg) -mag else mag)
            }
            vals(f) = fPrevInt(f)
          case Bytes =>
            val dict = fDict(f)
            if (r.readBit() == 0L) vals(f) = dict.last
            else if (r.readBit() == 0L) {
              val idx = r.readBits(lruIdxBits).toInt
              val e = dict.remove(idx); dict.append(e)
              vals(f) = e
            } else {
              val len = readUvarint(r).toInt
              val pad = ((8 - (r.consumed % 8)) % 8).toInt
              if (pad > 0) r.readBits(pad)
              val v = new Array[Byte](len)
              var j = 0
              while (j < len) { v(j) = r.readBits(8).toByte; j += 1 }
              if (dict.length >= lruSize) dict.remove(0)
              dict.append(v)
              vals(f) = v
            }
          case Bool =>
            vals(f) = r.readBit() == 1L
          case other =>
            throw new IllegalArgumentException(s"unsupported custom type $other")
        }
        f += 1
      }
      require(r.readBit() == 0L, "expected empty non-custom section")
      out(i) = (prevTs, schema, vals)
      i += 1
    }
    require(r.readBits(2) == 0L, "expected end-of-stream marker")
    out
  }
}

/** Block store for proto-compressed structured messages — the same
  * (series, UTC-day) block layout as [[TszStore]], with the message
  * schema `amount double=1, qty int64=2, label string=3, flag
  * bool=4`. */
object ProtoStore {

  val schema: ProtoTsz.Schema = ProtoTsz.Schema(Seq(
    1 -> ProtoTsz.Float64, 2 -> ProtoTsz.SignedInt64,
    3 -> ProtoTsz.Bytes, 4 -> ProtoTsz.Bool))

  /** samples with (name, user_id, ts, event_id, amount, qty, label,
    * flag) → one encoded row per (series, UTC-day) with the
    * bit/count census. */
  def blockFrame(samples: DataFrame): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    val ds = samples
      .select(col("name"), col("user_id"),
        floor(unix_timestamp(col("ts")).cast("double") / 86400.0)
          .cast("long").as("block"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("amount"), col("qty"), col("label"), col("flag"))
      .as[(String, Long, Long, Long, Long, Double, Long, String, Boolean)]
    ds.groupByKey(t => (t._1, t._2, t._3))
      .mapGroups { (key: (String, Long, Long),
                    it: Iterator[(String, Long, Long, Long, Long, Double, Long, String, Boolean)]) =>
        val rows = it.toArray.sortBy(t => (t._4, t._5))
        val pts = rows.map(t => (t._4,
          Array[Any](t._6, t._7,
            t._8.getBytes(java.nio.charset.StandardCharsets.UTF_8), t._9)))
        val (bytes, st) = ProtoTsz.encodeStream(schema, pts)
        (key._1, key._2, key._3, pts.length, bytes,
          st.tsBits, st.dblBits, st.intBits, st.bytesBits, st.boolBits,
          st.bytesNew, st.bytesIdxHits, st.bytesNoChange, st.intNoChange)
      }
      .toDF("name", "user_id", "block", "n", "blk",
        "ts_bits", "dbl_bits", "int_bits", "bytes_bits", "bool_bits",
        "bytes_new", "bytes_idx_hits", "bytes_nochange", "int_nochange")
  }

  /** The 3-field schema the mid-stream change drops `flag` to. */
  val schemaNoFlag: ProtoTsz.Schema = ProtoTsz.Schema(Seq(
    1 -> ProtoTsz.Float64, 2 -> ProtoTsz.SignedInt64,
    3 -> ProtoTsz.Bytes))

  /** One stream per SERIES whose schema CHANGES at `splitTsS`: the
    * 4-field message before it, the flag-less 3-field message from
    * it on (the format's mid-stream schema change — combination
    * `0101` + re-encoded schema + full per-field state reset).
    * This demo frame deliberately spans the series' whole range in
    * one stream to put the change mid-stream; a production layout
    * keeps the (series, day) block bound of [[blockFrame]] and lands
    * the change in whichever block contains it — per-group memory
    * stays block-bounded either way since [[ProtoTsz.encodeSegments]]
    * streams a sorted array. */
  def schemaChangeBlockFrame(samples: DataFrame, splitTsS: Long): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    val ds = samples
      .select(col("name"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("amount"), col("qty"), col("label"), col("flag"))
      .as[(String, Long, Long, Long, Double, Long, String, Boolean)]
    val splitUs = splitTsS * 1000000L
    ds.groupByKey(t => (t._1, t._2))
      .mapGroups { (key: (String, Long),
                    it: Iterator[(String, Long, Long, Long, Double, Long, String, Boolean)]) =>
        val rows = it.toArray.sortBy(t => (t._3, t._4))
        val (before, after) = rows.partition(_._3 < splitUs)
        def pts4(rs: Array[(String, Long, Long, Long, Double, Long, String, Boolean)]) =
          rs.map(t => (t._3, Array[Any](t._5, t._6,
            t._7.getBytes(java.nio.charset.StandardCharsets.UTF_8), t._8)))
        def pts3(rs: Array[(String, Long, Long, Long, Double, Long, String, Boolean)]) =
          rs.map(t => (t._3, Array[Any](t._5, t._6,
            t._7.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        val segments = Seq(
          (schema, pts4(before)), (schemaNoFlag, pts3(after)))
          .filter(_._2.nonEmpty)
        val (bytes, _) = ProtoTsz.encodeSegments(segments)
        (key._1, key._2, rows.length, bytes)
      }
      .toDF("name", "user_id", "n", "blk")
  }

  /** Decode a [[schemaChangeBlockFrame]]: the schema travels in the
    * stream, so `flag` is null for writes encoded under the 3-field
    * schema. */
  def decodeSchemaChange(blocks: DataFrame): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.select(col("name"), col("user_id"), col("n"), col("blk"))
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (n, u, cnt, bytes) =>
        ProtoTsz.decodeSegments(bytes, cnt).iterator.map { case (ts, sch, v) =>
          val hasFlag = sch.fields.exists(_._1 == 4)
          (n, u, ts, v(0).asInstanceOf[Double], v(1).asInstanceOf[Long],
            new String(v(2).asInstanceOf[Array[Byte]],
              java.nio.charset.StandardCharsets.UTF_8),
            if (hasFlag) java.lang.Boolean.valueOf(v(3).asInstanceOf[Boolean])
            else null.asInstanceOf[java.lang.Boolean])
        }
      }
      .toDF("name", "user_id", "ts_us", "amount", "qty", "label", "flag")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .drop("ts_us")
  }

  /** Append one micro-batch as encoded message blocks (the TszStore
    * lifecycle and layout: a (series, day) split across batches lands
    * multiple blobs under one key; [[decode]] unions them,
    * [[compact]] folds back to one). */
  def appendBatch(batch: DataFrame, table: String, buckets: Int = 8): Unit =
    Warehouse.append(blockFrame(batch), table, TszStore.layout(buckets))

  /** Continuous structured-message ingest: each micro-batch encodes
    * and appends its blocks (exactly-once per batch under the
    * checkpoint). */
  def streamWrite(msgs: DataFrame, table: String, checkpoint: String,
                  buckets: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    Warehouse.stream(msgs, checkpoint)(appendBatch(_, table, buckets))

  /** Fold each (series, day) key's blobs back to ONE blob — decode,
    * merge in (ts, amount, qty, label, flag) order (the point SET is
    * preserved exactly; only intra-timestamp byte order can move),
    * re-encode under the fixed message schema, and rewrite the table
    * through [[Warehouse.rewrite]]. */
  def compact(spark: SparkSession, table: String, buckets: Int = 8): Unit = {
    import spark.implicits._
    Warehouse.rewrite(spark, table, TszStore.layout(buckets)) { blocks =>
      blocks.select(col("name"), col("user_id"), col("block"), col("n"),
          col("blk"))
        .as[(String, Long, Long, Int, Array[Byte])]
        .groupByKey(t => (t._1, t._2, t._3))
        .mapGroups { (key: (String, Long, Long),
                      it: Iterator[(String, Long, Long, Int, Array[Byte])]) =>
          val pts = it.flatMap(t => ProtoTsz.decodeStream(schema, t._5, t._4))
            .toArray
            .sortBy(p => (p._1, p._2(0).asInstanceOf[Double],
              p._2(1).asInstanceOf[Long],
              new String(p._2(2).asInstanceOf[Array[Byte]],
                java.nio.charset.StandardCharsets.UTF_8)))
          val (bytes, st) = ProtoTsz.encodeStream(schema, pts)
          (key._1, key._2, key._3, pts.length, bytes,
            st.tsBits, st.dblBits, st.intBits, st.bytesBits, st.boolBits,
            st.bytesNew, st.bytesIdxHits, st.bytesNoChange, st.intNoChange)
        }
        .toDF("name", "user_id", "block", "n", "blk",
          "ts_bits", "dbl_bits", "int_bits", "bytes_bits", "bool_bits",
          "bytes_new", "bytes_idx_hits", "bytes_nochange", "int_nochange")
    }
  }

  /** Decode back to (name, user_id, ts, amount, qty, label, flag). */
  def decode(blocks: DataFrame): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.select(col("name"), col("user_id"), col("n"), col("blk"))
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (n, u, cnt, bytes) =>
        ProtoTsz.decodeStream(schema, bytes, cnt).iterator.map { case (ts, v) =>
          (n, u, ts, v(0).asInstanceOf[Double], v(1).asInstanceOf[Long],
            new String(v(2).asInstanceOf[Array[Byte]],
              java.nio.charset.StandardCharsets.UTF_8),
            v(3).asInstanceOf[Boolean])
        }
      }
      .toDF("name", "user_id", "ts_us", "amount", "qty", "label", "flag")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .drop("ts_us")
  }
}
