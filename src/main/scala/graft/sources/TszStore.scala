package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** m3tsz block codec — the reference's at-rest compression, made
  * real: each (series, UTC-day block) encodes to ONE binary blob,
  * timestamps as delta-of-delta in the scheme's TIME UNIT
  * (scheme.go:47 defaultTimeEncodingSchemes — Second / Millisecond /
  * Microsecond / Nanosecond, a [[TszTimeUnit]] parameter with the
  * Microsecond default: the 7/9/12-bit dod buckets behind
  * 10/110/1110 opcodes with the scheme's default bucket behind
  * 1111 — micros keep the round trip exact where the seconds scheme
  * would truncate), values through the full int-optimized encoder
  * state machine (encoder.go:112-260, int_sig_bits_tracker.go)
  * INCLUDING the float-XOR fallback (encoder.go:119-177
  * writeFloatVal / writeNextValue, float_encoder_iterator.go): a
  * value that fails int conversion flips the block into Gorilla XOR
  * mode (update+noRepeat+floatMode opcodes, full 64-bit first float,
  * then zero/contained/uncontained XOR writes), and a later
  * convertible value flips back through the int-update branch with
  * the forced multiplier rewrite (encoder.go:236 writeIntSigMult's
  * floatChanged arm). The int half is the SAME state machine
  * `Temporal.tszValueCost` costs, so on int-convertible corpora the
  * cost card is this codec's exact bit accounting (asserted in
  * TszSpec); float-mode writes the card models as worst-case (it
  * cannot see IEEE bit patterns from SQL).
  *
  * Deviations, documented here and asserted in TszSpec: (1) the
  * first sample writes a full 64-bit stamp and the second's dod
  * measures against Δ₀ = 0 — the cost model's block-header
  * simplification, self-consistent between encode and decode;
  * (2) int conversion uses the 1e-6 residual tolerance (the
  * deterministic restatement of convertToIntFloat's Modf/Nextafter
  * probes, m3tsz.go:78) plus the reference's 1e13 maxOptInt cap;
  * (3) a nonzero value whose scaled rounding is 0 (subnormals) stays
  * in float mode rather than lossily converting to 0 — the one spot
  * where the reference accepts precision loss and this codec does
  * not. The sign conventions are the reference's wire format:
  * the first int value is stored as a diff from 0 with the inverted
  * sign bit (encoder.go:131 negDiff), so decode is uniformly
  * `intVal += (bit == opcodeNegative ? +mag : -mag)`.
  *
  * The codec is deliberately imperative Scala (bit twiddling has no
  * declarative form); it runs per (series, block) inside mapGroups,
  * the block being m3db's own bounded working set.
  */
/** m3tsz time-unit encoding scheme (scheme.go:47
  * defaultTimeEncodingSchemes): timestamps encode as delta-of-delta
  * in the UNIT's resolution. The 7/9/12-bit dod bucket table is
  * unit-independent (scheme.go:41 defaultNumValueBitsForBuckets);
  * only the catch-all default bucket width varies — 32 bits for
  * Second/Millisecond, 64 for Microsecond/Nanosecond. The reference
  * configures the unit per namespace; here it is a codec/store
  * parameter, persisted as a table property and read back like the
  * dt granularity (SeriesStore.GranularityProp pattern). */
sealed abstract class TszTimeUnit(val name: String, val defaultBits: Int)
    extends Serializable {
  /** epoch-µs → unit ticks. The Second/Millisecond schemes floor —
    * the same sub-unit truncation as the reference's xtime unit
    * conversion; round trips are exact for unit-aligned data. */
  def fromMicros(us: Long): Long
  /** unit ticks → epoch-µs. */
  def toMicros(t: Long): Long
}
object TszTimeUnit {
  case object Second extends TszTimeUnit("second", 32) {
    def fromMicros(us: Long): Long = Math.floorDiv(us, 1000000L)
    def toMicros(t: Long): Long = t * 1000000L
  }
  case object Millisecond extends TszTimeUnit("millisecond", 32) {
    def fromMicros(us: Long): Long = Math.floorDiv(us, 1000L)
    def toMicros(t: Long): Long = t * 1000L
  }
  case object Microsecond extends TszTimeUnit("microsecond", 64) {
    def fromMicros(us: Long): Long = us
    def toMicros(t: Long): Long = t
  }
  case object Nanosecond extends TszTimeUnit("nanosecond", 64) {
    def fromMicros(us: Long): Long = us * 1000L
    def toMicros(t: Long): Long = Math.floorDiv(t, 1000L)
  }
  val all: Seq[TszTimeUnit] = Seq(Second, Millisecond, Microsecond, Nanosecond)
  def of(name: String): TszTimeUnit = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown tsz time unit: $name"))
}

object Tsz {

  final class BitWriter(initialBytes: Int = 256) {
    private var buf = new Array[Byte](math.max(8, initialBytes))
    private var nBits: Long = 0L
    def bits: Long = nBits
    def writeBit(b: Long): Unit = writeBits(b, 1)
    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        val pos = nBits
        val byteIdx = (pos >>> 3).toInt
        if (byteIdx >= buf.length)
          buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        if (((v >>> i) & 1L) != 0L)
          buf(byteIdx) = (buf(byteIdx) | (0x80 >>> (pos & 7L).toInt)).toByte
        nBits += 1
        i -= 1
      }
    }
    def toBytes: Array[Byte] =
      java.util.Arrays.copyOf(buf, ((nBits + 7) >>> 3).toInt)
  }

  final class BitReader(bytes: Array[Byte]) {
    private var pos = 0L
    def readBit(): Long = {
      val b = ((bytes((pos >>> 3).toInt) >>> (7 - (pos & 7L).toInt)) & 1).toLong
      pos += 1
      b
    }
    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    /** bits left in the backing array (stream bits + byte padding). */
    def remaining: Long = bytes.length.toLong * 8 - pos
    /** bits consumed so far (the proto codec's byte-alignment pad). */
    def consumed: Long = pos
    /** non-consuming read — the iterator's PeekBits
      * (timestamp_iterator.go:179), used to spot special markers. */
    def peekBits(n: Int): Long = {
      val save = pos
      val v = readBits(n)
      pos = save
      v
    }
  }

  private val MaxMult = 6
  private val MaxOptInt = 1e13 // m3tsz.go:68 maxOptInt
  private val MaxInt = Long.MaxValue.toDouble
  private val MinInt = Long.MinValue.toDouble

  /** convertToIntFloat (m3tsz.go:78): smallest multiplier in
    * [curMax, 6] making v·10^m integral under the 1e-6 residual
    * tolerance (the deterministic mirror of the reference's
    * Modf/Nextafter probes — the tolerance keeps scaled values ≫1e-6
    * away from .5 boundaries on this data model) and under the 1e13
    * maxOptInt cap. Returns (scaledVal, mult, isFloat); isFloat
    * means "encode this value in XOR mode". NaN/±Inf fail every
    * probe and land in float mode; a nonzero value rounding to 0
    * (subnormal) is kept float rather than lossily zeroed (documented
    * codec deviation #3). */
  private def convertToIntFloat(v: Double, curMax: Int): (Double, Int, Boolean) = {
    var m = curMax
    while (m <= MaxMult) {
      val scaled = v * math.pow(10, m)
      if (math.abs(scaled) >= MaxOptInt) return (v, 0, true) // cap: larger m only grows
      val r = math.rint(scaled)
      if (math.abs(scaled - r) < 1e-6 && (v == 0.0 || r != 0.0))
        return (r, m, false)
      m += 1
    }
    (v, 0, true)
  }

  private def numSig(x: Long): Int =
    64 - java.lang.Long.numberOfLeadingZeros(x)

  private def signExtend(v: Long, bits: Int): Long =
    (v << (64 - bits)) >> (64 - bits)

  private def leadTrail(v: Long): (Int, Int) =
    if (v == 0L) (64, 0) // encoding.go:35 LeadingAndTrailingZeros(0)
    else (java.lang.Long.numberOfLeadingZeros(v),
      java.lang.Long.numberOfTrailingZeros(v))

  /** One delta-of-delta slot — the 7/9/12-bit buckets behind
    * 10/110/1110 opcodes with the scheme's default bucket behind 1111
    * (scheme.go:41 defaultNumValueBitsForBuckets; the bucket table
    * is unit-independent, only the default bucket width varies —
    * 64 bits for the Microsecond/Nanosecond schemes, 32 for
    * Second/Millisecond, scheme.go:47). Wire-checked byte-for-byte
    * against the reference's encoder_test.go golden vectors in
    * TszSpec — incl. the Second scheme's 32-bit default bucket
    * (encoder_test.go:68-69) and the shared Nanosecond 64-bit one. */
  private[graft] def writeDod(w: BitWriter, dod: Long,
                              defaultBits: Int = 64): Unit = {
    if (dod == 0L) w.writeBit(0)
    else if (dod >= -64 && dod <= 63) {
      w.writeBits(0x2, 2); w.writeBits(dod & 0x7fL, 7)
    } else if (dod >= -256 && dod <= 255) {
      w.writeBits(0x6, 3); w.writeBits(dod & 0x1ffL, 9)
    } else if (dod >= -2048 && dod <= 2047) {
      w.writeBits(0xe, 4); w.writeBits(dod & 0xfffL, 12)
    } else {
      w.writeBits(0xf, 4); w.writeBits(dod, defaultBits)
    }
  }

  /** One XOR write given the running previous XOR
    * (float_encoder_iterator.go:82-105 writeXOR: zero / contained /
    * uncontained arms). Wire-checked against TestWriteValue's golden
    * vectors in TszSpec. */
  private[graft] def writeXorBits(w: BitWriter, prevXOR: Long,
                                  xor: Long): Unit = {
    if (xor == 0L) w.writeBit(0) // opcodeZeroValueXOR
    else {
      val (pl, pt) = leadTrail(prevXOR)
      val cl = java.lang.Long.numberOfLeadingZeros(xor)
      val ct = java.lang.Long.numberOfTrailingZeros(xor)
      if (cl >= pl && ct >= pt) {
        w.writeBits(0x2, 2) // opcodeContainedValueXOR
        w.writeBits(xor >>> pt, 64 - pl - pt)
      } else {
        w.writeBits(0x3, 2) // opcodeUncontainedValueXOR
        w.writeBits(cl.toLong, 6)
        val nm = 64 - cl - ct
        w.writeBits((nm - 1).toLong, 6)
        w.writeBits(xor >>> ct, nm)
      }
    }
  }

  /** One annotation record: 9-bit marker opcode + 2-bit annotation
    * marker + signed varint of len−1 + raw bytes
    * (timestamp_encoder.go:172-195; scheme.go markers). Pure write —
    * the encoder's change-detection sits at the call site.
    * Wire-checked against TestWriteAnnotation's golden vectors. */
  private[graft] def writeAnnotationBits(w: BitWriter,
                                         ant: Array[Byte]): Unit = {
    w.writeBits(0x100L, 9) // defaultMarkerOpcode, 9 bits (scheme.go:35)
    w.writeBits(1L, 2) // defaultAnnotationMarker (scheme.go:31)
    // binary.PutVarint(len-1): zigzag, 7-bit groups LSB-first
    var ux = ((ant.length - 1).toLong << 1) ^ ((ant.length - 1).toLong >> 63)
    while ((ux & ~0x7fL) != 0L) {
      w.writeBits((ux & 0x7fL) | 0x80L, 8); ux >>>= 7
    }
    w.writeBits(ux, 8)
    var j = 0
    while (j < ant.length) { w.writeBits(ant(j) & 0xffL, 8); j += 1 }
  }

  /** Encode one block. `pts` = (tsMicros, value) in time order.
    * Returns (bytes, tsBits, valBits); tsBits + valBits = total
    * stream bits. Values that fail int conversion encode through the
    * float-XOR path (bit-exact round trip incl. NaN payloads, ±Inf,
    * subnormals, −0.0 — raw IEEE bits throughout). */
  def encodeBlock(pts: Array[(Long, Double)],
                  unit: TszTimeUnit = TszTimeUnit.Microsecond): (Array[Byte], Long, Long) = {
    val (b, t, v, _) = encodeCore(pts, null, firstDodSlot = false, unit)
    (b, t, v)
  }

  /** Encode with per-datapoint annotations (timestamp_encoder.go:
    * 161-195 writeAnnotation): an annotation is written only when
    * non-empty AND different from the previous one — 9-bit marker
    * opcode 0x100 + 2-bit Annotation marker (scheme.go:30-37), a
    * signed varint of len−1 (binary.PutVarint, "subtract 1 for
    * possible varint encoding savings"), then the raw bytes — all
    * unaligned in the bit stream. Change detection compares the
    * bytes directly where the reference compares xxhash64 checksums
    * (timestamp_encoder.go:164-169) — same decision on every input,
    * minus the hash-collision false-negative.
    *
    * Markers sit in front of a delta-of-delta slot, where the 9-bit
    * opcode is unambiguous (dod==0 always takes the 1-bit opcode, so
    * `10 0000000` can never open a genuine dod). To give the FIRST
    * point a marker-safe slot too, this layout restates the
    * reference's block shape exactly: 64-bit start time, then every
    * point — including the first — carries [markers?][dod]
    * (timestamp_encoder.go:95-101 WriteFirstTime writes the start
    * then delegates to WriteNextTime; the first dod is 0 here since
    * the start IS the first timestamp). [[encodeBlock]] keeps the
    * original first-dod-free layout, so its at-rest bits and cost
    * cards are unchanged.
    *
    * Returns (bytes, tsBits, valBits, antBits). */
  def encodeBlockAnnotated(pts: Array[(Long, Double)],
                           ants: Array[Array[Byte]]): (Array[Byte], Long, Long, Long) =
    encodeCore(pts, ants, firstDodSlot = true)

  private def encodeCore(pts: Array[(Long, Double)],
                         ants: Array[Array[Byte]],
                         firstDodSlot: Boolean,
                         unit: TszTimeUnit = TszTimeUnit.Microsecond): (Array[Byte], Long, Long, Long) = {
    val w = new BitWriter(math.max(64, pts.length * 4))
    var tsBits = 0L
    var valBits = 0L
    var prevTs = 0L
    var prevDelta = 0L
    var maxMult = 0
    var sigT = 0      // tracker NumSig
    var curHi = 0     // tracker CurHighestLowerSig
    var nLower = 0    // tracker NumLowerSig
    var intVal = 0.0  // current int val, scaled (float64 like the reference)
    var isFloat = false
    var prevFloatBits = 0L
    var prevXOR = 0L
    var prevAnt: Array[Byte] = null
    var antBits = 0L

    // timestamp_encoder.go:172-195 writeAnnotation (on change only)
    def writeAnnotation(ant: Array[Byte]): Unit = {
      if (ant == null || ant.length == 0) return
      if (prevAnt != null && java.util.Arrays.equals(prevAnt, ant)) return
      val a0 = w.bits
      writeAnnotationBits(w, ant)
      prevAnt = ant
      antBits += w.bits - a0
    }

    // float_encoder_iterator.go:70 writeFullFloat
    def writeFullFloat(bits: Long): Unit = {
      w.writeBits(bits, 64); prevFloatBits = bits; prevXOR = bits
    }
    // float_encoder_iterator.go:77-105 writeNextFloat + writeXOR
    def writeNextFloat(bits: Long): Unit = {
      val xor = prevFloatBits ^ bits
      writeXorBits(w, prevXOR, xor)
      prevXOR = xor; prevFloatBits = bits
    }

    // WriteIntSig (int_sig_bits_tracker.go:49): update marker + the
    // new count when it changed, bare no-update bit otherwise
    def writeIntSig(sig: Int): Unit = {
      if (sigT != sig) {
        w.writeBit(1)
        if (sig == 0) w.writeBit(0)
        else { w.writeBit(1); w.writeBits((sig - 1).toLong, 6) }
      } else w.writeBit(0)
      sigT = sig
    }

    // writeIntSigMult (encoder.go:236): sig first, then the mult —
    // written when it GREW, or rewritten unchanged when only the
    // float mode flipped (the annotation-peek rule; with WriteIntSig
    // having set NumSig=sig, a float→int step always lands in one of
    // the two update arms, which is what lets the decoder keep no
    // out-of-band mult state across float spans)
    def writeIntSigMult(sig: Int, mult: Int, floatChanged: Boolean): Unit = {
      writeIntSig(sig)
      if (mult > maxMult) {
        w.writeBit(1); w.writeBits(mult.toLong, 3); maxMult = mult
      } else if (maxMult == mult && floatChanged) {
        w.writeBit(1); w.writeBits(maxMult.toLong, 3)
      } else w.writeBit(0)
    }

    // WriteIntValDiff (int_sig_bits_tracker.go:35): sign bit
    // (opcodeNegative = "add at decode") then NumSig magnitude bits
    def writeIntValDiff(mag: Long, neg: Boolean): Unit = {
      w.writeBit(if (neg) 1L else 0L)
      w.writeBits(mag, sigT)
    }

    // TrackNewSig (int_sig_bits_tracker.go:70): grow immediately,
    // collapse after 5 consecutive diffs ≥3 bits below to the run's
    // highest; a growth step leaves NumLowerSig untouched
    def trackNewSig(nsig: Int): Int = {
      var newSig = sigT
      if (nsig > sigT) newSig = nsig
      else if (sigT - nsig >= 3) {
        if (nLower == 0) curHi = nsig
        else if (nsig > curHi) curHi = nsig
        nLower += 1
        if (nLower >= 5) { newSig = curHi; nLower = 0 }
      } else nLower = 0
      newSig
    }

    var i = 0
    while (i < pts.length) {
      val (tsUs, v) = pts(i)
      // ---- timestamp half (dod buckets in the scheme's unit) ----
      // annotations precede the dod slot (WriteNextTime order,
      // timestamp_encoder.go:110); for the first point the raw
      // 64-bit time comes first (WriteFirstTime), then markers, then
      // its zero dod when this layout carries one
      val ts = unit.fromMicros(tsUs)
      if (i == 0) {
        val t0 = w.bits
        w.writeBits(ts, 64)
        tsBits += w.bits - t0
        if (ants != null) writeAnnotation(ants(0))
        if (firstDodSlot) { val t1 = w.bits; w.writeBit(0); tsBits += w.bits - t1 }
      } else {
        if (ants != null) writeAnnotation(ants(i))
        val t0 = w.bits
        val d = ts - prevTs
        val dod = d - prevDelta
        writeDod(w, dod, unit.defaultBits)
        prevDelta = d
        tsBits += w.bits - t0
      }
      prevTs = ts

      // ---- value half (int-optimized encoder with float fallback) ----
      val v0 = w.bits
      val (cv, m, isF) = convertToIntFloat(v, if (i == 0) 0 else maxMult)
      if (i == 0) {
        // writeFirstValue (encoder.go:112)
        if (isF) {
          w.writeBit(1) // opcodeFloatMode
          writeFullFloat(java.lang.Double.doubleToRawLongBits(v))
          isFloat = true; maxMult = m
        } else {
          w.writeBit(0) // opcodeIntMode
          intVal = cv
          val mag = math.abs(cv).toLong
          writeIntSigMult(numSig(mag), m, floatChanged = false)
          writeIntValDiff(mag, neg = cv >= 0) // encoder.go:131 inverted first sign
        }
      } else {
        val valDiff = if (isF) 0.0 else intVal - cv
        if (isF || valDiff >= MaxInt || valDiff <= MinInt) {
          // writeFloatVal (encoder.go:169); the overflow arm is
          // unreachable under the 1e13 cap but kept for fidelity
          val bits = java.lang.Double.doubleToRawLongBits(cv)
          if (!isFloat) {
            w.writeBit(0); w.writeBit(0); w.writeBit(1) // upd, noRep, float
            writeFullFloat(bits); isFloat = true; maxMult = m
          } else if (bits == prevFloatBits) {
            w.writeBit(0); w.writeBit(1) // upd, repeat
          } else {
            w.writeBit(1) // opcodeNoUpdate
            writeNextFloat(bits)
          }
        } else if (valDiff == 0.0 && !isFloat && m == maxMult) {
          w.writeBit(0); w.writeBit(1) // opcodeUpdate + opcodeRepeat
        } else {
          // writeIntVal (encoder.go:199)
          val neg = valDiff < 0
          val diffMag = math.abs(valDiff).toLong
          val nsig = numSig(diffMag)
          val newSig = trackNewSig(nsig)
          val floatChanged = isFloat
          if (m > maxMult || sigT != newSig || floatChanged) {
            w.writeBit(0); w.writeBit(0); w.writeBit(0) // upd, noRep, int
            writeIntSigMult(newSig, m, floatChanged)
            writeIntValDiff(diffMag, neg)
            isFloat = false
          } else {
            w.writeBit(1) // opcodeNoUpdate
            writeIntValDiff(diffMag, neg)
          }
          intVal = cv
        }
      }
      valBits += w.bits - v0
      i += 1
    }
    (w.toBytes, tsBits, valBits, antBits)
  }

  /** Decode a block of `n` points — the exact mirror of
    * [[encodeBlock]] (iterator.go:108-211 readFirstValue /
    * readNextValue / readIntSigMult / readIntValDiff +
    * float_encoder_iterator.go:107-170 readFullFloat /
    * readNextFloat). Raw IEEE bits flow through float mode, so NaN
    * payloads and −0.0 survive. */
  def decodeBlock(bytes: Array[Byte], n: Int,
                  unit: TszTimeUnit = TszTimeUnit.Microsecond): Array[(Long, Double)] = {
    val (pts, _) = decodeCore(bytes, n, markers = false, unit)
    pts
  }

  /** Decode an [[encodeBlockAnnotated]] block: each point reports
    * the PREVAILING annotation — the latest one seen in the stream
    * (the iterator's PrevAnt, timestamp_iterator.go:44), null until
    * the first marker. Mirrors tryReadMarker
    * (timestamp_iterator.go:175-233): peek 11 bits at every dod
    * slot, consume annotation markers, fall through to the dod. */
  def decodeBlockAnnotated(bytes: Array[Byte],
                           n: Int): Array[(Long, Double, Array[Byte])] = {
    val (pts, ants) = decodeCore(bytes, n, markers = true)
    Array.tabulate(n)(i => (pts(i)._1, pts(i)._2, ants(i)))
  }

  private def decodeCore(bytes: Array[Byte], n: Int,
                         markers: Boolean,
                         unit: TszTimeUnit = TszTimeUnit.Microsecond): (Array[(Long, Double)], Array[Array[Byte]]) = {
    val r = new BitReader(bytes)
    val out = new Array[(Long, Double)](n)
    val ants: Array[Array[Byte]] = if (markers) new Array(n) else null
    var curAnt: Array[Byte] = null
    var prevTs = 0L
    var prevDelta = 0L
    var mult = 0
    var sig = 0
    var intVal = 0.0
    var isFloat = false
    var prevFloatBits = 0L
    var prevXOR = 0L

    def readIntSigMult(): Unit = {
      if (r.readBit() == 1L)
        sig = if (r.readBit() == 0L) 0 else (r.readBits(6) + 1).toInt
      if (r.readBit() == 1L) mult = r.readBits(3).toInt
    }

    // sign convention per iterator.go:195 readIntValDiff:
    // opcodeNegative means ADD (the first value starts from 0)
    def readIntValDiff(): Unit = {
      val add = r.readBit() == 1L
      val mag = r.readBits(sig).toDouble
      intVal += (if (add) mag else -mag)
    }

    def readFullFloat(): Unit = {
      prevFloatBits = r.readBits(64); prevXOR = prevFloatBits
    }

    def readNextFloat(): Unit = {
      if (r.readBit() == 0L) prevXOR = 0L // zero XOR: bits unchanged
      else if (r.readBit() == 0L) { // contained
        val (pl, pt) = leadTrail(prevXOR)
        val nm = 64 - pl - pt
        prevXOR = r.readBits(nm) << pt
        prevFloatBits ^= prevXOR
      } else { // uncontained
        val cl = r.readBits(6).toInt
        val nm = r.readBits(6).toInt + 1
        val ct = 64 - cl - nm
        prevXOR = r.readBits(nm) << ct
        prevFloatBits ^= prevXOR
      }
    }

    // tryReadMarker: 11-bit peek for the 9-bit 0x100 opcode + 2-bit
    // marker value at a dod slot; consume annotation markers (varint
    // len−1 + bytes). We emit no EndOfStream/TimeUnit markers.
    def readMarkers(): Unit = {
      while (r.remaining >= 11 && r.peekBits(9) == 0x100L) {
        r.readBits(9)
        val mv = r.readBits(2)
        if (mv == 1L) {
          var ux = 0L; var shift = 0; var b = 0L
          do {
            b = r.readBits(8); ux |= (b & 0x7fL) << shift; shift += 7
          } while ((b & 0x80L) != 0L)
          val len = (((ux >>> 1) ^ -(ux & 1L)) + 1).toInt
          val a = new Array[Byte](len)
          var j = 0
          while (j < len) { a(j) = r.readBits(8).toByte; j += 1 }
          curAnt = a
        } else
          // EndOfStream/TimeUnit markers are never written by
          // encodeBlockAnnotated — the 11 consumed bits can't be
          // un-read, so fail loudly instead of desyncing the stream
          throw new IllegalStateException(
            s"unexpected special marker $mv in annotated tsz stream")
      }
    }

    def readDod(): Unit = {
      val dod =
        if (r.readBit() == 0L) 0L
        else if (r.readBit() == 0L) signExtend(r.readBits(7), 7)
        else if (r.readBit() == 0L) signExtend(r.readBits(9), 9)
        else if (r.readBit() == 0L) signExtend(r.readBits(12), 12)
        // the scheme's default bucket: sign-extend its width (a no-op
        // at 64, the 32-bit Second/Millisecond two's complement else)
        else signExtend(r.readBits(unit.defaultBits), unit.defaultBits)
      prevDelta += dod
      prevTs += prevDelta
    }

    var i = 0
    while (i < n) {
      // ---- timestamp ----
      if (i == 0) {
        prevTs = r.readBits(64)
        if (markers) { readMarkers(); readDod() } // annotated layout's zero first dod
      } else {
        if (markers) readMarkers()
        readDod()
      }
      if (markers) ants(i) = curAnt
      // ---- value ----
      if (i == 0) {
        if (r.readBit() == 1L) { readFullFloat(); isFloat = true }
        else { readIntSigMult(); readIntValDiff() }
      } else {
        if (r.readBit() == 0L) { // opcodeUpdate
          if (r.readBit() == 1L) () // repeat: state unchanged
          else if (r.readBit() == 1L) { readFullFloat(); isFloat = true }
          else { readIntSigMult(); readIntValDiff(); isFloat = false }
        } else { // opcodeNoUpdate
          if (isFloat) readNextFloat()
          else readIntValDiff()
        }
      }
      val value =
        if (isFloat) java.lang.Double.longBitsToDouble(prevFloatBits)
        else if (mult == 0) intVal
        else intVal / math.pow(10, mult)
      out(i) = (unit.toMicros(prevTs), value)
      i += 1
    }
    (out, ants)
  }

  /** Per-block census of the VALUE-encoder cost card — the encoder
    * state machine of [[encodeBlock]]'s value half run for its
    * CONTROL-BIT ACCOUNTING only (no byte stream), in imperative
    * Scala so the card avoids the interpreted `aggregate()` fold it
    * previously ran as (Catalyst's ArrayAggregate is
    * CodegenFallback). Semantics are the card's, branch for branch —
    * NOT always the codec's real bit count: non-repeat float-XOR
    * writes are modeled at the worst case 1+2+6+6+64 = 79 bits
    * (float_encoder_iterator.go:85 uncontained, 64 meaningful bits),
    * so on float corpora `bits` upper-bounds [[encodeBlock]]'s
    * actual stream; TszSpec pins card == codec when nFloatMode = 0
    * and card ≥ codec otherwise. Float repeats compare via
    * `java.lang.Double.compare == 0` — all NaNs equal, ±0.0 distinct
    * — the imperative twin of the card's `v = prev AND 1/v = 1/prev`
    * engine-portable bit-equality restatement. */
  final case class ValueCostStats(nRepeat: Long, nSigUpdate: Long,
    nMultUpdate: Long, maxMultSeen: Long, bits: Long,
    nFloatMode: Long, nFloatTransition: Long)

  def valueCostStats(values: Array[Double]): ValueCostStats = {
    var started = false; var isFloat = false
    var prevV = 0.0
    var maxMult = 0; var mmSeen = 0
    var sigT = 0; var curHi = 0; var nLower = 0
    var intVal = 0L
    var bits = 0L; var nRep = 0L; var nSigUpd = 0L; var nMultUpd = 0L
    var nFloat = 0L; var nTrans = 0L
    var i = 0
    while (i < values.length) {
      val v = values(i)
      // conversion probe at the current maxMult (m3tsz.go:78
      // convertToIntFloat; each m checked independently like the
      // card's 7-bit mask — the ≥1e13 cap only grows with m, so the
      // outcomes agree with the codec's early abort)
      var m = maxMult; var found = -1; var cv = 0L
      while (found < 0 && m <= MaxMult) {
        val scaled = v * math.pow(10, m)
        if (math.abs(scaled) < MaxOptInt) {
          val r = math.rint(scaled)
          if (math.abs(scaled - r) < 1e-6 && (v == 0.0 || r != 0.0)) {
            found = m; cv = r.toLong
          }
        }
        m += 1
      }
      if (found < 0) {
        // float-XOR mode (encoder.go:169 writeFloatVal)
        val fRepeat = isFloat && java.lang.Double.compare(v, prevV) == 0
        if (!started) { bits += 65; nTrans += 1 }          // 1 + full float
        else if (fRepeat) { bits += 2; nRep += 1 }          // upd + repeat
        else if (!isFloat) { bits += 67; nTrans += 1 }      // 3 + full float
        else bits += 79                                     // worst-case XOR
        nFloat += 1
        if (!fRepeat) prevV = v
        if (!isFloat) maxMult = 0 // a float resets the multiplier state
        isFloat = true; started = true
      } else if (!started) {
        // writeFirstValue (encoder.go:112), int mode
        val sig0 = numSig(math.abs(cv))
        bits += 1L + (if (sig0 > 0) 8 else 1) +
          (if (found > 0) 4 else 1) + 1 + sig0
        if (sig0 > 0) nSigUpd += 1
        if (found > 0) nMultUpd += 1
        sigT = sig0; maxMult = found
        mmSeen = math.max(mmSeen, found)
        intVal = cv; isFloat = false; started = true
      } else if (!isFloat && intVal == cv && found == maxMult) {
        bits += 2; nRep += 1 // opcodeUpdate + opcodeRepeat
      } else {
        // writeIntVal (encoder.go:199) + TrackNewSig hysteresis
        val nsig = numSig(math.abs(intVal - cv))
        val growing = nsig > sigT
        val dropping = !growing && (sigT - nsig >= 3)
        if (dropping)
          curHi = if (nLower == 0) nsig else math.max(curHi, nsig)
        val nlower1 =
          if (growing) nLower else if (dropping) nLower + 1 else 0
        val collapse = dropping && nlower1 >= 5
        val newSig =
          if (growing) nsig else if (collapse) curHi else sigT
        nLower = if (collapse) 0 else nlower1
        val sigChanged = sigT != newSig
        val multWrite = found > maxMult || isFloat
        bits += (if (multWrite || sigChanged)
          3L + (if (sigChanged) { if (newSig == 0) 2 else 8 } else 1) +
            (if (multWrite) 4 else 1) + 1 + newSig
        else 2L + sigT)
        if (sigChanged) nSigUpd += 1
        if (multWrite) nMultUpd += 1
        maxMult = math.max(maxMult, found)
        mmSeen = math.max(mmSeen, found)
        sigT = newSig; intVal = cv; isFloat = false
      }
      i += 1
    }
    ValueCostStats(nRep, nSigUpd, nMultUpd, mmSeen.toLong, bits,
      nFloat, nTrans)
  }
}

/** At-rest m3tsz block store: events → one encoded binary blob per
  * (series, UTC-day block), persisted bucketed by series so the
  * decode path reads shuffle-free — the Spark-native restatement of
  * m3db's block-per-series-per-window file layout
  * (src/dbnode/storage/series). Readers decode blocks back to
  * samples with `flatMap` over the block rows; the blob is opaque to
  * Catalyst, so predicates prune on the (name, user_id, block)
  * columns exactly like m3db seeks by (series, block start).
  *
  * Scale: encoding shuffles once on the block key into mapGroups
  * (per-group state = one block, m3db's own working set — the
  * 10-point and 10M-point corpora cost the same per-executor
  * memory); the table write buckets by series; decode is a map-side
  * flatMap over pruned block rows. */
object TszStore {

  /** Table property recording the m3tsz time unit for [[readDecoded]]
    * (scheme.go per-namespace unit config, the SeriesStore
    * GranularityProp pattern). */
  private val TimeUnitProp = "graft.tsz.unit"

  /** (name, user_id, block, n, ts_bits, val_bits, blk) — one encoded
    * row per (series, UTC-day). */
  def blockFrame(samples0: DataFrame,
                 unit: TszTimeUnit = TszTimeUnit.Microsecond): DataFrame = {
    val spark = samples0.sparkSession
    import spark.implicits._
    // streamed frames (Ingest.Sample) carry no event_id; the
    // tiebreak only orders same-timestamp points inside a block
    val samples =
      if (samples0.columns.contains("event_id")) samples0
      else samples0.withColumn("event_id", lit(0L))
    val ds = samples.where(col("value").isNotNull)
      .select(col("name"), col("user_id"),
        floor(unix_timestamp(col("ts")).cast("double") / 86400.0)
          .cast("long").as("block"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .as[(String, Long, Long, Long, Long, Double)]
    ds.groupByKey(t => (t._1, t._2, t._3))
      .mapGroups { (key: (String, Long, Long),
                    it: Iterator[(String, Long, Long, Long, Long, Double)]) =>
        val pts = it.toArray.sortBy(t => (t._4, t._5)).map(t => (t._4, t._6))
        val (bytes, tsBits, valBits) = Tsz.encodeBlock(pts, unit)
        (key._1, key._2, key._3, pts.length, tsBits, valBits, bytes)
      }
      .toDF("name", "user_id", "block", "n", "ts_bits", "val_bits", "blk")
  }

  /** [[blockFrame]] with per-datapoint annotations: expects an
    * `annotation` string column (m3's ts.Annotation bytes — UTF-8
    * here; null/empty = unannotated); encodes through
    * [[Tsz.encodeBlockAnnotated]]'s write-on-change marker scheme,
    * so a block whose annotation never changes pays ONE marker.
    * Output adds `ant_bits` to the per-block card. */
  def annotatedBlockFrame(samples0: DataFrame): DataFrame = {
    val spark = samples0.sparkSession
    import spark.implicits._
    val samples =
      if (samples0.columns.contains("event_id")) samples0
      else samples0.withColumn("event_id", lit(0L))
    val ds = samples.where(col("value").isNotNull)
      .select(col("name"), col("user_id"),
        floor(unix_timestamp(col("ts")).cast("double") / 86400.0)
          .cast("long").as("block"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"), col("annotation"))
      .as[(String, Long, Long, Long, Long, Double, String)]
    ds.groupByKey(t => (t._1, t._2, t._3))
      .mapGroups { (key: (String, Long, Long),
                    it: Iterator[(String, Long, Long, Long, Long, Double, String)]) =>
        val rows = it.toArray.sortBy(t => (t._4, t._5))
        val pts = rows.map(t => (t._4, t._6))
        val ants = rows.map(t =>
          if (t._7 == null) null
          else t._7.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val (bytes, tsBits, valBits, antBits) =
          Tsz.encodeBlockAnnotated(pts, ants)
        (key._1, key._2, key._3, pts.length, tsBits, valBits, antBits, bytes)
      }
      .toDF("name", "user_id", "block", "n", "ts_bits", "val_bits",
        "ant_bits", "blk")
  }

  /** Decode an [[annotatedBlockFrame]] back to samples with the
    * prevailing annotation per point (the iterator's PrevAnt). */
  def decodeAnnotated(blocks: DataFrame): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.select(col("name"), col("user_id"), col("n"), col("blk"))
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (n, u, cnt, bytes) =>
        Tsz.decodeBlockAnnotated(bytes, cnt).iterator.map(p =>
          (n, u, p._1, p._2,
            if (p._3 == null) null
            else new String(p._3, java.nio.charset.StandardCharsets.UTF_8)))
      }
      .toDF("name", "user_id", "ts_us", "value", "annotation")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .drop("ts_us")
  }

  /** Series buckets, (series, block) order in each — shared by
    * [[ProtoStore]]'s message blocks. */
  private[sources] def layout(buckets: Int) = Warehouse.Layout(
    buckets = buckets, bucketBy = Seq("name", "user_id"),
    sortBy = Seq("name", "user_id", "block"))

  /** Persist the block frame, bucketed by series (idempotent,
    * [[Warehouse.create]]). The time unit rides as a table property
    * so readers pick the scheme up without out-of-band state. */
  def write(samples: DataFrame, table: String, buckets: Int = 8,
            unit: TszTimeUnit = TszTimeUnit.Microsecond): Unit =
    Warehouse.create(blockFrame(samples, unit), table, layout(buckets),
      Map(TimeUnitProp -> unit.name))

  /** Persist an [[annotatedBlockFrame]] (same discipline as
    * [[write]]). */
  def writeAnnotated(samples: DataFrame, table: String,
                     buckets: Int = 8): Unit =
    Warehouse.create(annotatedBlockFrame(samples), table, layout(buckets))

  /** Append one annotated micro-batch (the [[appendBatch]] twin). */
  def appendBatchAnnotated(batch: DataFrame, table: String,
                           buckets: Int = 8): Unit =
    Warehouse.append(annotatedBlockFrame(batch), table, layout(buckets))

  /** [[compact]] for annotated tables: each decoded point carries
    * its prevailing annotation into the merge, and the re-encode's
    * write-on-change detection re-deduplicates markers across the
    * folded blobs — the plain [[compact]] would silently DROP
    * annotations. Same-timestamp points merge in (ts, value) order
    * like the unannotated path. */
  def compactAnnotated(spark: SparkSession, table: String,
                       buckets: Int = 8): Unit = {
    import spark.implicits._
    Warehouse.rewrite(spark, table, layout(buckets)) { blocks =>
      blocks.select(col("name"), col("user_id"), col("block"), col("n"),
          col("blk"))
        .as[(String, Long, Long, Int, Array[Byte])]
        .groupByKey(t => (t._1, t._2, t._3))
        .mapGroups { (key: (String, Long, Long),
                      it: Iterator[(String, Long, Long, Int, Array[Byte])]) =>
          val pts = it.flatMap(t => Tsz.decodeBlockAnnotated(t._5, t._4))
            .toArray.sortBy(p => (p._1, p._2))
          val (bytes, tsBits, valBits, antBits) =
            Tsz.encodeBlockAnnotated(pts.map(p => (p._1, p._2)), pts.map(_._3))
          (key._1, key._2, key._3, pts.length, tsBits, valBits, antBits, bytes)
        }
        .toDF("name", "user_id", "block", "n", "ts_bits", "val_bits",
          "ant_bits", "blk")
    }
  }

  /** The table's persisted scheme, or the Microsecond default when
    * the table (or property) doesn't exist yet. */
  private def tableUnit(spark: SparkSession, table: String): TszTimeUnit =
    if (!spark.catalog.tableExists(table)) TszTimeUnit.Microsecond
    else TszTimeUnit.of(Warehouse.properties(spark, table)
      .getOrElse(TimeUnitProp, TszTimeUnit.Microsecond.name))

  /** Append one micro-batch as encoded blocks, in the table's time
    * unit (not a caller guess). A (series, day) split across
    * micro-batches lands MULTIPLE blobs under one block key — m3db's
    * pre-compaction block versions; [[readDecoded]] decodes and
    * unions all of them, [[compact]] folds each key back to one
    * blob. */
  def appendBatch(batch: DataFrame, table: String, buckets: Int = 8): Unit =
    Warehouse.append(blockFrame(batch, tableUnit(batch.sparkSession, table)),
      table, layout(buckets))

  /** Continuous ingest — m3db's commit-log → flush path over
    * Structured Streaming: each micro-batch encodes and appends its
    * blocks (exactly-once per batch under the checkpoint). */
  def streamWrite(samples: DataFrame, table: String, checkpoint: String,
                  buckets: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    Warehouse.stream(samples, checkpoint)(appendBatch(_, table, buckets))

  /** Background compaction (m3db's dbnode storage/compaction,
    * restated for blocks): decode every blob of each (series, block)
    * key, merge the points in time order, re-encode to exactly ONE
    * blob, and rewrite the table through [[Warehouse.rewrite]].
    * Same-timestamp points from different blobs merge in (ts, value)
    * order — the point SET is preserved exactly; only the
    * intra-second byte order may differ from the batch path. */
  def compact(spark: SparkSession, table: String, buckets: Int = 8): Unit = {
    import spark.implicits._
    val unit = tableUnit(spark, table)
    Warehouse.rewrite(spark, table, layout(buckets)) { blocks =>
      blocks.select(col("name"), col("user_id"), col("block"), col("n"),
          col("blk"))
        .as[(String, Long, Long, Int, Array[Byte])]
        .groupByKey(t => (t._1, t._2, t._3))
        .mapGroups { (key: (String, Long, Long),
                      it: Iterator[(String, Long, Long, Int, Array[Byte])]) =>
          val pts = it.flatMap(t => Tsz.decodeBlock(t._5, t._4, unit))
            .toArray.sortBy(p => (p._1, p._2))
          val (bytes, tsBits, valBits) = Tsz.encodeBlock(pts, unit)
          (key._1, key._2, key._3, pts.length, tsBits, valBits, bytes)
        }
        .toDF("name", "user_id", "block", "n", "ts_bits", "val_bits", "blk")
    }
  }

  /** Decode the stored blocks back to a sample frame
    * (name, user_id, ts, value). `fromBlock`/`untilBlock` prune on
    * the block column before any blob is touched. */
  def readDecoded(spark: SparkSession, table: String,
                  fromBlock: Option[Long] = None,
                  untilBlock: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val unit = tableUnit(spark, table)
    val t = spark.table(table)
    val bounded = Seq(
      fromBlock.map(b => col("block") >= b),
      untilBlock.map(b => col("block") < b)).flatten
      .foldLeft(t)((df, p) => df.where(p))
    bounded.select(col("name"), col("user_id"), col("n"), col("blk"))
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (n, u, cnt, bytes) =>
        Tsz.decodeBlock(bytes, cnt, unit).iterator.map(p => (n, u, p._1, p._2))
      }
      .toDF("name", "user_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .drop("ts_us")
  }
}
