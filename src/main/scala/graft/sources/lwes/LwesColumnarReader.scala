package graft.sources.lwes

import java.nio.charset.StandardCharsets.UTF_8

import graft.lwes.{Journal, LwesEvent, LwesType}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The one scan decoder behind `format("lwes")` — batch scans,
  * streaming micro-batches and the pushed-aggregate stream fold:
  * journal WIRE BYTES are decoded straight into `ColumnarBatch` column
  * vectors (4096 rows per batch) — no per-event object, no
  * per-attribute boxing, no String keys. The record loop:
  *
  *   - reads the 22-byte header + payload into two reused buffers;
  *   - applies the eventName filter by comparing raw name bytes;
  *   - walks the attribute list ONCE, resolving each key through a
  *     byte-keyed open-addressed dispatch table (attr → target columns);
  *     unreferenced attributes are length-skipped, referenced ones are
  *     decoded by wire token directly into the per-column typed writer;
  *   - injects header-derived columns (ReceiptTime/SenderIP/SenderPort/
  *     SiteID) from the header fields, overwriting payload copies — the
  *     same replace semantics as the event object's `ev.set`;
  *   - null-fills columns no attribute reached (per-row stamp array, no
  *     per-row clearing).
  *
  * Every conversion matches [[LwesOptions.toCatalyst]] bit-for-bit:
  * float-from-string, uint64-as-decimal, IPADDR un-reversal,
  * unconvertible → NULL, and malformed-UTF-8 string attrs take the same
  * String round-trip the event-object decode takes (ASCII fast-paths
  * straight from the wire). The event-object decode (JournalReader →
  * LwesEvent → toCatalyst) is the reference: the test tree's
  * `ColumnShape` shapes rows from it, and LwesColumnarSpec pins this
  * reader against it.
  *
  * Corruption semantics are JournalReader's: torn tail / codec
  * corruption ends the FILE (tornFiles metric), an undecodable payload
  * costs one RECORD and resyncs at the next frame (corruptRecords
  * metric; partially-written rows are rolled back by not advancing the
  * row index and clearing its null bits). SequenceFile containers —
  * detected by magic — go through the same payload walk.
  *
  * At 100 TB, scan CPU is the dominant cost and this is the hot loop:
  * the event-object decode pays ~6 allocations per attribute (key
  * byte[], key String, boxed value, LwesAttr, ArrayBuffer growth,
  * Option) before shaping even starts; this path pays zero for skipped
  * attributes and at most one (the vector's own append) for projected
  * ones.
  */
class LwesColumnarBatchReader(files: Seq[LwesInputPartition],
    config: LwesReadConfig, conf: Configuration)
    extends PartitionReader[ColumnarBatch] with org.apache.spark.internal.Logging {

  private val schema = config.schema
  private val nCols = schema.length
  private val capacity = 4096
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(capacity, schema)
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))

  // ------------------------------------------------------- column roles
  private val nameColIdx: Int =
    config.eventNameCol.map(schema.fieldIndex).getOrElse(-1)
  private val partCols: Array[Int] = schema.fieldNames.zipWithIndex
    .filter { case (n, i) => i != nameColIdx && config.partitionCols.contains(n) }
    .map(_._2)
  private def isAttrCol(i: Int): Boolean =
    i != nameColIdx && !partCols.contains(i)

  // required-event groups: distinct non-empty `Event::Name` mappings;
  // per record each group's name is byte-compared against the event name
  // once, however many columns share it
  private val groupNames: Array[Array[Byte]] = schema.fieldNames
    .flatMap(config.eventFor.get).filter(_.nonEmpty).distinct
    .map(_.getBytes(UTF_8))
  private val colGroup: Array[Int] = schema.fieldNames.zipWithIndex.map {
    case (n, i) =>
      if (!isAttrCol(i)) -1
      else config.eventFor.get(n).filter(_.nonEmpty)
        .map(g => groupNames.indexWhere(java.util.Arrays.equals(_, g.getBytes(UTF_8))))
        .getOrElse(-1)
  }
  private val groupMatch = new Array[Boolean](groupNames.length)
  @inline private def groupOk(c: Int): Boolean = {
    val g = colGroup(c); g < 0 || groupMatch(g)
  }

  // header-derived columns: (column, header field), written after the
  // payload scan so they REPLACE payload copies (LwesEvent `set` parity)
  private val HReceipt = 0; private val HIp = 1
  private val HPort = 2; private val HSite = 3
  private val headerWrites: Array[(Int, Int)] =
    schema.fieldNames.zipWithIndex.filter { case (_, i) => isAttrCol(i) }
      .flatMap { case (n, i) =>
        config.attrOf(n) match {
          case LwesEvent.ReceiptTime => Some((i, HReceipt))
          case LwesEvent.SenderIp => Some((i, HIp))
          case LwesEvent.SenderPort => Some((i, HPort))
          case LwesEvent.SiteId => Some((i, HSite))
          case _ => None
        }
      }
  // header-injected columns must not early-evaluate predicates on their
  // payload copies — the header REPLACES those after the walk
  private val headerMapped: Array[Boolean] = {
    val m = new Array[Boolean](nCols)
    headerWrites.foreach { case (c, _) => m(c) = true }
    m
  }

  // eventName accept-set as raw UTF-8 (empty = accept all)
  private val acceptNames: Array[Array[Byte]] =
    config.eventNames.toArray.sorted.map(_.getBytes(UTF_8))
  // String originals for the non-ASCII fallback below
  private val acceptNameStrs: Array[String] = config.eventNames.toArray.sorted
  private val groupNameStrs: Array[String] = schema.fieldNames
    .flatMap(config.eventFor.get).filter(_.nonEmpty).distinct

  /** Event-name matching as the event-object decode does it: that
    * decode compares UTF-8-DECODED strings (JournalReader nameFilter,
    * per-column required event), so a wire name with invalid UTF-8
    * bytes can decode (via replacement chars) equal to an accepted name
    * even though the raw bytes differ. Fast path stays the byte compare; only when it
    * misses AND the wire bytes are not pure ASCII (corrupt input — the
    * same deferral rule StrEqEarly uses for pushed string predicates)
    * do we fall back to the decoded-String compare. */
  @inline private def nameMatches(b: Array[Byte], off: Int, len: Int,
      lit: Array[Byte], litStr: String): Boolean = {
    if (regionEquals(b, off, len, lit)) return true
    var i = 0
    while (i < len) { if (b(off + i) < 0) return new String(b, off, len, UTF_8) == litStr; i += 1 }
    false
  }

  // ------------------------------------------------------ typed writers
  /** One per column: wire (token, bytes, lv) → typed vector cell or
    * null, replicating [[LwesOptions.toCatalyst]] exactly. `lv` carries
    * the sign-corrected integral value for numeric/bool tokens. */
  private abstract class ColWriter {
    def write(r: Int, token: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit
  }

  /** Charset-parity write: ASCII goes straight from the wire (the
    * charsets agree there); anything else takes toCatalyst's String
    * round-trip in `cs` so malformed sequences produce identical
    * replacement bytes (UTF-8) / Latin-1 transcodes to UTF-8. */
  private def putDecoded(vec: OnHeapColumnVector, r: Int,
      b: Array[Byte], off: Int, len: Int,
      cs: java.nio.charset.Charset): Unit = {
    var i = off
    val end = off + len
    while (i < end && b(i) >= 0) i += 1
    if (i == end) vec.putByteArray(r, b, off, len)
    else {
      val rb = new String(b, off, len, cs).getBytes(UTF_8)
      vec.putByteArray(r, rb, 0, rb.length)
    }
  }

  private def putUtf8(vec: OnHeapColumnVector, r: Int,
      b: Array[Byte], off: Int, len: Int): Unit =
    putDecoded(vec, r, b, off, len, UTF_8)

  /** Current record's `enc` charset flag (set by the walk, reset per
    * record): true = string VALUES on the wire are ISO-8859-1 and must
    * transcode to UTF-8 on materialization. ASCII is identical in both
    * charsets, so the fast path is untouched — and the early string
    * predicates stay sound, because they only reject on all-ASCII wire
    * values (non-ASCII defers to the post/residual check, which sees
    * the transcoded value). */
  private var curLatin1 = false

  /** String-value write honoring the record charset. */
  private def putStr(vec: OnHeapColumnVector, r: Int,
      b: Array[Byte], off: Int, len: Int): Unit =
    putDecoded(vec, r, b, off, len,
      if (curLatin1) java.nio.charset.StandardCharsets.ISO_8859_1 else UTF_8)

  @inline private def strOff(off: Int): Int = off + 2 // skip uint16 length
  @inline private def strLen(len: Int): Int = len - 2

  private def parseLong(b: Array[Byte], off: Int, len: Int): Option[Long] =
    new String(b, strOff(off), strLen(len), UTF_8).toLongOption

  /** Modern lwes tokens (float/double scalars, array tokens) carry
    * values the long-decoding fast paths can't represent; route them
    * through the event-object decode + conversion
    * ([[graft.lwes.LwesCodec.readValue]] → [[LwesOptions.toCatalyst]])
    * so parity holds by construction. These tokens never appear in
    * classic journals, so the fast paths stay allocation-free. */
  @inline private def needsSlow(t: Byte): Boolean =
    t == LwesType.Float || t == LwesType.Double || LwesType.isArray(t) ||
      LwesType.isNullableArray(t)

  private def putModern(vec: OnHeapColumnVector, r: Int, t: Byte,
      b: Array[Byte], off: Int, len: Int,
      dt: org.apache.spark.sql.types.DataType): Unit = {
    val v =
      try graft.lwes.LwesCodec.readValue(java.nio.ByteBuffer.wrap(b, off, len), t, "",
        if (curLatin1) java.nio.charset.StandardCharsets.ISO_8859_1 else UTF_8)
      catch { case scala.util.control.NonFatal(_) => null }
    val cat =
      if (v == null) null
      else LwesOptions.toCatalyst(graft.lwes.LwesAttr("", t, v), dt)
    cat match {
      case null => vec.putNull(r)
      case x: java.lang.Boolean => vec.putBoolean(r, x)
      case x: java.lang.Short => vec.putShort(r, x)
      case x: java.lang.Integer => vec.putInt(r, x)
      case x: java.lang.Long => vec.putLong(r, x)
      case x: java.lang.Float => vec.putFloat(r, x)
      case x: java.lang.Double => vec.putDouble(r, x)
      case x: UTF8String =>
        val rb = x.getBytes; vec.putByteArray(r, rb, 0, rb.length)
      case x: Array[Byte] => vec.putByteArray(r, x, 0, x.length)
      case x: Decimal =>
        vec.putDecimal(r, x, dt.asInstanceOf[DecimalType].precision)
      case x: org.apache.spark.sql.catalyst.util.ArrayData =>
        // vectorized ARRAY fill (r15): elements append to the child
        // vector, the row records (start, count) — offsets are explicit
        // per row, so a later rolled-back record leaves only dead
        // child space, never a corrupt offset
        val at = dt.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        val child = vec.arrayData()
        val start = child.getElementsAppended
        vec.putArray(r, start, appendElems(child, x, at.elementType))
      case _ => vec.putNull(r)
    }
  }

  // ------------------------------------------------- r19 fast array fill

  /** Direct wire→child-vector array fill: decodes classic and nullable
    * array tokens straight into the array column's child vector — no
    * ByteBuffer, no boxed element array, no GenericArrayData, ONE
    * capacity reservation per array instead of one amortized check per
    * element. Covers the conversions a journal schema actually uses:
    * every integral/bool wire element to Short/Int/Long/Float/Double
    * columns (the same truncating-long / widening-double rules
    * [[LwesOptions.toCatalyst]] applies, bit-for-bit), float/double
    * wire elements likewise, bool→Boolean, and string elements with
    * the record-charset handling of the scalar path (ASCII verbatim,
    * otherwise decode+re-encode). Returns false when the (token,
    * element type) pair is outside that set or the bytes are
    * malformed — the caller falls back to the shared slow path
    * (LwesCodec.readValue → toCatalyst), so parity and corruption
    * semantics are unchanged by construction; a partial fast fill
    * leaves only dead child space (offsets are written per row, and
    * `addElementsAppended` only runs on success). */
  private def putArrayFast(vec: OnHeapColumnVector, r: Int, t: Byte,
      b: Array[Byte], off: Int, len: Int,
      et: org.apache.spark.sql.types.DataType): Boolean = {
    val nullable = LwesType.isNullableArray(t)
    if (!nullable && !LwesType.isArray(t)) return false
    val elem = if (nullable) LwesType.elementOfNullable(t) else LwesType.elementOf(t)
    val end = off + len
    var p = off
    if (p + 2 > end) return false
    @inline def be16u(q: Int): Int = ((b(q) & 0xff) << 8) | (b(q + 1) & 0xff)
    @inline def be32(q: Int): Int =
      ((b(q) & 0xff) << 24) | ((b(q + 1) & 0xff) << 16) |
        ((b(q + 2) & 0xff) << 8) | (b(q + 3) & 0xff)
    @inline def be64(q: Int): Long =
      ((be32(q).toLong) << 32) | (be32(q + 4).toLong & 0xffffffffL)
    val n = be16u(p); p += 2
    var bits: Array[Byte] = null
    var bitsOff = 0
    if (nullable) {
      if (p + 2 > end) return false
      if (be16u(p) != n) return false // bitset mismatch: slow path names it
      p += 2
      val nbytes = (n + 7) / 8
      if (p + nbytes > end) return false
      bits = b; bitsOff = p; p += nbytes
    }
    @inline def present(j: Int): Boolean =
      bits == null || (bits(bitsOff + (j >> 3)) & (1 << (j & 7))) != 0
    // element decoders: integral/bool wire values as the long
    // interpretation toCatalyst's asLong uses; float/double as double
    val width = elem match {
      case LwesType.ByteT | LwesType.Bool => 1
      case LwesType.Int16 | LwesType.UInt16 => 2
      case LwesType.Int32 | LwesType.UInt32 | LwesType.Float => 4
      case LwesType.Int64 | LwesType.UInt64 | LwesType.Double => 8
      case LwesType.Str => -1
      case _ => return false // IpAddr etc: slow path
    }
    val longSourced = elem match {
      case LwesType.ByteT | LwesType.Bool | LwesType.Int16 | LwesType.UInt16 |
          LwesType.Int32 | LwesType.UInt32 | LwesType.Int64 | LwesType.UInt64 => true
      case _ => false
    }
    @inline def longAt(q: Int): Long = elem match {
      case LwesType.ByteT => b(q).toLong
      case LwesType.Bool => if (b(q) != 0) 1L else 0L
      case LwesType.Int16 => be16u(q).toShort.toLong
      case LwesType.UInt16 => be16u(q).toLong
      case LwesType.Int32 => be32(q).toLong
      case LwesType.UInt32 => be32(q).toLong & 0xffffffffL
      case _ => be64(q) // Int64 | UInt64 (raw bits — the LongType read)
    }
    @inline def dblAt(q: Int): Double = elem match {
      case LwesType.Float => java.lang.Float.intBitsToFloat(be32(q)).toDouble
      case _ => java.lang.Double.longBitsToDouble(be64(q))
    }
    val child = vec.arrayData()
    val start = child.getElementsAppended
    import org.apache.spark.sql.types._
    et match {
      case ShortType | IntegerType | LongType | FloatType | DoubleType =>
        if (width < 0) return false // string wire → numeric col: slow path
        // bool wire elements read NULL in float/double columns
        // (toCatalyst's asDouble has no Boolean case, matching the
        // scalar writers) — route to the slow path so the fast fill
        // cannot emit 0.0/1.0 where toCatalyst yields null
        if (elem == LwesType.Bool && (et == FloatType || et == DoubleType))
          return false
        // count present elements to bound-check the packed payload once
        var np = n
        if (nullable) {
          np = 0; var j = 0
          while (j < n) { if (present(j)) np += 1; j += 1 }
        }
        if (p + np.toLong * width > end) return false
        child.reserve(start + n)
        var j = 0
        while (j < n) {
          if (!present(j)) child.putNull(start + j)
          else {
            if (longSourced) {
              val lv = longAt(p)
              et match {
                case ShortType => child.putShort(start + j, lv.toShort)
                case IntegerType => child.putInt(start + j, lv.toInt)
                case LongType => child.putLong(start + j, lv)
                case FloatType => child.putFloat(start + j, lv.toDouble.toFloat)
                case _ => child.putDouble(start + j, lv.toDouble)
              }
            } else {
              val dv = dblAt(p)
              et match {
                // float/double wire → integral col mirrors asLong's
                // .toLong truncation (exact: float widens to double
                // losslessly before the truncating cast)
                case ShortType => child.putShort(start + j, dv.toLong.toShort)
                case IntegerType => child.putInt(start + j, dv.toLong.toInt)
                case LongType => child.putLong(start + j, dv.toLong)
                case FloatType => child.putFloat(start + j, dv.toFloat)
                case _ => child.putDouble(start + j, dv)
              }
            }
            p += width
          }
          j += 1
        }
        child.addElementsAppended(n)
        vec.putArray(r, start, n)
        true
      case BooleanType =>
        if (elem != LwesType.Bool) return false // numeric→bool is null-y: slow path
        var np = n
        if (nullable) {
          np = 0; var j = 0
          while (j < n) { if (present(j)) np += 1; j += 1 }
        }
        if (p + np > end) return false
        child.reserve(start + n)
        var j = 0
        while (j < n) {
          if (!present(j)) child.putNull(start + j)
          else { child.putBoolean(start + j, b(p) != 0); p += 1 }
          j += 1
        }
        child.addElementsAppended(n)
        vec.putArray(r, start, n)
        true
      case StringType =>
        if (elem != LwesType.Str) return false
        child.reserve(start + n)
        val cs = if (curLatin1)
          java.nio.charset.StandardCharsets.ISO_8859_1 else UTF_8
        var j = 0
        while (j < n) {
          if (!present(j)) child.putNull(start + j)
          else {
            if (p + 2 > end) return false
            val slen = be16u(p); p += 2
            if (p + slen > end) return false
            // scalar putDecoded rule: all-ASCII bytes are identical in
            // every supported charset — land verbatim; otherwise decode
            // with the record charset and re-encode as UTF-8
            var q = p
            val se = p + slen
            while (q < se && b(q) >= 0) q += 1
            if (q == se) child.putByteArray(start + j, b, p, slen)
            else {
              val rb = new String(b, p, slen, cs).getBytes(UTF_8)
              child.putByteArray(start + j, rb, 0, rb.length)
            }
            p = se
          }
          j += 1
        }
        child.addElementsAppended(n)
        vec.putArray(r, start, n)
        true
      case _ => false // decimal elements etc: slow path
    }
  }

  /** Append one wire array's elements to an array column's child
    * vector, returning the element count; the scan builder rejects
    * element types outside [[LwesColumnarBatchReader.isArrayElementType]].
    * Classic wire arrays carry no null elements; nullable arrays
    * (N_*_ARRAY) and unconvertible elements land as child nulls — the
    * per-element isNullAt check is a predictable branch that costs
    * all-present arrays nothing measurable. */
  private def appendElems(
      child: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      x: org.apache.spark.sql.catalyst.util.ArrayData,
      et: org.apache.spark.sql.types.DataType): Int = {
    val n = x.numElements()
    var j = 0
    @inline def nn(put: => Unit): Unit =
      if (x.isNullAt(j)) child.appendNull() else put
    et match {
      case ShortType => while (j < n) { nn(child.appendShort(x.getShort(j))); j += 1 }
      case IntegerType => while (j < n) { nn(child.appendInt(x.getInt(j))); j += 1 }
      case LongType => while (j < n) { nn(child.appendLong(x.getLong(j))); j += 1 }
      case FloatType => while (j < n) { nn(child.appendFloat(x.getFloat(j))); j += 1 }
      case DoubleType => while (j < n) { nn(child.appendDouble(x.getDouble(j))); j += 1 }
      case BooleanType => while (j < n) { nn(child.appendBoolean(x.getBoolean(j))); j += 1 }
      case StringType => while (j < n) {
        nn {
          val b = x.getUTF8String(j).getBytes
          child.appendByteArray(b, 0, b.length)
        }
        j += 1
      }
      case BinaryType => while (j < n) {
        nn { val b = x.getBinary(j); child.appendByteArray(b, 0, b.length) }
        j += 1
      }
      // decimal elements (uint64As=decimal + uint64[] attrs): append
      // with the same width split WritableColumnVector.putDecimal uses,
      // so reads land on the int/long/byte[] representation getDecimal
      // expects
      case dt: DecimalType => while (j < n) {
        x.get(j, dt) match {
          case d: Decimal =>
            if (dt.precision <= Decimal.MAX_INT_DIGITS)
              child.appendInt(d.toUnscaledLong.toInt)
            else if (dt.precision <= Decimal.MAX_LONG_DIGITS)
              child.appendLong(d.toUnscaledLong)
            else {
              val ub = d.toJavaBigDecimal.unscaledValue.toByteArray
              child.appendByteArray(ub, 0, ub.length)
            }
          case _ => child.appendNull() // unconvertible element: NULL
        }
        j += 1
      }
      case other => throw new IllegalStateException(
        s"array element type $other reached the reader") // builder rejects it
    }
    n
  }

  private val writers: Array[ColWriter] = schema.fields.zipWithIndex.map {
    case (f, i) =>
      val vec = vectors(i)
      f.dataType match {
        case BooleanType => new ColWriter {
          def write(r: Int, t: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit =
            if (t == LwesType.Bool) vec.putBoolean(r, lv != 0) else vec.putNull(r)
        }
        case ShortType => new ColWriter {
          def write(r: Int, t: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit =
            t match {
              case tk if needsSlow(tk) =>
                putModern(vec, r, tk, b, off, len, f.dataType)
              case LwesType.Str => parseLong(b, off, len) match {
                case Some(x) => vec.putShort(r, x.toShort)
                case None => vec.putNull(r)
              }
              case LwesType.IpAddr => vec.putNull(r)
              case _ => vec.putShort(r, lv.toShort)
            }
        }
        case IntegerType => new ColWriter {
          def write(r: Int, t: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit =
            t match {
              case tk if needsSlow(tk) =>
                putModern(vec, r, tk, b, off, len, f.dataType)
              case LwesType.Str => parseLong(b, off, len) match {
                case Some(x) => vec.putInt(r, x.toInt)
                case None => vec.putNull(r)
              }
              case LwesType.IpAddr => vec.putNull(r)
              case _ => vec.putInt(r, lv.toInt)
            }
        }
        case LongType => new ColWriter {
          def write(r: Int, t: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit =
            t match {
              case tk if needsSlow(tk) =>
                putModern(vec, r, tk, b, off, len, f.dataType)
              case LwesType.Str => parseLong(b, off, len) match {
                case Some(x) => vec.putLong(r, x)
                case None => vec.putNull(r)
              }
              case LwesType.IpAddr => vec.putNull(r)
              case _ => vec.putLong(r, lv)
            }
        }
        case FloatType => new ColWriter {
          def write(r: Int, t: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit =
            t match {
              case tk if needsSlow(tk) =>
                putModern(vec, r, tk, b, off, len, f.dataType)
              case LwesType.Str =>
                try vec.putFloat(r,
                  java.lang.Float.parseFloat(new String(b, strOff(off), strLen(len), UTF_8)))
                catch { case _: NumberFormatException => vec.putNull(r) }
              case LwesType.IpAddr | LwesType.Bool => vec.putNull(r)
              // toCatalyst: asDouble then .toFloat — keep the double hop
              case _ => vec.putFloat(r, lv.toDouble.toFloat)
            }
        }
        case DoubleType => new ColWriter {
          def write(r: Int, t: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit =
            t match {
              case tk if needsSlow(tk) =>
                putModern(vec, r, tk, b, off, len, f.dataType)
              case LwesType.Str =>
                try vec.putDouble(r,
                  java.lang.Double.parseDouble(new String(b, strOff(off), strLen(len), UTF_8)))
                catch { case _: NumberFormatException => vec.putNull(r) }
              case LwesType.IpAddr | LwesType.Bool => vec.putNull(r)
              case _ => vec.putDouble(r, lv.toDouble)
            }
        }
        case StringType => new ColWriter {
          def write(r: Int, t: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit =
            t match {
              case tk if needsSlow(tk) =>
                putModern(vec, r, tk, b, off, len, f.dataType)
              case LwesType.Str => putStr(vec, r, b, strOff(off), strLen(len))
              case LwesType.IpAddr =>
                // wire holds d.c.b.a; render a.b.c.d (pure ASCII)
                val s = new java.lang.StringBuilder(15)
                s.append(b(off + 3) & 0xff).append('.').append(b(off + 2) & 0xff)
                  .append('.').append(b(off + 1) & 0xff).append('.').append(b(off) & 0xff)
                val rb = s.toString.getBytes(UTF_8)
                vec.putByteArray(r, rb, 0, rb.length)
              case LwesType.Bool =>
                val rb = (if (lv != 0) "true" else "false").getBytes(UTF_8)
                vec.putByteArray(r, rb, 0, rb.length)
              case _ =>
                val rb = java.lang.Long.toString(lv).getBytes(UTF_8)
                vec.putByteArray(r, rb, 0, rb.length)
            }
        }
        case BinaryType => new ColWriter {
          def write(r: Int, t: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit =
            t match {
              case tk if needsSlow(tk) =>
                putModern(vec, r, tk, b, off, len, f.dataType)
              case LwesType.Str => putStr(vec, r, b, strOff(off), strLen(len))
              case LwesType.IpAddr =>
                val rb = Array(b(off + 3), b(off + 2), b(off + 1), b(off))
                vec.putByteArray(r, rb, 0, rb.length)
              case _ => vec.putNull(r)
            }
        }
        case dt: DecimalType => new ColWriter {
          def write(r: Int, t: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit = {
            if (needsSlow(t)) { putModern(vec, r, t, b, off, len, f.dataType); return }
            val bd: java.math.BigDecimal = t match {
              case LwesType.UInt64 =>
                new java.math.BigDecimal(java.lang.Long.toUnsignedString(lv))
              case LwesType.Str =>
                parseLong(b, off, len).map(java.math.BigDecimal.valueOf).orNull
              case LwesType.IpAddr => null
              case _ => java.math.BigDecimal.valueOf(lv)
            }
            if (bd == null) vec.putNull(r)
            else {
              val d = Decimal(scala.math.BigDecimal(bd))
              if (d.changePrecision(dt.precision, dt.scale))
                vec.putDecimal(r, d, dt.precision)
              else vec.putNull(r)
            }
          }
        }
        case at: org.apache.spark.sql.types.ArrayType => new ColWriter {
          // r19: common (token, element type) pairs decode straight
          // into the child vector; everything else (and mismatched
          // scalars → null) routes through the event-object decode +
          // conversion, then the vectorized ArrayData fill above —
          // parity by construction
          def write(r: Int, t: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit =
            if (!putArrayFast(vec, r, t, b, off, len, at.elementType))
              putModern(vec, r, t, b, off, len, f.dataType)
        }
        case _ => new ColWriter {
          def write(r: Int, t: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Unit =
            vec.putNull(r)
        }
      }
  }

  // ---------------------------------- pushed attribute predicates
  // Two tiers, both sound because Spark re-applies every filter:
  //  - EARLY checks fire the moment the predicate column's attribute is
  //    decoded mid-walk, on the wire value (numeric tokens against the
  //    truncated stored value; ASCII string equality byte-for-byte) —
  //    a failing record skips its remaining attributes and is never
  //    materialized;
  //  - POST checks read the finished row back from the vectors (exactly
  //    what Spark would see), covering header-injected columns,
  //    string-token numerics, non-ASCII text, and null semantics
  //    (missing attribute / foreign event type ⇒ comparison is false).
  // A check that cannot decide defers (-1) rather than guessing.
  private abstract class EarlyCheck {
    /** 1 = satisfied, 0 = definitely fails, -1 = cannot tell here. */
    def eval(token: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Int
  }
  private val OpEq = 0; private val OpGt = 1; private val OpGe = 2
  private val OpLt = 3; private val OpLe = 4

  private final class NumEarly(op: Int, lit: Long, trunc: Long => Long)
      extends EarlyCheck {
    def eval(token: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Int =
      token match {
        case LwesType.Str | LwesType.IpAddr => -1 // conversion-dependent
        // float/double/array tokens never reach decodeLong — deferring
        // (Spark re-applies all residual filters) is the only sound call
        case t if t == LwesType.Float || t == LwesType.Double ||
            graft.lwes.LwesType.isArray(t) ||
            graft.lwes.LwesType.isNullableArray(t) => -1
        case _ =>
          val x = trunc(lv)
          val r = op match {
            case OpEq => x == lit
            case OpGt => x > lit
            case OpGe => x >= lit
            case OpLt => x < lit
            case _ => x <= lit
          }
          if (r) 1 else 0
      }
  }

  private final class StrEqEarly(lit: Array[Byte]) extends EarlyCheck {
    def eval(token: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Int = {
      if (token != LwesType.Str) return -1
      val so = off + 2
      val sl = len - 2
      // equal bytes always decode equal; unequal bytes are conclusive
      // only when the wire is ASCII (malformed UTF-8 round-trips to
      // replacement chars that might still match)
      if (regionEquals(b, so, sl, lit)) return 1
      if (allAscii(b, so, sl)) 0 else -1
    }
  }

  @inline private def allAscii(b: Array[Byte], off: Int, len: Int): Boolean = {
    var i = off
    val end = off + len
    while (i < end) { if (b(i) < 0) return false; i += 1 }
    true
  }

  /** `col LIKE 'x%'` (r16 pushdown breadth): matching prefix BYTES are
    * conclusive (the literal's bytes are complete UTF-8 sequences, so
    * byte-equality survives decoding); a miss is conclusive only on an
    * all-ASCII wire value (malformed UTF-8 decodes to replacement
    * chars that could still match). */
  private final class StrStartsWithEarly(lit: Array[Byte]) extends EarlyCheck {
    def eval(token: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Int = {
      if (token != LwesType.Str) return -1
      val so = off + 2
      val sl = len - 2
      if (sl >= lit.length) {
        var i = 0
        while (i < lit.length && b(so + i) == lit(i)) i += 1
        if (i == lit.length) return 1
      }
      if (allAscii(b, so, sl)) 0 else -1
    }
  }

  /** String range compare (r16): an all-ASCII wire value decodes to
    * exactly its bytes, so the unsigned byte-lexicographic compare IS
    * UTF8String.compareTo; anything else defers to the residual. */
  private final class StrCmpEarly(op: Int, lit: Array[Byte]) extends EarlyCheck {
    def eval(token: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Int = {
      if (token != LwesType.Str) return -1
      val so = off + 2
      val sl = len - 2
      if (!allAscii(b, so, sl)) return -1
      var i = 0
      val n = math.min(sl, lit.length)
      var cmp = 0
      while (i < n && cmp == 0) {
        cmp = (b(so + i) & 0xff) - (lit(i) & 0xff); i += 1
      }
      if (cmp == 0) cmp = sl - lit.length
      val r = op match {
        case OpGt => cmp > 0
        case OpGe => cmp >= 0
        case OpLt => cmp < 0
        case _ => cmp <= 0
      }
      if (r) 1 else 0
    }
  }

  /** `col LIKE '%x'` (r18): a byte-level suffix match passes through
    * to the post-check (early results other than 0 never skip it, so
    * a transcoding corner can only defer, never mis-keep); a miss is
    * conclusive only on an all-ASCII wire value, where decoding is
    * the identity under every supported charset. */
  private final class StrEndsWithEarly(lit: Array[Byte]) extends EarlyCheck {
    def eval(token: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Int = {
      if (token != LwesType.Str) return -1
      val so = off + 2
      val sl = len - 2
      if (sl >= lit.length) {
        var i = 0
        val base = so + sl - lit.length
        while (i < lit.length && b(base + i) == lit(i)) i += 1
        if (i == lit.length) return 1
      }
      if (allAscii(b, so, sl)) 0 else -1
    }
  }

  /** `col LIKE '%x%'` (r18): naive byte search — pushed literals are
    * short and the scan is the hot loop, so no preprocessing tables;
    * same conclusive-reject rule as the other string probes. */
  private final class StrContainsEarly(lit: Array[Byte]) extends EarlyCheck {
    def eval(token: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Int = {
      if (token != LwesType.Str) return -1
      val so = off + 2
      val sl = len - 2
      if (lit.length == 0) return 1
      var s = 0
      val last = sl - lit.length
      while (s <= last) {
        var i = 0
        while (i < lit.length && b(so + s + i) == lit(i)) i += 1
        if (i == lit.length) return 1
        s += 1
      }
      if (allAscii(b, so, sl)) 0 else -1
    }
  }

  private final class StrInEarly(lits: Array[Array[Byte]]) extends EarlyCheck {
    def eval(token: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Int = {
      if (token != LwesType.Str) return -1
      val so = off + 2
      val sl = len - 2
      var i = 0
      while (i < lits.length) {
        if (regionEquals(b, so, sl, lits(i))) return 1
        i += 1
      }
      if (allAscii(b, so, sl)) 0 else -1
    }
  }

  /** Float/double comparisons (r20): FLOAT/DOUBLE wire tokens decode
    * in place (4/8 BE bytes) and compare under Spark's exact order
    * (compareDoubles: NaN greatest, ±0.0 equal). Integral tokens also
    * evaluate — their double widening is the read conversion — but
    * only when exact (|v| ≤ 2^53); string tokens (float-from-string
    * journals) and arrays defer to the residual. */
  private final class DblEarly(op: Int, lit: Double,
      toFloat: Boolean) extends EarlyCheck {
    @inline private def be32(b: Array[Byte], q: Int): Int =
      ((b(q) & 0xff) << 24) | ((b(q + 1) & 0xff) << 16) |
        ((b(q + 2) & 0xff) << 8) | (b(q + 3) & 0xff)
    def eval(token: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Int = {
      val x0 = token match {
        case LwesType.Float =>
          java.lang.Float.intBitsToFloat(be32(b, off)).toDouble
        case LwesType.Double =>
          java.lang.Double.longBitsToDouble(
            (be32(b, off).toLong << 32) |
              (be32(b, off + 4).toLong & 0xffffffffL))
        case LwesType.Str | LwesType.IpAddr => return -1
        case t if graft.lwes.LwesType.isArray(t) ||
            graft.lwes.LwesType.isNullableArray(t) => return -1
        case _ =>
          if (lv > (1L << 53) || lv < -(1L << 53)) return -1 // inexact widen
          lv.toDouble
      }
      // a FloatType column narrows the read value (asDouble(..).toFloat)
      // BEFORE Spark compares it — mirror that, or an integral/double
      // value just above a float rounding boundary mis-rejects
      val x = if (toFloat) x0.toFloat.toDouble else x0
      val cmp = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(x, lit)
      val r = op match {
        case OpEq => cmp == 0
        case OpGt => cmp > 0
        case OpGe => cmp >= 0
        case OpLt => cmp < 0
        case _ => cmp <= 0
      }
      if (r) 1 else 0
    }
  }

  private final class NumInEarly(set: Set[Long], trunc: Long => Long)
      extends EarlyCheck {
    def eval(token: Byte, b: Array[Byte], off: Int, len: Int, lv: Long): Int =
      token match {
        case LwesType.Str | LwesType.IpAddr => -1
        case t if t == LwesType.Float || t == LwesType.Double ||
            graft.lwes.LwesType.isArray(t) ||
            graft.lwes.LwesType.isNullableArray(t) => -1
        case _ => if (set.contains(trunc(lv))) 1 else 0
      }
  }

  private val (earlyChecks, postChecks): (Array[Array[EarlyCheck]],
      Array[Int => Boolean]) = {
    import org.apache.spark.sql.sources._
    val early = Array.fill[List[EarlyCheck]](nCols)(Nil)
    val post = List.newBuilder[Int => Boolean]
    def litLong(v: Any): Long = v.asInstanceOf[Number].longValue()
    def truncOf(c: Int): Long => Long = schema.fields(c).dataType match {
      case ShortType => l => l.toShort.toLong
      case IntegerType => l => l.toInt.toLong
      case _ => identity
    }
    // integral vector read-back at the column's own width — shared by
    // every numeric post-check so a new width is wired exactly once
    def numGet(c: Int): Int => Long = {
      val vec = vectors(c)
      schema.fields(c).dataType match {
        case ShortType => r => vec.getShort(r).toLong
        case IntegerType => r => vec.getInt(r).toLong
        case _ => r => vec.getLong(r)
      }
    }
    def numPost(c: Int, op: Int, lit: Long): Int => Boolean = {
      val vec = vectors(c)
      val get = numGet(c)
      r => !vec.isNullAt(r) && {
        val x = get(r)
        op match {
          case OpEq => x == lit
          case OpGt => x > lit
          case OpGe => x >= lit
          case OpLt => x < lit
          case _ => x <= lit
        }
      }
    }
    def num(a: String, op: Int, v: Any): Unit = {
      val c = schema.fieldIndex(a)
      val lit = litLong(v)
      early(c) ::= new NumEarly(op, lit, truncOf(c))
      post += numPost(c, op, lit)
    }
    def strCmp(a: String, op: Int, v: String): Unit = {
      val c = schema.fieldIndex(a)
      val lit = UTF8String.fromString(v)
      early(c) ::= new StrCmpEarly(op, lit.getBytes)
      val vec = vectors(c)
      post += (r => !vec.isNullAt(r) && {
        val cmp = vec.getUTF8String(r).compareTo(lit)
        op match {
          case OpGt => cmp > 0
          case OpGe => cmp >= 0
          case OpLt => cmp < 0
          case _ => cmp <= 0
        }
      })
    }
    // r20 float/double predicates: the generic num() path would
    // truncate the literal AND getLong a float vector — these get
    // their own early decode + typed post read, both under Spark's
    // exact floating order
    def isDblLit(v: Any): Boolean = v match {
      case _: java.lang.Float | _: java.lang.Double => true
      case _ => false
    }
    def dblGet(c: Int): Int => Double = {
      val vec = vectors(c)
      schema.fields(c).dataType match {
        case FloatType => r => vec.getFloat(r).toDouble
        case _ => r => vec.getDouble(r)
      }
    }
    def dblCmp(a: String, op: Int, v: Any): Unit = {
      val c = schema.fieldIndex(a)
      val lit = v.asInstanceOf[Number].doubleValue()
      early(c) ::= new DblEarly(op, lit,
        toFloat = schema.fields(c).dataType == FloatType)
      val vec = vectors(c)
      val get = dblGet(c)
      post += (r => !vec.isNullAt(r) && {
        val cmp = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
          .compareDoubles(get(r), lit)
        op match {
          case OpEq => cmp == 0
          case OpGt => cmp > 0
          case OpGe => cmp >= 0
          case OpLt => cmp < 0
          case _ => cmp <= 0
        }
      })
    }
    config.attrFilters.foreach {
      case EqualTo(a, v: String) =>
        val c = schema.fieldIndex(a)
        val lit = UTF8String.fromString(v)
        val litB = lit.getBytes
        if (litB.forall(_ >= 0)) early(c) ::= new StrEqEarly(litB)
        val vec = vectors(c)
        post += (r => !vec.isNullAt(r) && vec.getUTF8String(r).equals(lit))
      case EqualTo(a, v) if isDblLit(v) => dblCmp(a, OpEq, v)
      case EqualTo(a, v) => num(a, OpEq, v)
      case GreaterThan(a, v: String) => strCmp(a, OpGt, v)
      case GreaterThanOrEqual(a, v: String) => strCmp(a, OpGe, v)
      case LessThan(a, v: String) => strCmp(a, OpLt, v)
      case LessThanOrEqual(a, v: String) => strCmp(a, OpLe, v)
      case GreaterThan(a, v) if isDblLit(v) => dblCmp(a, OpGt, v)
      case GreaterThanOrEqual(a, v) if isDblLit(v) => dblCmp(a, OpGe, v)
      case LessThan(a, v) if isDblLit(v) => dblCmp(a, OpLt, v)
      case LessThanOrEqual(a, v) if isDblLit(v) => dblCmp(a, OpLe, v)
      case GreaterThan(a, v) => num(a, OpGt, v)
      case GreaterThanOrEqual(a, v) => num(a, OpGe, v)
      case LessThan(a, v) => num(a, OpLt, v)
      case LessThanOrEqual(a, v) => num(a, OpLe, v)
      case StringStartsWith(a, v) =>
        val c = schema.fieldIndex(a)
        val lit = UTF8String.fromString(v)
        early(c) ::= new StrStartsWithEarly(lit.getBytes)
        val vec = vectors(c)
        post += (r => !vec.isNullAt(r) && vec.getUTF8String(r).startsWith(lit))
      case StringEndsWith(a, v) =>
        val c = schema.fieldIndex(a)
        val lit = UTF8String.fromString(v)
        early(c) ::= new StrEndsWithEarly(lit.getBytes)
        val vec = vectors(c)
        post += (r => !vec.isNullAt(r) && vec.getUTF8String(r).endsWith(lit))
      case StringContains(a, v) =>
        val c = schema.fieldIndex(a)
        val lit = UTF8String.fromString(v)
        early(c) ::= new StrContainsEarly(lit.getBytes)
        val vec = vectors(c)
        post += (r => !vec.isNullAt(r) && vec.getUTF8String(r).contains(lit))
      case In(a, vs) =>
        val c = schema.fieldIndex(a)
        schema.fields(c).dataType match {
          case org.apache.spark.sql.types.StringType =>
            val lits = vs.map(x => UTF8String.fromString(x.asInstanceOf[String]))
            early(c) ::= new StrInEarly(lits.map(_.getBytes))
            val set = lits.toSet
            val vec = vectors(c)
            post += (r => !vec.isNullAt(r) && set.contains(vec.getUTF8String(r)))
          case FloatType | DoubleType =>
            // membership = any-EqualTo under compareDoubles (±0.0 equal,
            // NaN matches NaN); early checks AND within a column, so IN
            // rides post-only (a disjunction can't early-reject per lit)
            val lits = vs.map(_.asInstanceOf[Number].doubleValue())
            val vec = vectors(c)
            val get = dblGet(c)
            post += (r => !vec.isNullAt(r) && {
              val x = get(r)
              lits.exists(l => org.apache.spark.sql.catalyst.util
                .SQLOrderingUtil.compareDoubles(x, l) == 0)
            })
          case _ =>
            val set = vs.map(litLong).toSet
            early(c) ::= new NumInEarly(set, truncOf(c))
            val vec = vectors(c)
            val get = numGet(c)
            post += (r => !vec.isNullAt(r) && set.contains(get(r)))
        }
      case IsNotNull(a) =>
        val vec = vectors(schema.fieldIndex(a))
        post += (r => !vec.isNullAt(r))
      case _ => // builder only pushes the shapes above
    }
    (early.map(l => if (l.isEmpty) null else l.toArray), post.result().toArray)
  }

  // --------------------------------------- attr dispatch (byte-keyed)
  // open-addressed, power-of-two table: wire key bytes → target columns.
  // Built once; lookups allocate nothing.
  private val (tabKeys, tabCols, tabMask) = {
    val byAttr = scala.collection.mutable.LinkedHashMap[String, List[Int]]()
    schema.fieldNames.zipWithIndex.foreach { case (n, i) =>
      if (isAttrCol(i)) {
        val a = config.attrOf(n)
        byAttr(a) = byAttr.getOrElse(a, Nil) :+ i
      }
    }
    var size = 8
    while (size < byAttr.size * 4) size <<= 1
    val keys = new Array[Array[Byte]](size)
    val cols = new Array[Array[Int]](size)
    byAttr.foreach { case (a, cs) =>
      val kb = a.getBytes(UTF_8)
      var idx = hashBytes(kb, 0, kb.length) & (size - 1)
      while (keys(idx) != null) idx = (idx + 1) & (size - 1)
      keys(idx) = kb
      cols(idx) = cs.toArray
    }
    (keys, cols, size - 1)
  }

  @inline private def hashBytes(b: Array[Byte], off: Int, len: Int): Int = {
    var h = 1
    var i = off
    val end = off + len
    while (i < end) { h = h * 31 + b(i); i += 1 }
    h
  }

  private def regionEquals(b: Array[Byte], off: Int, len: Int,
      k: Array[Byte]): Boolean = {
    if (k.length != len) return false
    var i = 0
    while (i < len) { if (b(off + i) != k(i)) return false; i += 1 }
    true
  }

  /** Columns wanting the attr at `b[off,len)`, or null. */
  private def lookup(b: Array[Byte], off: Int, len: Int): Array[Int] = {
    var idx = hashBytes(b, off, len) & tabMask
    var k = tabKeys(idx)
    while (k != null) {
      if (regionEquals(b, off, len, k)) return tabCols(idx)
      idx = (idx + 1) & tabMask
      k = tabKeys(idx)
    }
    null
  }

  // -------------------------------------------------- ESF defaults (A24)
  /** One declared default, pre-encoded as WIRE bytes: a record missing
    * the attribute routes the default through the SAME typed writer a
    * wire-present value of the declared type takes — toCatalyst parity
    * by construction, zero per-row conversion work. */
  private final class DefaultCell(val token: Byte, val bytes: Array[Byte],
      val lv: Long)
  private val (defaultEventNames: Array[Array[Byte]],
      defaultEventStrs: Array[String],
      defaultCells: Array[Array[DefaultCell]]) = {
    val events = config.esfDefaults.keys.toArray.sorted
    val cells = events.map { e =>
      val byAttr = config.esfDefaults(e)
      Array.tabulate(nCols) { c =>
        val name = schema.fieldNames(c)
        if (!isAttrCol(c)) null
        else if (config.eventFor.get(name).exists(g => g.nonEmpty && g != e))
          null // column mapped to a different event type
        else byAttr.get(config.attrOf(name)).map { d =>
          val enc = graft.lwes.LwesCodec.encodeValue(d)
          new DefaultCell(d.token, enc, decodeLong(d.token, enc, 0))
        }.orNull
      }
    }
    (events.map(_.getBytes(UTF_8)), events, cells)
  }

  // ------------------------------------------------------ record parse
  private val headerBuf = new Array[Byte](Journal.HeaderLength)
  private var payloadBuf = new Array[Byte](1 << 16)
  // per-column "written this row" stamps (monotone counter — no per-row
  // array clear)
  private val stamps = new Array[Long](nCols)
  private var stamp = 0L

  private var in: java.io.InputStream = _
  private var seqFill: SeqFill = _ // SequenceFile fallback for this file
  private val fileIt = files.iterator
  private var curPart: LwesInputPartition = _
  private var partBytes: Array[Array[Byte]] = _ // parallel to partCols

  private var emittedTotal = 0L
  private var parsed = 0L
  private var skipped = 0L
  private var torn = 0L
  private var corruptCnt = 0L
  private var filtered = 0L

  /** Advance to a readable file; false when the bin is exhausted. */
  private def ensureFile(): Boolean = {
    while (in == null && seqFill == null) {
      if (!fileIt.hasNext) return false
      curPart = fileIt.next()
      partBytes = partCols.map(c =>
        curPart.partitionValues.get(schema.fields(c).name)
          .map(_.getBytes(UTF_8)).orNull)
      try {
        val s = LwesDataSource.openStream(curPart.path, conf, curPart.range)
        if (LwesDataSource.sniffSeq(s)) seqFill = new SeqFill(s)
        else in = s
      } catch {
        case e if LwesDataSource.isCorruption(e) =>
          logWarning(s"corrupt journal head in ${curPart.path}: " +
            s"${e.getMessage}; skipping this file")
          torn += 1
      }
    }
    true
  }

  private def closeFile(): Unit = {
    if (in != null) { try in.close() catch { case _: java.io.IOException => () }; in = null }
    if (seqFill != null) {
      corruptCnt += seqFill.reader.corruptRecords
      seqFill.close(); seqFill = null
    }
  }

  private def readFully(b: Array[Byte], len: Int): Boolean = {
    var off = 0
    while (off < len) {
      val n = in.read(b, off, len - off)
      if (n < 0) {
        if (off == 0) return false
        throw new java.io.EOFException(s"truncated journal record ($off/$len bytes)")
      }
      off += n
    }
    true
  }

  @inline private def u16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def decodeLong(token: Byte, b: Array[Byte], off: Int): Long =
    token match {
      case LwesType.UInt16 => u16(b, off).toLong
      case LwesType.Int16 => u16(b, off).toShort.toLong
      case LwesType.Int32 =>
        (((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
          ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)).toLong
      case LwesType.UInt32 =>
        ((((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
          ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)).toLong) & 0xffffffffL
      case LwesType.Int64 | LwesType.UInt64 =>
        ((b(off) & 0xffL) << 56) | ((b(off + 1) & 0xffL) << 48) |
          ((b(off + 2) & 0xffL) << 40) | ((b(off + 3) & 0xffL) << 32) |
          ((b(off + 4) & 0xffL) << 24) | ((b(off + 5) & 0xffL) << 16) |
          ((b(off + 6) & 0xffL) << 8) | (b(off + 7) & 0xffL)
      case LwesType.Bool => if (b(off) != 0) 1L else 0L
      case LwesType.ByteT => b(off).toLong // signed, toCatalyst asLong parity
      case _ => 0L // float/double/arrays: writers take the slow path
    }

  /** Clear row `r`'s null bits after a partially-written (corrupt)
    * record so the next record's writes start from a clean slate. */
  private def cleanupRow(r: Int): Unit = {
    var c = 0
    while (c < nCols) { vectors(c).putNotNull(r); c += 1 }
  }

  /** Parse one record into row `r`: 1 = written, 0 = filtered/corrupt
    * (row not advanced), -1 = end of this file. */
  private def parseRecord(r: Int): Int = {
    var len = 0
    var time = 0L
    var port = 0
    var site = 0
    try {
      if (!readFully(headerBuf, Journal.HeaderLength)) return -1
      len = u16(headerBuf, 0)
      time = decodeLong(LwesType.Int64, headerBuf, 2)
      port = u16(headerBuf, 14)
      site = u16(headerBuf, 16)
      if (payloadBuf.length < len) payloadBuf = new Array[Byte](len)
      if (!readFully(payloadBuf, len)) return -1
    } catch {
      case e if LwesDataSource.isCorruption(e) =>
        logWarning(s"corrupt journal tail in ${curPart.path}: " +
          s"${e.getMessage}; stopping this file")
        torn += 1
        return -1
    }
    parsePayload(payloadBuf, 0, len, r, hasHeader = true, time, port, site) match {
      // record-level resync: an undecodable payload costs one record
      // (JournalReader parity); the frame header re-syncs the stream
      case -2 => corruptCnt += 1; 0
      case other => other
    }
  }

  /** Walk one event payload at `b[b0, b0+len)` into row `r` — shared by
    * the journal hot loop and the SequenceFile byte path (A17
    * completion). `hasHeader` gates the journal-header column
    * replacement: SEQ containers carry no 22-byte frame header, so
    * their ReceiptTime/SenderIP/port/site attrs (if any) stay
    * payload-written, as in the event-object decode. Returns
    * 1 = row written, 0 = filtered, -2 = corrupt payload (row rolled
    * back, NOT counted: the caller owns its container's corruption
    * semantics — journals resync per record, SEQ stops the file like
    * SequenceJournalReader). */
  private def parsePayload(b: Array[Byte], b0: Int, len: Int, r: Int,
      hasHeader: Boolean, time: Long, port: Int, site: Int,
      forceLatin1: Boolean = false): Int = {
    curLatin1 = forceLatin1
    try {
      if (len < 3) throw new IllegalArgumentException(s"event of $len bytes")
      val end = b0 + len
      val nameLen = b(b0) & 0xff
      if (b0 + 1 + nameLen + 2 > end)
        throw new IllegalArgumentException("event name overruns record")
      // name filter straight off the wire bytes
      if (acceptNames.nonEmpty) {
        var ok = false
        var i = 0
        while (i < acceptNames.length && !ok) {
          ok = nameMatches(b, b0 + 1, nameLen, acceptNames(i), acceptNameStrs(i)); i += 1
        }
        if (!ok) { skipped += 1; return 0 }
      }
      var g = 0
      while (g < groupNames.length) {
        groupMatch(g) = nameMatches(b, b0 + 1, nameLen, groupNames(g), groupNameStrs(g)); g += 1
      }
      stamp += 1
      // ---- attribute walk
      var off = b0 + 1 + nameLen
      val count = u16(b, off)
      off += 2
      var i = 0
      while (i < count && off < end) {
        val keyLen = b(off) & 0xff
        val keyOff = off + 1
        if (keyOff + keyLen + 1 > end)
          throw new IllegalArgumentException("attr key overruns record")
        val token = b(keyOff + keyLen)
        val valOff = keyOff + keyLen + 1
        val valLen = token match {
          case LwesType.UInt16 | LwesType.Int16 => 2
          case LwesType.UInt32 | LwesType.Int32 => 4
          case LwesType.Int64 | LwesType.UInt64 => 8
          case LwesType.Bool => 1
          case LwesType.IpAddr => 4
          case LwesType.Str =>
            if (valOff + 2 > end)
              throw new IllegalArgumentException("string length overruns record")
            2 + u16(b, valOff)
          // modern lwes tokens: scalar byte/float/double + array tokens
          // must LENGTH-SKIP correctly even when no column wants them,
          // or one array attr would corrupt every scalar projection of
          // the record
          case LwesType.ByteT => 1
          case LwesType.Float => 4
          case LwesType.Double => 8
          case LwesType.StrArray =>
            if (valOff + 2 > end)
              throw new IllegalArgumentException("array length overruns record")
            var p = valOff + 2
            var k = u16(b, valOff)
            while (k > 0) {
              if (p + 2 > end)
                throw new IllegalArgumentException("string array overruns record")
              p += 2 + u16(b, p)
              k -= 1
            }
            p - valOff
          case t if graft.lwes.LwesType.isArray(t) =>
            if (valOff + 2 > end)
              throw new IllegalArgumentException("array length overruns record")
            2 + u16(b, valOff) *
              graft.lwes.LwesCodec.scalarFixedSize(graft.lwes.LwesType.elementOf(t))
          // nullable arrays: count, bitset size in BITS (== count, the
          // lwes-java convention; mismatch = named corruption, mirrors
          // LwesCodec.readBitSet), ceil(count/8) bitset bytes, then
          // only the PRESENT elements — the skip walks the bitset so
          // an unwanted nullable attr costs no decode
          case t if graft.lwes.LwesType.isNullableArray(t) =>
            if (valOff + 4 > end)
              throw new IllegalArgumentException("nullable array overruns record")
            val cnt = u16(b, valOff)
            val nbits = u16(b, valOff + 2)
            if (nbits != cnt)
              throw new IllegalArgumentException(
                s"nullable array bitset declares $nbits bits for $cnt elements")
            val nb = (cnt + 7) / 8
            val bitsOff = valOff + 4
            var p = bitsOff + nb
            if (p > end)
              throw new IllegalArgumentException("nullable array bitset overruns record")
            val et = graft.lwes.LwesType.elementOfNullable(t)
            if (et == LwesType.Str) {
              var j = 0
              while (j < cnt) {
                if ((b(bitsOff + (j >> 3)) & (1 << (j & 7))) != 0) {
                  if (p + 2 > end)
                    throw new IllegalArgumentException(
                      "nullable string array overruns record")
                  p += 2 + u16(b, p)
                }
                j += 1
              }
            } else {
              var present = 0
              var j = 0
              while (j < cnt) {
                if ((b(bitsOff + (j >> 3)) & (1 << (j & 7))) != 0) present += 1
                j += 1
              }
              p += present * graft.lwes.LwesCodec.scalarFixedSize(et)
            }
            p - valOff
          case t => throw new IllegalArgumentException(
            s"unknown LWES type token 0x${"%02x".format(t)}")
        }
        if (valOff + valLen > end)
          throw new IllegalArgumentException("attr value overruns record")
        // reserved lwes-java string-encoding attribute (`enc` int16):
        // honored whether or not projected; lwes-java serializes it
        // FIRST, so a foreign record declaring ISO-8859-1 later
        // restarts the walk (row r's writes simply overwrite) rather
        // than leave earlier string columns mis-decoded
        if (keyLen == 3 && token == LwesType.Int16 &&
            b(keyOff) == 'e' && b(keyOff + 1) == 'n' && b(keyOff + 2) == 'c') {
          val e = u16(b, valOff)
          if (e != 0 && e != 1)
            throw new IllegalArgumentException(
              s"unsupported enc value $e (0=ISO-8859-1, 1=UTF-8)")
          if (e == 0 && !curLatin1) {
            if (i == 0) curLatin1 = true
            else {
              cleanupRow(r)
              return parsePayload(b, b0, len, r, hasHeader, time, port, site,
                forceLatin1 = true)
            }
          }
        }
        val cols = lookup(b, keyOff, keyLen)
        if (cols != null) {
          val lv = decodeLong(token, b, valOff)
          var j = 0
          while (j < cols.length) {
            val c = cols(j)
            // first occurrence wins (LwesEvent `ev.get` parity); foreign
            // event types keep the column null
            if (stamps(c) != stamp && groupOk(c)) {
              writers(c).write(r, token, b, valOff, valLen, lv)
              stamps(c) = stamp
              // pushed-predicate early abort: a conclusive miss on the
              // just-decoded value skips the record's remaining
              // attributes and its materialization entirely
              if (earlyChecks(c) != null && !headerMapped(c)) {
                var e = 0
                while (e < earlyChecks(c).length) {
                  if (earlyChecks(c)(e).eval(token, b, valOff, valLen, lv) == 0) {
                    cleanupRow(r)
                    filtered += 1
                    return 0
                  }
                  e += 1
                }
              }
            }
            j += 1
          }
        }
        off = valOff + valLen
        i += 1
      }
      // wire attributes are done: ESF default cells below are
      // pre-encoded UTF-8 template bytes, never record-charset data
      curLatin1 = false
      // ---- header-derived columns replace payload copies (journal
      // frames only — SEQ records have no header to inject)
      if (hasHeader) {
        var h = 0
        while (h < headerWrites.length) {
          val (c, kind) = headerWrites(h)
          if (groupOk(c)) {
            kind match {
              case HReceipt => writers(c).write(r, LwesType.Int64, null, 0, 8, time)
              case HIp => writers(c).write(r, LwesType.IpAddr, headerBuf, 10, 4, 0L)
              case HPort => writers(c).write(r, LwesType.UInt16, null, 0, 2, port.toLong)
              case HSite => writers(c).write(r, LwesType.UInt16, null, 0, 2, site.toLong)
            }
            stamps(c) = stamp
          }
          h += 1
        }
      }
      // ---- name + partition columns
      if (nameColIdx >= 0) {
        putUtf8(vectors(nameColIdx), r, b, b0 + 1, nameLen)
        stamps(nameColIdx) = stamp
      }
      var p = 0
      while (p < partCols.length) {
        val c = partCols(p)
        val pb = partBytes(p)
        if (pb == null) vectors(c).putNull(r)
        else vectors(c).putByteArray(r, pb, 0, pb.length)
        stamps(c) = stamp
        p += 1
      }
      // ---- null-fill untouched columns (a declared ESF default
      // materializes instead of NULL — A24 defaults)
      var fills: Array[DefaultCell] = null
      if (defaultEventNames.length > 0) {
        var e = 0
        while (e < defaultEventNames.length && fills == null) {
          if (nameMatches(b, b0 + 1, nameLen, defaultEventNames(e),
              defaultEventStrs(e))) fills = defaultCells(e)
          e += 1
        }
      }
      var c = 0
      while (c < nCols) {
        if (stamps(c) != stamp) {
          val d = if (fills == null) null else fills(c)
          if (d != null)
            writers(c).write(r, d.token, d.bytes, 0, d.bytes.length, d.lv)
          else vectors(c).putNull(r)
        }
        c += 1
      }
      // ---- pushed-predicate post checks on the finished row (what
      // Spark's residual filter would see: header overwrites, odd
      // conversions, and null semantics included)
      var pc = 0
      while (pc < postChecks.length) {
        if (!postChecks(pc)(r)) {
          cleanupRow(r)
          filtered += 1
          return 0
        }
        pc += 1
      }
      1
    } catch {
      case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException =>
        cleanupRow(r)
        -2
    }
  }

  // ------------------------------------------ SequenceFile byte path
  /** SEQ containers route through the SAME byte-level payload walk as
    * journal records (A17 completion): [[graft.lwes.SequenceJournalReader.nextRawValue]]
    * hands back the framed EventWritable value (`[4B BE length][event]`,
    * reference EventWritable.java:52-57) and [[parsePayload]] decodes
    * the event bytes straight into the vectors — no LwesEvent, no
    * per-attribute boxing; name filtering and attr pruning happen on
    * the wire bytes like the journal hot loop. Corruption parity with
    * the event-object decode: a bad frame or undecodable payload stops
    * the FILE (SequenceJournalReader's deserialize throws through to
    * the file loop; SEQ has no record-resync point either way). */
  private final class SeqFill(s: java.io.InputStream) {
    val reader = new graft.lwes.SequenceJournalReader(s)

    /** 1 = row written, 0 = filtered, -1 = end of file. */
    def fill(r: Int): Int = {
      val value =
        try reader.nextRawValue()
        catch {
          case e if LwesDataSource.isCorruption(e) =>
            logWarning(s"corrupt SequenceFile tail in ${curPart.path}: " +
              s"${e.getMessage}; stopping this file")
            torn += 1
            null
        }
      if (value == null) return -1
      if (value.length < 4) {
        logWarning(s"short EventWritable frame in ${curPart.path}; " +
          "stopping this file")
        torn += 1
        return -1
      }
      val evLen = ((value(0) & 0xff) << 24) | ((value(1) & 0xff) << 16) |
        ((value(2) & 0xff) << 8) | (value(3) & 0xff)
      if (evLen != value.length - 4) {
        logWarning(s"bad EventWritable frame in ${curPart.path}: declared " +
          s"$evLen vs ${value.length - 4} payload bytes; stopping this file")
        torn += 1
        return -1
      }
      parsePayload(value, 4, evLen, r, hasHeader = false, 0L, 0, 0) match {
        case -2 =>
          logWarning(s"undecodable SequenceFile payload in ${curPart.path}; " +
            "stopping this file")
          torn += 1
          -1
        case other => other
      }
    }
    def close(): Unit = reader.close()
  }

  // ------------------------------------------------------------ driver
  override def next(): Boolean = {
    var i = 0
    while (i < nCols) { vectors(i).reset(); i += 1 }
    var n = 0
    while (n < capacity && (config.limit < 0 || emittedTotal < config.limit)) {
      if (!ensureFile()) { batch.setNumRows(n); return n > 0 }
      val r = if (seqFill != null) seqFill.fill(n) else parseRecord(n)
      if (r > 0) { n += 1; emittedTotal += 1; parsed += 1 }
      else if (r < 0) closeFile()
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val liveCorrupt =
      if (seqFill != null) seqFill.reader.corruptRecords else 0L
    Array(LwesTaskMetric("eventsParsed", parsed),
      LwesTaskMetric("eventsSkipped", skipped),
      LwesTaskMetric("tornFiles", torn),
      LwesTaskMetric("corruptRecords", corruptCnt + liveCorrupt),
      LwesTaskMetric("rowsFiltered", filtered))
  }

  override def close(): Unit = {
    closeFile()
    batch.close()
  }
}

object LwesColumnarBatchReader {
  /** Array element types the reader fills from a (one-dimensional) wire
    * array; the scan builder rejects array columns over any other. */
  def isArrayElementType(et: DataType): Boolean = et match {
    case ShortType | IntegerType | LongType | FloatType | DoubleType |
        BooleanType | StringType | BinaryType | _: DecimalType => true
    case _ => false
  }
}
