package graft.sources.lwes

import graft.lwes.{LwesAttr, LwesEvent, LwesType}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Parsed reader/writer options for the `lwes` format.
  *
  * Mirrors the reference SerDe's table properties
  * (reference EventSerDe.java:80-170, README):
  *   - `eventName`   ≙ `'lwes.event_name'` — single-event-type journals.
  *   - `mapping`     ≙ per-column serde properties: comma-separated
  *     `col:Attr` (rename, EventSerDe.java:131-139) or
  *     `col:Event::Name::Field` (multi-event journals,
  *     EventSerDe.java:141-155).
  *   - `compression` — codec for written files: `gzip` (default),
  *     `deflate`, `bz2`, `zstd`, or `none`; reads auto-detect by
  *     extension regardless of this option.
  *
  * Deviation from the reference, by design: events whose type matches no
  * mapping are *skipped* (the reference emitted stale/null rows for them
  * because it reused its row buffer, EventSerDe.java:199-216).
  */
final case class LwesReadConfig(
    schema: StructType,
    attrFor: Map[String, String], // column -> attribute
    eventFor: Map[String, String], // column -> required event type ("" = any)
    eventNames: Set[String], // accept-set; empty = accept all
    partitionCols: Seq[String], // path-derived k=v columns
    limit: Int = -1, // pushed-down per-partition row limit (-1 = none)
    eventNameCol: Option[String] = None, // column carrying the event type
    // comparison filters on data-attribute columns, evaluated INSIDE the
    // vectorized parse so non-matching records short-circuit before row
    // materialization (A4's name-skip generalized to values); Spark
    // re-applies them, so evaluation may be partial but never wrong
    attrFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    // ESF template defaults (event -> attr -> typed default): a record
    // missing the attribute materializes the declared default instead
    // of NULL (lwes-java EventTemplateDB semantics) — the reader routes
    // the default through the same conversion a wire value takes
    esfDefaults: Map[String, Map[String, graft.lwes.LwesAttr]] = Map.empty)
  extends Serializable {

  def attrOf(col: String): String = attrFor.getOrElse(col, col)

  /** [[LwesStats.namePure]] for this scan's gate, over an answer that
    * reads `cols`. */
  def namePure(st: LwesStats.FileStats, cols: Iterable[String]): Boolean =
    LwesStats.namePure(st, eventNames, cols.flatMap(eventFor.get))
}

/** One aggregate function pushed into the scan (A26). `col` names a
  * column of the read schema; `footerable` marks functions whose value
  * the `.zsj` footer index answers exactly without decompressing any
  * frame — COUNT(*) (per-frame record counts) and MIN/MAX over a
  * LongType ReceiptTime header column (per-frame exact receipt bounds,
  * tight by construction: the writer computes them from the records). */
sealed trait LwesAggFunc extends Serializable {
  def col: Option[String]
  def footerable: Boolean
}
object LwesAggFunc {
  case object CountStar extends LwesAggFunc {
    val col: Option[String] = None
    val footerable = true
  }
  /** COUNT(col): non-null values — never footer-answerable (the footer
    * does not know how many records omit an attribute). */
  final case class CountCol(c: String) extends LwesAggFunc {
    def col: Option[String] = Some(c)
    val footerable = false
  }
  final case class MinCol(c: String, fromReceipt: Boolean) extends LwesAggFunc {
    def col: Option[String] = Some(c)
    def footerable: Boolean = fromReceipt
  }
  final case class MaxCol(c: String, fromReceipt: Boolean) extends LwesAggFunc {
    def col: Option[String] = Some(c)
    def footerable: Boolean = fromReceipt
  }
  /** SUM(col) over an INTEGRAL column (r19): partial result is the
    * exact long sum (Spark's sum of short/int/long is LongType).
    * Never footer-answerable; the A27 sidecar's `sm=` field answers it
    * per file under the MIN/MAX type-fit rule. Float/double/decimal
    * sums are declined at push time — their value depends on
    * accumulation order, which a metadata answer cannot reproduce. */
  final case class SumCol(c: String) extends LwesAggFunc {
    def col: Option[String] = Some(c)
    val footerable = false
  }
}

/** Aggregation pushed into an [[LwesScan]] (A26): the scan emits ONE
  * partial row per partition (Spark plans the final merge — partial
  * pushdown, always correct under re-aggregation). `schema` is the
  * scan's output schema, one field per function in order; `inner` is
  * the attribute projection the stream path must materialize (empty for
  * pure COUNT(*)). `footerOnly` = every function is footer-answerable
  * AND nothing record-level gates admission (no event-name filter, no
  * receipt-time window), so a `.zsj` partition may be answered from its
  * footer index alone — zero decompression, zero parsing. Files without
  * a usable footer (gzip journals, torn `.zsj`) always fall back to the
  * streaming count, so the fast path never changes results.
  *
  * `ungated` = no receipt-time window gates admission (finalized in
  * `build()`): the precondition BOTH whole-file fast paths share.
  * `footerOnly` adds "every function is footer-answerable" and "no
  * event-name filter" on top (a footer knows record counts, not
  * names); the A27 zone-map answer path (per-file, any codec,
  * attribute MIN/MAX/COUNT too) checks exactness per sidecar instead,
  * and under an event-name filter answers only files and frames whose
  * stats prove every record admitted ([[LwesStats.namePure]]). */
final case class LwesAggSpec(funcs: Seq[LwesAggFunc], schema: StructType,
    footerOnly: Boolean, ungated: Boolean = true,
    // r20: COMPLETE pushdown — a plan-time probe proved every listed
    // file metadata-answerable, Spark plans no final merge, and the
    // scan emits ONE partition whose per-group rows ARE the final
    // answer. Correctness does not depend on the probe (a file that
    // somehow streams still folds exactly, just in one task); the
    // probe is what makes the single partition a metadata wave rather
    // than a serialized full scan.
    complete: Boolean = false,
    // A32 (r19): pushed GROUP BY columns — each is per-file-constant
    // (a path-derived partition column) or the event-name column, all
    // StringType; `schema` lists them FIRST (Spark's expected layout
    // for a pushed grouped aggregation), then one field per function.
    // Partition-col-only groupings keep every metadata fast path (the
    // file's key is a constant); a name-col grouping answers COUNT(*)
    // from the sidecar's per-name counts and streams everything else.
    groupCols: Seq[String] = Nil,
    // session ANSI flag captured at plan time (r19): a pushed SUM's
    // accumulator overflows EXACTLY like Spark's would — throwing under
    // ANSI, wrapping without — so pushdown cannot change overflow
    // semantics (sidecar sums are always overflow-guarded exact)
    ansi: Boolean = true) extends Serializable

/** Pushed `ORDER BY <col> [DESC] LIMIT k` (A28). PARTIAL push — Spark
  * always keeps the global Sort+Limit, so the scan's only obligation
  * is to KEEP every file that could contribute a top-k row; pruning
  * the provably-outranked rest is the optimization, never the
  * semantics. Accepted for a single-column sort on a gate-free scan
  * (no pushed/residual filters — Spark's pushdown only offers top-N
  * when Sort+Limit sit directly over the relation — and `build()`
  * clears the spec under admission windows or ESF templates). Under
  * an event-name filter only name-pure files ([[LwesStats.namePure]])
  * feed the bound, so every record the metadata counts is a result
  * row. Two column classes:
  *   - `col = None`: a LongType ReceiptTime header column — bounds
  *     from exact `.t` name tags + `.zsj` footer frame bounds (the
  *     r18 path; null ordering is irrelevant for an unmapped column,
  *     the header is stamped on every record, but a column mapped to
  *     `E::ReceiptTime` reads NULL on other admitted events and so
  *     requires NULLS LAST);
  *   - `col = Some(c)` (r19): an INTEGRAL data-attribute column —
  *     bounds from the A27 sidecar min/max + non-null counts, under
  *     the integral type-fit rule. Requires NULLS LAST (Spark's
  *     default for DESC): the k bound-counted rows are non-null, so
  *     every NULL row — and every row in a file whose max (desc) /
  *     min (asc) sits strictly outside the bound — is provably
  *     outranked. File-grain only (no frame pruning: the receipt
  *     window machinery is tag-specific). */
final case class LwesTopN(desc: Boolean, k: Int,
    col: Option[String] = None) extends Serializable

object LwesOptions {
  val EventName = "eventName"
  // read: add a string column carrying each event's wire type;
  // write: take each row's event type from this column
  val EventNameColumn = "eventNameColumn"
  val Mapping = "mapping"
  val Compression = "compression"
  val InferMaxEvents = "inferMaxEvents"
  val InferMaxFiles = "inferMaxFiles"
  // uint64 mapping: "long" (default — raw bits, values >= 2^63 wrap
  // negative, parity with the reference's getInt64) or "decimal"
  // (schema inference yields decimal(20,0) and reads are unsigned-exact)
  val Uint64As = "uint64As"
  // ReceiptTime-range FILE pruning (default true): a pushed range filter
  // on the receipt-time column skips whole journals whose conservative
  // [min,max] receipt-time bounds cannot overlap the query window. The
  // Spark-native generalization of the reference README's
  // `PARTITIONED BY(dt STRING)` pattern — "last hour's events" over a
  // year of rotated journals stops decompressing the year. Bounds come
  // from (exact) the writer's `.t<min>-<max>.` file-name tag, or
  // (heuristic, ±slack) a `capture-<openMillis>-` journaller name stamp
  // as lower bound and the file modification time as upper bound — a
  // journal's records are all received before the file is closed.
  // Values: "true" (exact tags + heuristics; every heuristic prune is
  // logged with the bounds it used), "exact" (tag-named files only —
  // for layouts that violate the mtime contract, e.g. future-dated
  // receipt times under untagged names), "false" (off).
  val TimePrune = "timePrune"
  // clock-skew allowance for the heuristic (untagged) bounds, millis
  val TimePruneSlackMs = "timePruneSlackMs"
  // explicit ReceiptTime admission window (inclusive millis) for
  // STREAMING reads: a bounded backfill (`Trigger.AvailableNow` over a
  // year-deep journal directory) admits only files whose conservative
  // name-tag/stamp/mtime bounds overlap [min, max] — the streaming
  // counterpart of the batch scan's pushed-range pruning, needed
  // because a fresh stream has no pushed filters at admission time.
  // Honors the same timePrune mode (exact|true|false) and slack.
  // Inside an admitted fat `.zsj` journal, the window additionally
  // prunes whole FRAMES by their exact footer bounds at plan time
  // (r16) — no mtime heuristics at frame level, so an in-window
  // record is never lost; `splitFramesPruned` source metric counts.
  val ReceiptTimeMin = "receiptTimeMin"
  val ReceiptTimeMax = "receiptTimeMax"
  // attribute zone maps (A27). Write side (`writeStats`, default true):
  // batch AND streaming writes drop a hidden `.<journal>.stats` sidecar
  // with per-attr record counts and integral/ASCII-string min/max (the
  // streaming sink promotes/reaps it with the pending journal at epoch
  // commit). Read side (`statsPrune`, default true): pushed attribute
  // predicates drop whole files whose sidecar proves no record can
  // match — before any open or decompress; pushed AGGREGATES are
  // answered per file from the sidecar alone (A26×A27), under an
  // event-name filter only for files whose per-name counts prove every
  // record admitted (LwesStats.namePure). Sound by construction (see
  // LwesStats); missing/stale/foreign sidecars simply keep the file /
  // stream the fold.
  val WriteStats = "writeStats"
  val StatsPrune = "statsPrune"
  // zone-map prune placement cap (default 8192): up to this many
  // surviving candidate files the DRIVER reads sidecars (16-way wave)
  // and eliminates whole tasks at plan time; past it the wave would
  // stretch planning (10^5 tiny GETs on one node), so planning skips it
  // and each EXECUTOR task skims its own files' sidecars before opening
  // them instead — same files skipped, the GET wave distributed, at the
  // cost of scheduling tasks that may turn out empty
  val StatsPruneMaxFiles = "statsPruneMaxFiles"
  /** Batch commits refresh the per-directory stats manifest (A33) from
    * the just-written sidecars — one read + one write per directory,
    * no listing. Default true; `false` leaves manifests to Compact. */
  val StatsManifest = "statsManifest"
  // aggregate pushdown (default true): unfiltered COUNT/MIN/MAX queries
  // collapse to one partial row per partition inside the scan; COUNT(*)
  // over `.zsj` journals is answered from footer record counts without
  // decompressing a single frame (A26). Escape hatch only — partial
  // pushdown is always correct under Spark's final re-aggregation.
  val AggPushdown = "aggPushdown"
  // r20: COMPLETE aggregate pushdown — when a plan-time probe proves
  // every listed file answers every pushed function from metadata
  // alone, the scan reports supportCompletePushDown and Spark plans NO
  // partial-merge exchange at all (single metadata-only partition).
  // "false" keeps the always-partial r19 behavior.
  val CompleteAggPushdown = "completeAggPushdown"
  // top-N pushdown (default true): an unfiltered `ORDER BY <receipt
  // col> [DESC] LIMIT k` prunes whole journals at plan time — the
  // k-th result value is lower-bounded by walking exact `.t<min>-<max>.`
  // name tags newest-first and summing zone-map sidecar record counts
  // until >= k, after which any file whose tag range sits strictly
  // outside the bound cannot contribute (A28; "latest k events" over a
  // year of journals opens the newest few files instead of the year).
  // Untagged or sidecar-less files are never pruned and never feed the
  // bound, and under `eventName` only name-pure files feed it; Spark
  // keeps the global Sort+Limit, so pruning is the only effect. Escape
  // hatch only.
  val TopNPrune = "topNPrune"
  // storage-partitioned joins (A29). "auto" (default): when Spark's
  // `spark.sql.sources.v2.bucketing.enabled` is on, a partitioned
  // journal layout reports KeyGroupedPartitioning over its path
  // partition columns and every planned task carries its partition-key
  // row — two journal tables partitioned the same way then join (and
  // group-by on the key) with ZERO shuffle, the DSv2 counterpart of
  // bucketed joins. "true" forces the key-grouped planning regardless
  // of the conf (Spark simply ignores the report when the conf is
  // off); "false" opts out. Key-grouped planning packs file bins
  // WITHIN one partition value (never across), so an off-mode scan
  // keeps the tighter cross-key packing.
  val SpjPartitioning = "spjPartitioning"
  // STREAMING SINK auto-compaction: with `autoCompactTarget` set, every
  // `autoCompactEveryEpochs`-th epoch commit (default 10) runs [[Compact]]
  // over the sink directory after the manifest lands, rewriting the
  // accumulated one-journal-per-(epoch × partition) files down to the
  // target count — a long-running query stops accumulating millions of
  // small files between manual maintenance runs. All of Compact's
  // safety holds (manifest-gated epochs, torn/corrupt files left in
  // place, stability horizon via `autoCompactMinAgeMs`), and a failed
  // compaction never fails the epoch (the data is already committed).
  // CONTRACT (same as manual Compact): no reader may be TAILING the
  // sink directory — compacted files are new paths a tailing stream
  // would re-ingest; batch readers are unaffected.
  val AutoCompactTarget = "autoCompactTarget"
  val AutoCompactEvery = "autoCompactEveryEpochs"
  val AutoCompactMinAgeMs = "autoCompactMinAgeMs"
  // SPLIT JOURNALS (.zsj, graft.lwes.SplitJournal — compression
  // "split-zstd" on the write side): `frameBytes` sets the writer's raw
  // bytes per zstd frame (default 4 MiB; the granularity at which the
  // file can later split). `splitTargetBytes` caps the READ planner's
  // compressed bytes per frame-run task for oversized .zsj files
  // (default: Spark's own maxSplitBytes formula from
  // files.maxPartitionBytes/openCostInBytes/defaultParallelism).
  val SplitFrameBytes = "frameBytes"
  val SplitTargetBytes = "splitTargetBytes"
  // ESF event-template file (lwes.org Event Specification Format —
  // graft.lwes.Esf). Read side: the DataFrame schema comes from the
  // template (no sampling pass, works on empty directories) — the
  // Spark parity for how real lwes deployments declare schemas, where
  // the reference needed Hive DDL (README:41-59). Write side: rows are
  // VALIDATED against the template — out-of-template attributes,
  // incompatible column types, undeclared event names (eventNameColumn
  // writes), and null required attributes all fail with a named
  // EsfValidationException — and attribute values are encoded with the
  // template's DECLARED wire types (a template `float` writes the
  // native float token, not the classic float-as-string fallback).
  val Esf = "esf"
  // WRITE-side string charset: "UTF-8" (default) or "ISO-8859-1". The
  // latter stamps the reserved lwes-java `enc` int16 attribute (= 0)
  // FIRST on every event — [[graft.lwes.LwesCodec.serialize]] sees it
  // and encodes string values Latin-1, failing loudly on unmappable
  // characters — matching what a classic ISO-8859-1 lwes-java emitter
  // puts on the wire. Reads need no option: both reader paths honor a
  // record's own `enc` attribute (r18). Note a plain int16 DATA column
  // mapped to attribute `enc` drives the codec identically by
  // construction (the attribute IS the signal), so the option refuses
  // a schema that also maps `enc` rather than fight over the value.
  val StringEncoding = "stringEncoding"

  /** Parse `mapping` option: `col:Attr` / `col:Event::Name::Field`. */
  def parseMapping(mapping: String): (Map[String, String], Map[String, String]) = {
    if (mapping == null || mapping.trim.isEmpty) return (Map.empty, Map.empty)
    val attrFor = Map.newBuilder[String, String]
    val eventFor = Map.newBuilder[String, String]
    mapping.split(',').map(_.trim).filter(_.nonEmpty).foreach { entry =>
      val sep = entry.indexOf(':')
      require(sep > 0, s"bad mapping entry '$entry' (want col:Attr)")
      val col = entry.substring(0, sep).trim
      val target = entry.substring(sep + 1).trim
      // Event::Name::Field — field is the last ::-segment, event the rest
      // (same split rule as reference EventSerDe.java:142-155)
      val lastSep = target.lastIndexOf("::")
      if (lastSep > 0) {
        attrFor += col -> target.substring(lastSep + 2)
        eventFor += col -> target.substring(0, lastSep)
      } else {
        attrFor += col -> target
      }
    }
    (attrFor.result(), eventFor.result())
  }

  // ------------------------------------------------ value conversions

  /** LWES attr value → Catalyst value for the column's Spark type.
    * Numeric widening is lenient; float/double accept LWES strings for
    * parity with the reference (EventSerDe.java:270-281). Unconvertible
    * → null (reference caught exceptions → null, EventSerDe.java:209-212). */
  def toCatalyst(a: LwesAttr, dt: DataType): Any = {
    try {
      dt match {
        case BooleanType => a.value match {
          case b: Boolean => b
          case _ => null
        }
        case ShortType => asLong(a).map(_.toShort).orNull
        case IntegerType => asLong(a).map(_.toInt).orNull
        case LongType => asLong(a).map(java.lang.Long.valueOf).orNull
        case FloatType => a.value match {
          case s: String => java.lang.Float.valueOf(s)
          case _ => asDouble(a).map(_.toFloat).orNull
        }
        case DoubleType => a.value match {
          case s: String => java.lang.Double.valueOf(s)
          case _ => asDouble(a).map(java.lang.Double.valueOf).orNull
        }
        case StringType => UTF8String.fromString(asString(a))
        case BinaryType => a.value match {
          case b: Array[Byte] => b
          case s: String => s.getBytes("UTF-8")
          case _ => null
        }
        // decimal columns read uint64 attributes UNSIGNED-exactly
        // (the 2^63..2^64-1 range that LongType wraps negative);
        // other numeric tokens convert signed as usual
        case dt: DecimalType =>
          val bd: java.math.BigDecimal =
            if (a.token == LwesType.UInt64)
              new java.math.BigDecimal(
                java.lang.Long.toUnsignedString(a.value.asInstanceOf[Long]))
            else asLong(a).map(java.math.BigDecimal.valueOf).orNull
          if (bd == null) null
          else {
            val d = Decimal(scala.math.BigDecimal(bd))
            if (d.changePrecision(dt.precision, dt.scale)) d else null
          }
        case ArrayType(et, _) =>
          if (!LwesType.isArray(a.token) && !LwesType.isNullableArray(a.token)) null
          else {
            val n = java.lang.reflect.Array.getLength(a.value)
            val out = new Array[Any](n)
            val elemToken = LwesType.elementTokenOf(a.token)
            var j = 0
            while (j < n) {
              // nullable-array holes stay null (classic arrays never
              // carry null elements, so the check costs them nothing)
              val e = java.lang.reflect.Array.get(a.value, j)
              out(j) = if (e == null) null
                else toCatalyst(LwesAttr(a.key, elemToken, e), et)
              j += 1
            }
            new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
          }
        case _ => null
      }
    } catch {
      case _: NumberFormatException => null
    }
  }

  private def asLong(a: LwesAttr): Option[Long] = a.value match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case b: Boolean => Some(if (b) 1L else 0L)
    case f: Float => Some(f.toLong)
    case d: Double => Some(d.toLong)
    case s: String => s.toLongOption
    case _ => None
  }

  private def asDouble(a: LwesAttr): Option[Double] = a.value match {
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    case f: Float => Some(f.toDouble)
    case d: Double => Some(d)
    case s: String => s.toDoubleOption
    case _ => None
  }

  def asString(a: LwesAttr): String = a.value match {
    case b: Array[Byte] if a.token == LwesType.IpAddr => LwesEvent.ipToString(b)
    case arr if LwesType.isArray(a.token) || LwesType.isNullableArray(a.token) =>
      val n = java.lang.reflect.Array.getLength(arr)
      val et = LwesType.elementTokenOf(a.token)
      (0 until n).map { j =>
        val e = java.lang.reflect.Array.get(arr, j)
        if (e == null) "null" // nullable-array hole
        else if (et == LwesType.IpAddr) LwesEvent.ipToString(e.asInstanceOf[Array[Byte]])
        else String.valueOf(e)
      }.mkString("[", ",", "]")
    case b: Array[Byte] => LwesEvent.ipToString(b)
    case v => v.toString
  }

  /** Spark value → typed LWES attribute set on `ev` (write path).
    * Float/double stored as strings, byte upcast to int16 — parity with
    * reference EventSerDe.java:382-441. Null → attribute unset
    * (EventSerDe.java:377-380). Header-named attrs get their wire types so
    * the journal writer can lift them into the record header. */
  def setAttr(ev: LwesEvent, attr: String, dt: DataType, v: Any): Unit = {
    if (v == null) return
    attr match {
      case LwesEvent.ReceiptTime =>
        ev.setInt64(attr, numAsLong(v)); return
      case LwesEvent.SenderPort | LwesEvent.SiteId =>
        ev.setUInt16(attr, numAsLong(v).toInt); return
      case LwesEvent.SenderIp =>
        ev.setIpAddr(attr, LwesEvent.parseIp(v.toString)); return
      case _ =>
    }
    dt match {
      case BooleanType => ev.setBool(attr, v.asInstanceOf[Boolean])
      case ByteType => ev.setInt16(attr, v.asInstanceOf[Byte].toShort)
      case ShortType => ev.setInt16(attr, v.asInstanceOf[Short])
      case IntegerType => ev.setInt32(attr, v.asInstanceOf[Int])
      case LongType => ev.setInt64(attr, v.asInstanceOf[Long])
      case FloatType => ev.setString(attr, v.asInstanceOf[Float].toString)
      case DoubleType => ev.setString(attr, v.asInstanceOf[Double].toString)
      case StringType => ev.setString(attr, v.toString)
      case BinaryType =>
        // opaque payloads ride the modern byte-array token (previously
        // only 4-byte values survived, coerced to ipaddr; everything
        // else was silently dropped)
        ev.setByteArray(attr, v.asInstanceOf[Array[Byte]])
      // unsigned round-trip back to uint64 raw bits — scale-0 shapes
      // only (r16): a fractional decimal would silently truncate
      case d: DecimalType if d.scale == 0 =>
        ev.setUInt64(attr, u64RawBits(attr, v.asInstanceOf[Decimal], esf = false))
      // array columns ride the modern lwes array tokens (0x81+). NOTE:
      // scalar float/double keep the reference's float-as-string parity
      // above, but array elements use the NATIVE float/double wire
      // encodings — the reference predates arrays entirely, so there is
      // no parity to preserve and the binary encoding is 2-4x smaller.
      case ArrayType(et, cn) =>
        val ad = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        // an array VALUE carrying null elements rides the nullable-array
        // wire tokens (N_*_ARRAY); all-present values keep the compact
        // classic tokens — per value, so a containsNull=true schema
        // whose data never holds nulls pays no bitset overhead. That
        // per-value split is safe because both shapes read back as the
        // SAME Spark type for every element type except byte — the
        // classic byte[] token is a BLOB (BinaryType on read) while
        // NByteArray is element-wise (array<short>), so byte columns
        // switch on the SCHEMA's containsNull instead: one consistent
        // wire shape per column, never a per-row type fork that
        // inference would have to widen to StringType
        val hasNulls = !(0 until ad.numElements()).forall(!ad.isNullAt(_))
        // a containsNull=false column whose DATA still carries a null
        // (Catalyst does not validate containsNull) must fail loudly
        // for EVERY element type (r18, advisory): silently switching
        // to the nullable wire token would read back null elements
        // under a schema that promises none — codegen downstream may
        // assume containsNull=false holds — and for byte it would
        // additionally fork the column's wire shape per row
        if (hasNulls && !cn)
          throw new IllegalArgumentException(
            s"LWES array attr '$attr' declared containsNull=false " +
              "carries a NULL element; declare the column with " +
              "containsNull=true to write the nullable token")
        if (hasNulls || (cn && et == ByteType)) {
          setNullableAttr(ev, attr, et, ad)
          return
        }
        et match {
          case ShortType => ev.setInt16Array(attr, ad.toShortArray())
          case IntegerType => ev.setInt32Array(attr, ad.toIntArray())
          case LongType => ev.setInt64Array(attr, ad.toLongArray())
          case FloatType => ev.setFloatArray(attr, ad.toFloatArray())
          case DoubleType => ev.setDoubleArray(attr, ad.toDoubleArray())
          case BooleanType => ev.setBoolArray(attr, ad.toBooleanArray())
          // all-present byte arrays ride the classic blob token (lwes
          // treats byte[] as one opaque value — reads back BinaryType);
          // byte arrays WITH null elements take the element-wise
          // NByteArray path above instead (reads back array<short> via
          // the byte-upcast rule) — the only shape where the null/no-
          // null split changes the read-side Spark type, because the
          // classic format simply has no element-wise byte token
          case ByteType => ev.setByteArray(attr, ad.toByteArray())
          case StringType => ev.setStringArray(attr,
            (0 until ad.numElements())
              .map(j => ad.getUTF8String(j).toString).toArray)
          // scale-0 decimal elements round-trip back to uint64[] raw
          // bits — the write-side mirror of the uint64As=decimal read
          // (a decimal array READ from a journal was unwritable until
          // r16). Fractional decimal types stay REJECTED below: a
          // silent toBigInteger would truncate 1.23 to wire 1.
          case edt: DecimalType if edt.scale == 0 => ev.setUInt64Array(attr,
            Array.tabulate(ad.numElements())(j =>
              u64RawBits(attr, ad.get(j, edt).asInstanceOf[Decimal], esf = false)))
          case other => throw new IllegalArgumentException(
            s"LWES cannot carry array element type $other")
        }
      case other =>
        throw new IllegalArgumentException(
          s"LWES cannot carry Spark type $other (reference EventSerDe.java:443-447)")
    }
  }

  /** Write an array value that carries null elements as a nullable
    * array (N_*_ARRAY): element tokens mirror [[setAttr]]'s classic
    * choices, elements box to the representations the element token's
    * reader produces, null holes stay null. */
  private def setNullableAttr(ev: LwesEvent, attr: String, et: DataType,
      ad: org.apache.spark.sql.catalyst.util.ArrayData): Unit = {
    val n = ad.numElements()
    def boxed(elemToken: Byte)(get: Int => AnyRef): Unit =
      ev.setNullableArray(attr, elemToken,
        Array.tabulate(n)(j => if (ad.isNullAt(j)) null else get(j)))
    et match {
      case ShortType => boxed(LwesType.Int16)(j => java.lang.Short.valueOf(ad.getShort(j)))
      case IntegerType => boxed(LwesType.Int32)(j => java.lang.Integer.valueOf(ad.getInt(j)))
      case LongType => boxed(LwesType.Int64)(j => java.lang.Long.valueOf(ad.getLong(j)))
      case FloatType => boxed(LwesType.Float)(j => java.lang.Float.valueOf(ad.getFloat(j)))
      case DoubleType => boxed(LwesType.Double)(j => java.lang.Double.valueOf(ad.getDouble(j)))
      case BooleanType => boxed(LwesType.Bool)(j => java.lang.Boolean.valueOf(ad.getBoolean(j)))
      case ByteType => boxed(LwesType.ByteT)(j => java.lang.Byte.valueOf(ad.getByte(j)))
      case StringType => boxed(LwesType.Str)(j => ad.getUTF8String(j).toString)
      case edt: DecimalType if edt.scale == 0 =>
        boxed(LwesType.UInt64)(j => java.lang.Long.valueOf(
          u64RawBits(attr, ad.get(j, edt).asInstanceOf[Decimal], esf = false)))
      case other => throw new IllegalArgumentException(
        s"LWES cannot carry array element type $other")
    }
  }

  /** Can a Spark column of type `dt` be written as template token
    * `token`? The allowance set mirrors [[setAttrAs]] exactly —
    * anything `true` here encodes without loss of the declared type's
    * wire representation (integral widths may NARROW on the wire when
    * the template says so, matching lwes-java EventTemplateDB's
    * coerce-to-template behavior). */
  def esfWriteCompatible(dt: DataType, token: Byte): Boolean = (token, dt) match {
    case (LwesType.Bool, BooleanType) => true
    // ShortType included: the template-derived READ schema for `byte`
    // is ShortType (classic byte-upcast parity), so the schema a user
    // reads must be writable back — values range-check to [-128, 127]
    case (LwesType.ByteT, ByteType | ShortType) => true
    case (LwesType.Int16, ByteType | ShortType) => true
    case (LwesType.UInt16, ByteType | ShortType | IntegerType) => true
    case (LwesType.Int32, ByteType | ShortType | IntegerType) => true
    case (LwesType.UInt32, ByteType | ShortType | IntegerType | LongType) => true
    case (LwesType.Int64, ByteType | ShortType | IntegerType | LongType) => true
    case (LwesType.UInt64, ByteType | ShortType | IntegerType | LongType) => true
    // scale-0 only: a fractional decimal cannot encode as uint64 raw
    // bits without silent truncation (named rejection instead)
    case (LwesType.UInt64, d: DecimalType) => d.scale == 0
    case (LwesType.Float, FloatType) => true
    case (LwesType.Double, FloatType | DoubleType) => true
    // template `string` keeps the classic float/double-as-string parity
    case (LwesType.Str, StringType | FloatType | DoubleType) => true
    case (LwesType.IpAddr, StringType) => true
    case (LwesType.ByteArray, BinaryType) => true
    // ARRAY ELEMENTS do not inherit the scalar Str float/double-as-string
    // allowance: setAttrAs's string-array branch reads elements with
    // getUTF8String, which on a numeric UnsafeArrayData reinterprets the
    // float bits as an offset word — garbage strings after validation
    // passed. Elements of a declared string[] must BE strings.
    case (t, ArrayType(et, _)) if LwesType.isArray(t) =>
      LwesType.elementOf(t) match {
        case LwesType.Str | LwesType.IpAddr => et == StringType
        // the scalar byte-as-ShortType allowance must NOT leak here:
        // setAttrAs writes a declared byte[] via ad.toByteArray(),
        // which reads raw bytes — a short-element array would corrupt
        case LwesType.ByteT => et == ByteType
        case e => esfWriteCompatible(et, e)
      }
    // `nullable`-declared arrays accept the same element shapes as
    // their classic counterparts; byte elements additionally accept
    // ShortType (the template-derived read schema for byte is
    // ShortType) because the nullable path converts PER ELEMENT with a
    // range check, never via the raw toByteArray() reinterpretation
    case (t, ArrayType(et, _)) if LwesType.isNullableArray(t) =>
      LwesType.elementOfNullable(t) match {
        case LwesType.Str | LwesType.IpAddr => et == StringType
        case LwesType.ByteT => et == ByteType || et == ShortType
        case e => esfWriteCompatible(et, e)
      }
    case _ => false
  }

  /** Write `v` as the TEMPLATE-declared wire token (ESF write path):
    * the declared type wins over [[setAttr]]'s column-type-driven
    * choice, so a template `float` gets the native float token and a
    * template `uint16` narrows an int column to the uint16 encoding.
    * Callers guarantee [[esfWriteCompatible]] held for (dt, token). */
  /** Integral narrowing to a declared template width RANGE-CHECKS
    * instead of bit-masking: the ESF write contract is "rows are
    * VALIDATED against the template", and an int 70000 silently landing
    * as uint16 4464 is corruption, not coercion. uint64 stays raw-bits
    * (any long is a valid unsigned representation — reference parity). */
  private def narrowChecked(attr: String, token: Byte, v: Long): Long = {
    val (lo, hi) = token match {
      case LwesType.ByteT => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
      case LwesType.Int16 => (Short.MinValue.toLong, Short.MaxValue.toLong)
      case LwesType.UInt16 => (0L, 0xffffL)
      case LwesType.Int32 => (Int.MinValue.toLong, Int.MaxValue.toLong)
      case LwesType.UInt32 => (0L, 0xffffffffL)
      case _ => (Long.MinValue, Long.MaxValue)
    }
    if (v < lo || v > hi)
      throw new EsfValidationException(
        s"esf validation: value $v of attribute '$attr' is out of range " +
          s"for declared type ${graft.lwes.LwesType.name(token)} [$lo, $hi]")
    v
  }

  def setAttrAs(ev: LwesEvent, attr: String, token: Byte, dt: DataType,
      v: Any): Unit = {
    if (v == null) return
    token match {
      case LwesType.Bool => ev.setBool(attr, v.asInstanceOf[Boolean])
      case LwesType.ByteT =>
        ev.setByte(attr, narrowChecked(attr, token, numAsLong(v)).toByte)
      case LwesType.Int16 =>
        ev.setInt16(attr, narrowChecked(attr, token, numAsLong(v)).toShort)
      case LwesType.UInt16 =>
        ev.setUInt16(attr, narrowChecked(attr, token, numAsLong(v)).toInt)
      case LwesType.Int32 =>
        ev.setInt32(attr, narrowChecked(attr, token, numAsLong(v)).toInt)
      case LwesType.UInt32 =>
        ev.setUInt32(attr, narrowChecked(attr, token, numAsLong(v)))
      case LwesType.Int64 => ev.setInt64(attr, numAsLong(v))
      case LwesType.UInt64 => v match {
        case d: Decimal => ev.setUInt64(attr, u64RawBits(attr, d, esf = true))
        case other => ev.setUInt64(attr, numAsLong(other))
      }
      case LwesType.Float => ev.setFloat(attr, v.asInstanceOf[Float])
      case LwesType.Double => v match {
        case f: Float => ev.setDouble(attr, f.toDouble)
        case d: Double => ev.setDouble(attr, d)
        case other => throw new IllegalArgumentException(s"not a double: $other")
      }
      case LwesType.Str => ev.setString(attr, v.toString)
      case LwesType.IpAddr => ev.setIpAddr(attr, LwesEvent.parseIp(v.toString))
      case LwesType.ByteArray => v match {
        case b: Array[Byte] => ev.setByteArray(attr, b)
        case ad: org.apache.spark.sql.catalyst.util.ArrayData =>
          ev.setByteArray(attr, ad.toByteArray())
        case other => throw new IllegalArgumentException(s"not bytes: $other")
      }
      // `nullable`-declared arrays: null elements legal, always encoded
      // with the N_*_ARRAY token (the declared type wins, like every
      // other template-declared encoding), elements range-checked to
      // the declared width like the classic branch below
      case t if LwesType.isNullableArray(t) =>
        val ad = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val et = LwesType.elementOfNullable(t)
        val edt = dt.asInstanceOf[ArrayType].elementType
        val n = ad.numElements()
        def boxedN(get: Int => AnyRef): Array[AnyRef] =
          Array.tabulate(n)(j => if (ad.isNullAt(j)) null else get(j))
        val arr: Array[AnyRef] = et match {
          case LwesType.Int16 => boxedN(j => java.lang.Short.valueOf(
            narrowChecked(attr, et, numAsLong(ad.get(j, edt))).toShort))
          case LwesType.UInt16 => boxedN(j => java.lang.Integer.valueOf(
            narrowChecked(attr, et, numAsLong(ad.get(j, edt))).toInt))
          case LwesType.Int32 => boxedN(j => java.lang.Integer.valueOf(
            narrowChecked(attr, et, numAsLong(ad.get(j, edt))).toInt))
          case LwesType.UInt32 => boxedN(j => java.lang.Long.valueOf(
            narrowChecked(attr, et, numAsLong(ad.get(j, edt)))))
          case LwesType.Int64 | LwesType.UInt64 =>
            boxedN(j => java.lang.Long.valueOf(numAsLong(ad.get(j, edt))))
          case LwesType.ByteT => boxedN(j => java.lang.Byte.valueOf(
            narrowChecked(attr, et, numAsLong(ad.get(j, edt))).toByte))
          case LwesType.Float =>
            boxedN(j => java.lang.Float.valueOf(ad.getFloat(j)))
          case LwesType.Double => edt match {
            case FloatType => boxedN(j => java.lang.Double.valueOf(ad.getFloat(j).toDouble))
            case _ => boxedN(j => java.lang.Double.valueOf(ad.getDouble(j)))
          }
          case LwesType.Bool =>
            boxedN(j => java.lang.Boolean.valueOf(ad.getBoolean(j)))
          case LwesType.Str => boxedN(j => ad.getUTF8String(j).toString)
          case LwesType.IpAddr =>
            boxedN(j => LwesEvent.parseIp(ad.getUTF8String(j).toString))
          case other => throw new EsfValidationException(
            s"esf: unsupported nullable array element token $other for '$attr'")
        }
        ev.setNullableArray(attr, et, arr)
      case t if LwesType.isArray(t) =>
        val ad = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        // named like every other template violation (the ESF path
        // promises EsfValidationException, not a generic require) —
        // only a `nullable`-declared array may carry null elements
        if (!(0 until ad.numElements()).forall(!ad.isNullAt(_)))
          throw new EsfValidationException(
            s"esf validation: array attribute '$attr' carries a NULL " +
              "element but is not declared `nullable` in the template")
        val et = LwesType.elementOf(t)
        val n = ad.numElements()
        et match {
          case LwesType.Int16 =>
            ev.setInt16Array(attr, Array.tabulate(n)(j => narrowChecked(attr, et,
              numAsLong(ad.get(j, dt.asInstanceOf[ArrayType].elementType))).toShort))
          case LwesType.UInt16 =>
            ev.setUInt16Array(attr, Array.tabulate(n)(j => narrowChecked(attr, et,
              numAsLong(ad.get(j, dt.asInstanceOf[ArrayType].elementType))).toInt))
          case LwesType.Int32 =>
            ev.setInt32Array(attr, Array.tabulate(n)(j => narrowChecked(attr, et,
              numAsLong(ad.get(j, dt.asInstanceOf[ArrayType].elementType))).toInt))
          case LwesType.UInt32 =>
            ev.setUInt32Array(attr, Array.tabulate(n)(j => narrowChecked(attr, et,
              numAsLong(ad.get(j, dt.asInstanceOf[ArrayType].elementType)))))
          case LwesType.Int64 =>
            ev.setInt64Array(attr, Array.tabulate(n)(j =>
              numAsLong(ad.get(j, dt.asInstanceOf[ArrayType].elementType))))
          case LwesType.UInt64 =>
            ev.setUInt64Array(attr, Array.tabulate(n)(j =>
              numAsLong(ad.get(j, dt.asInstanceOf[ArrayType].elementType))))
          case LwesType.Float => ev.setFloatArray(attr, ad.toFloatArray())
          case LwesType.Double => dt.asInstanceOf[ArrayType].elementType match {
            case FloatType =>
              ev.setDoubleArray(attr, ad.toFloatArray().map(_.toDouble))
            case _ => ev.setDoubleArray(attr, ad.toDoubleArray())
          }
          case LwesType.Bool => ev.setBoolArray(attr, ad.toBooleanArray())
          case LwesType.Str => ev.setStringArray(attr,
            (0 until n).map(j => ad.getUTF8String(j).toString).toArray)
          case LwesType.IpAddr => ev.setIpAddrArray(attr,
            (0 until n).map(j => LwesEvent.parseIp(ad.getUTF8String(j).toString)).toArray)
          case other => throw new IllegalArgumentException(
            s"esf: unsupported array element token $other for '$attr'")
        }
      case other => throw new IllegalArgumentException(
        s"esf: unsupported template token $other for '$attr'")
    }
  }

  /** Decimal → uint64 raw bits, range-CHECKED: decimal(20,0) holds up
    * to 10^20-1 but uint64 tops out at 2^64-1, and a silent
    * `longValue()` wrap on the overflow (or on a negative value) is
    * data corruption — named rejection instead, like every other
    * declared-width violation. Values in [2^63, 2^64) land as the
    * negative raw-bits long, the documented unsigned round-trip.
    * `esf = true` (template-declared writes) names the rejection
    * [[EsfValidationException]] — the ESF path's contract — while the
    * plain write path keeps the generic IllegalArgumentException. */
  private def u64RawBits(attr: String, d: Decimal, esf: Boolean): Long = {
    val bi = d.toJavaBigDecimal.toBigInteger
    if (bi.signum < 0 || bi.bitLength > 64) {
      val msg = s"value $bi of attr '$attr' is out of uint64 range [0, 2^64)"
      if (esf) throw new EsfValidationException(s"esf validation: $msg")
      else throw new IllegalArgumentException(msg)
    }
    bi.longValue()
  }

  private def numAsLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case s: UTF8String => s.toString.toLong
    case s: String => s.toLong
    case d: Double => d.toLong
    // uint64-declared decimal columns/elements: unsigned raw-bits
    // round-trip, range-checked like the plain write path
    case d: Decimal => u64RawBits("<esf-declared>", d, esf = true)
    case _ => throw new IllegalArgumentException(s"not numeric: $v")
  }

  /** Inference: LWES token → Spark type. `uint64AsDecimal` maps UInt64
    * to decimal(20,0) (unsigned-exact) instead of the default LongType
    * (raw bits — values ≥ 2^63 wrap negative, reference parity). */
  def sparkTypeFor(token: Byte, uint64AsDecimal: Boolean = false): DataType =
    token match {
      case LwesType.Bool => BooleanType
      case LwesType.Int16 => ShortType
      case LwesType.ByteT => ShortType // byte upcast, EventSerDe parity
      case LwesType.UInt16 | LwesType.Int32 => IntegerType
      case LwesType.UInt64 if uint64AsDecimal => DecimalType(20, 0)
      case LwesType.UInt32 | LwesType.Int64 | LwesType.UInt64 => LongType
      case LwesType.Float => FloatType
      case LwesType.Double => DoubleType
      case LwesType.Str => StringType
      case LwesType.IpAddr => StringType
      case LwesType.ByteArray => BinaryType // byte[] ≙ Spark binary
      case t if LwesType.isArray(t) =>
        ArrayType(sparkTypeFor(LwesType.elementOf(t), uint64AsDecimal),
          containsNull = false)
      case t if LwesType.isNullableArray(t) =>
        ArrayType(sparkTypeFor(LwesType.elementOfNullable(t), uint64AsDecimal),
          containsNull = true)
      case _ => StringType
    }

  /** Widen two inferred types to a common one. */
  def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (ShortType, IntegerType) | (IntegerType, ShortType) => IntegerType
    case (ShortType, LongType) | (LongType, ShortType) => LongType
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType
    // decimal(20,0) (unsigned uint64) absorbs any signed integral width
    case (d: DecimalType, ShortType | IntegerType | LongType) => d
    case (ShortType | IntegerType | LongType, d: DecimalType) => d
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    case (ArrayType(x, nx), ArrayType(y, ny)) =>
      ArrayType(widen(x, y), nx || ny)
    case _ => StringType
  }
}
