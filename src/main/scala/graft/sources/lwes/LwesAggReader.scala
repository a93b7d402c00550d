package graft.sources.lwes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Reader factory for scans with a pushed aggregation (A26/A32): every
  * partition collapses to one partial row per group (one row total when
  * ungrouped). Always row-based — there is nothing to vectorize in a
  * handful of output rows. */
class LwesAggReaderFactory(config: LwesReadConfig, spec: LwesAggSpec,
    bconf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = LwesScan.partitionFiles(partition)
    new LwesAggPartitionReader(files, config, spec, bconf.value.value)
  }
}

/** Computes the pushed partial aggregation over one partition's files.
  *
  * A32 grouping: with pushed GROUP BY columns (per-file-constant
  * partition columns and/or the event-name column) the accumulators
  * are kept per group key and one partial row per group emits; a
  * grouped aggregate over zero admitted records emits zero rows (an
  * ungrouped one still emits its single all-NULL/0 row). All three
  * metadata paths survive a partition-col-only grouping unchanged —
  * the file's key is a constant — and a name-col grouping answers
  * all-COUNT(*) pushes from the sidecar's per-name counts.
  *
  * Three paths, chosen PER FILE:
  *   - **File metadata** (A26×A27): a scan without a receipt window
  *     or ESF defaults, over a whole-file slice whose zone-map sidecar
  *     — plus, for ReceiptTime-backed MIN/MAX, the writer's exact `.t`
  *     name tag — answers EVERY pushed function exactly
  *     ([[LwesStats.answerAggregates]]), never opens the journal at
  *     all: any codec, attribute MIN/MAX/COUNT(col) included. Under an
  *     event-name filter the sidecar must also prove the file name-pure
  *     ([[LwesStats.namePure]]). Counted by the `filesAggFromStats`
  *     metric; `eventsParsed` stays 0.
  *   - **Footer**: when `spec.footerOnly` and the file is a `.zsj`
  *     split journal with a valid footer index, COUNT(*) sums the
  *     per-frame record counts and MIN/MAX over a LongType ReceiptTime
  *     column merges the per-frame exact receipt bounds — the file is
  *     never opened past its footer tail, no frame decompresses, no
  *     record parses (`eventsParsed` stays 0 — the gate's proof). A
  *     frame whose bounds read min > max carried no receipt times and
  *     contributes records to the count but nothing to min/max (those
  *     records' receipt column is NULL, which min/max ignore).
  *   - **Stream**: everything else (sidecar-less gzip journals,
  *     torn/footerless `.zsj`, time-windowed scans, files holding
  *     records an event-name filter drops or whose name counts are
  *     unproven, float/string attribute bounds) drains the same
  *     [[LwesColumnarBatchReader]] an unpushed scan runs, projected to
  *     just the aggregated columns, and folds its rows into accumulators
  *     — identical admission semantics (torn-tail tolerance, resync, ESF
  *     defaults), so pushdown can never change a result, only where the
  *     fold runs.
  *
  * MIN/MAX comparisons replicate Spark's total order per type (NaN
  * greatest via `java.lang.Double.compare`, unsigned byte-wise UTF8
  * strings), so the partial rows merge to exactly what the unpushed
  * Aggregate would have produced.
  *
  * The reference has no counterpart — counting a journal there parses
  * every event through the SerDe (EventSerDe.java:184-216).
  */
class LwesAggPartitionReader(files: Seq[LwesInputPartition],
    config: LwesReadConfig, spec: LwesAggSpec, conf: Configuration)
    extends PartitionReader[InternalRow] with org.apache.spark.internal.Logging {

  private val funcs = spec.funcs.toArray
  private val n = funcs.length
  // stream-path column index per func (-1 = none, e.g. COUNT(*))
  private val colIdx: Array[Int] = funcs.map(_.col
    .map(config.schema.fieldIndex).getOrElse(-1))
  private val colType: Array[DataType] = funcs.map(_.col
    .map(c => config.schema(c).dataType).orNull)

  /** Spark-total-order comparator for the supported atomic types. */
  private def cmp(dt: DataType): (Any, Any) => Int = dt match {
    case ByteType => (a, b) =>
      java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case ShortType => (a, b) =>
      java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case IntegerType | DateType => (a, b) =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType | TimestampType => (a, b) =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    // SQLOrderingUtil, not java.lang compare: Spark's MIN/MAX treat
    // -0.0 and 0.0 as EQUAL (first-seen wins), while NaN stays greatest
    case FloatType => (a, b) =>
      org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareFloats(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case DoubleType => (a, b) =>
      org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case BooleanType => (a, b) =>
      java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case StringType => (a, b) =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case _: DecimalType => (a, b) =>
      a.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .compareTo(b.asInstanceOf[org.apache.spark.sql.types.Decimal])
    case other => throw new IllegalStateException(
      s"unsupported pushed-aggregate type $other") // builder filtered these
  }
  private val comparators: Array[(Any, Any) => Int] =
    Array.tabulate(n)(i => if (colType(i) != null) cmp(colType(i)) else null)

  // ---- A32 grouping state ------------------------------------------
  private val g = spec.groupCols.length
  // stream-path row index of each group column (group cols always ride
  // in the data schema — build() adds them)
  private val groupIdx: Array[Int] =
    spec.groupCols.map(config.schema.fieldIndex).toArray
  private val groupIsName: Array[Boolean] =
    spec.groupCols.map(c => config.eventNameCol.contains(c)).toArray
  // every group column is a per-file constant (partition column): the
  // whole-file/frame metadata paths stay valid — the file's key is one
  // group. A name-col grouping forfeits them (footers and frame blobs
  // do not split by name) except the sidecar per-name COUNT(*) path.
  private val metadataGroupable = !groupIsName.exists(identity)

  /** Per-group accumulators: counts as Long, min/max as the running
    * value (null = no non-null input yet), sums as overflow-checked
    * longs (sumSeen distinguishes 0 from NULL-over-nothing). */
  private final class Acc {
    val counts = new Array[Long](n)
    val values = new Array[Any](n)
    val sums = new Array[Long](n)
    val sumSeen = new Array[Boolean](n)
  }

  /** SUM accumulation with Spark's exact overflow semantics: ANSI
    * throws (the task fails loudly, as the unpushed Aggregate would),
    * non-ANSI wraps. Sidecar sums are overflow-guarded exact, so only
    * the COMBINATION here can overflow — same as merging partials.
    * ANSI overflow goes through Spark's own `MathUtils.addExact` so the
    * user sees the SparkArithmeticException (ARITHMETIC_OVERFLOW error
    * class + the ansi-bypass suggestion) the unpushed Aggregate raises,
    * not a bare java.lang.ArithmeticException. */
  private def addSum(acc: Acc, i: Int, v: Long): Unit = {
    acc.sums(i) =
      if (spec.ansi)
        org.apache.spark.sql.catalyst.util.MathUtils.addExact(acc.sums(i), v)
      else acc.sums(i) + v
    acc.sumSeen(i) = true
  }
  // group key -> accumulators; insertion-ordered for deterministic
  // emit. Key elements are UTF8String or null (group cols are all
  // StringType: partition values and event names).
  private val groups =
    scala.collection.mutable.LinkedHashMap.empty[List[Any], Acc]
  private def accFor(key: List[Any]): Acc =
    groups.getOrElseUpdate(key, new Acc)
  // an UNgrouped aggregate emits exactly one row even over zero input
  if (g == 0) accFor(Nil)

  /** The one group key a metadata-answered file contributes to — its
    * partition values (only called when `metadataGroupable`). */
  private def sliceKey(slice: LwesInputPartition): List[Any] =
    spec.groupCols.iterator.map(c =>
      slice.partitionValues.get(c).map(UTF8String.fromString).orNull).toList

  /** Group key for one event name of a name-grouped file/frame:
    * partition values from the slice, `nm` in the name positions. */
  private def nameKey(slice: LwesInputPartition, nm: String): List[Any] =
    spec.groupCols.iterator.zipWithIndex.map { case (c, i) =>
      if (groupIsName(i)) UTF8String.fromString(nm)
      else slice.partitionValues.get(c).map(UTF8String.fromString).orNull
    }.toList

  private val metricAcc = scala.collection.mutable.Map.empty[String, Long]
    .withDefaultValue(0L)
  private var emit: Iterator[InternalRow] = _
  private var row: InternalRow = _

  // `own` is applied to every retained value: the stream fold reads
  // strings straight out of the batch reader's vectors, which the next
  // batch overwrites
  private def mergeMin(acc: Acc, i: Int, v: Any): Unit =
    if (v != null && (acc.values(i) == null ||
        comparators(i)(v, acc.values(i)) < 0))
      acc.values(i) = own(v)
  private def mergeMax(acc: Acc, i: Int, v: Any): Unit =
    if (v != null && (acc.values(i) == null ||
        comparators(i)(v, acc.values(i)) > 0))
      acc.values(i) = own(v)
  private def own(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case other => other
  }

  // A27 sidecar answering is sound only when the whole file is
  // admitted as-is: no record-level gate may drop or reshape records
  // the sidecar counted. Receipt windows and ESF defaults rule it out
  // scan-wide; an event-name filter is decided per file or frame by
  // `pure` (LwesStats.namePure). (Spark offers aggregates only with
  // zero data filters pushed; the attrFilters guard is belt-and-braces.)
  private val sidecarEligible = spec.ungated &&
    config.esfDefaults.isEmpty && config.attrFilters.isEmpty
  private val funcCols = spec.funcs.flatMap(_.col)
  private def pure(st: LwesStats.FileStats): Boolean =
    config.namePure(st, funcCols)
  // columns not backed by a wire attribute: the sidecar cannot speak
  // for them (partition values / the event-name column are never null)
  private val nonAttrCols: Set[String] =
    config.partitionCols.toSet ++ config.eventNameCol
  private val typeOf: String => Option[DataType] =
    c => config.schema.fields.find(_.name == c).map(_.dataType)

  /** Box a sidecar long bound as the read type's JVM value, so the
    * merged accumulator compares under the same comparator the stream
    * path uses. The type-fit rule in [[LwesStats.answerAggregates]]
    * guarantees the narrowing casts are value-preserving. */
  private def boxBound(dt: DataType, v: Long): Any = dt match {
    case ByteType => java.lang.Byte.valueOf(v.toByte)
    case ShortType => java.lang.Short.valueOf(v.toShort)
    case IntegerType => java.lang.Integer.valueOf(v.toInt)
    case LongType => java.lang.Long.valueOf(v)
    case other => throw new IllegalStateException(
      s"non-integral sidecar bound type $other") // answerAggregates filtered
  }

  private def boxDbl(dt: DataType, v: Double): Any = dt match {
    case FloatType => java.lang.Float.valueOf(v.toFloat)
    case DoubleType => java.lang.Double.valueOf(v)
    case other => throw new IllegalStateException(
      s"non-floating sidecar bound type $other") // answerAggregates filtered
  }

  /** Fold one metadata answer set (per file or per frame) into one
    * group's accumulators — ONE merge rule for the sidecar and
    * frame-stats paths, so their semantics cannot drift. */
  private def mergeAnswers(acc: Acc, answers: Seq[LwesStats.AggAnswer]): Unit = {
    var i = 0
    answers.foreach { a =>
      (a, funcs(i)) match {
        case (LwesStats.CountAnswer(c), _) => acc.counts(i) += c
        case (LwesStats.BoundAnswer(Some(v)), _: LwesAggFunc.MinCol) =>
          mergeMin(acc, i, boxBound(colType(i), v))
        case (LwesStats.BoundAnswer(Some(v)), _: LwesAggFunc.MaxCol) =>
          mergeMax(acc, i, boxBound(colType(i), v))
        case (LwesStats.BoundAnswer(None), _) => () // all-NULL file/frame
        case (LwesStats.SumAnswer(Some(v)), _: LwesAggFunc.SumCol) =>
          addSum(acc, i, v)
        case (LwesStats.SumAnswer(None), _) => () // all-NULL file/frame
        case (LwesStats.StrBoundAnswer(b), _: LwesAggFunc.MinCol) =>
          mergeMin(acc, i, UTF8String.fromBytes(b.clone()))
        case (LwesStats.StrBoundAnswer(b), _: LwesAggFunc.MaxCol) =>
          mergeMax(acc, i, UTF8String.fromBytes(b.clone()))
        // float/double bounds (r20): box to the column's own type —
        // toFloat is exact under answerAggregates' allFloat fit rule
        case (LwesStats.DblBoundAnswer(v), _: LwesAggFunc.MinCol) =>
          mergeMin(acc, i, boxDbl(colType(i), v))
        case (LwesStats.DblBoundAnswer(v), _: LwesAggFunc.MaxCol) =>
          mergeMax(acc, i, boxDbl(colType(i), v))
        case (a, f) => throw new IllegalStateException(s"$a for $f")
      }
      i += 1
    }
  }

  /** Metadata path: answer every pushed function from the file's
    * zone-map sidecar and/or exact `.t` receipt name tag without
    * opening the journal. Some(()) = answered. The sidecar GET is
    * skipped when the functions are receipt-bounds-only — except under
    * a grouping, where the record count decides whether the file's
    * group EXISTS (GROUP BY over zero rows emits zero groups, so an
    * empty journal must contribute nothing — not a null-bound group),
    * and under an event-name filter, where only the sidecar's name
    * counts can prove the file pure. */
  private def trySidecar(slice: LwesInputPartition): Option[Unit] = {
    if (!sidecarEligible || slice.range.nonEmpty) return None
    if (!metadataGroupable) return tryNameSidecar(slice)
    val tag = LwesDataSource.exactTagBounds(new Path(slice.path).getName)
    val needStats = g > 0 || config.eventNames.nonEmpty || spec.funcs.exists {
      case LwesAggFunc.MinCol(_, true) | LwesAggFunc.MaxCol(_, true) => false
      case _ => true
    }
    if (needStats && !slice.hasStats && !slice.hasManifest)
      return None // listing proved bare
    val st = if (needStats) {
      val s = LwesStats.read(new Path(slice.path), conf, slice.length,
        manifestHint = slice.hasManifest, sidecarHint = slice.hasStats)
      // unreadable/stale, or holding records the gate drops: stream
      if (!s.exists(pure)) return None
      s
    } else None
    if (g > 0 && st.exists(_.records == 0L)) {
      // answered: an empty file contributes no group
      metricAcc("filesAggFromStats") += 1
      return Some(())
    }
    LwesStats.answerAggregates(
        st, tag, spec.funcs, config.attrOf, typeOf, nonAttrCols,
        partitionValueOf(slice), config.eventNameCol.contains)
      .map { answers =>
        mergeAnswers(if (g == 0) accFor(Nil) else accFor(sliceKey(slice)),
          answers)
        metricAcc("filesAggFromStats") += 1
      }
  }

  /** r20: MIN/MAX/COUNT over a partition column answer from the file's
    * own path-derived value (see [[LwesStats.answerAggregates]]). */
  private def partitionValueOf(slice: LwesInputPartition)
      : String => Option[Option[String]] =
    c => if (config.partitionCols.contains(c))
      Some(slice.partitionValues.get(c)) else None

  /** A32 name-grouped sidecar path: a grouping that includes the
    * event-name column can still answer COUNT(*) per group from the
    * sidecar's per-name record counts — "events per type (per day)"
    * with zero opens. Exact only when every function is COUNT(*), the
    * name counts are complete, and they reconcile with the record
    * total (belt-and-braces against a hand-edited sidecar) — and,
    * under an event-name filter, the file is name-pure. */
  private def tryNameSidecar(slice: LwesInputPartition): Option[Unit] = {
    if (slice.range.nonEmpty || (!slice.hasStats && !slice.hasManifest))
      return None
    if (!funcs.forall(_ == LwesAggFunc.CountStar)) return None
    LwesStats.read(new Path(slice.path), conf, slice.length,
        manifestHint = slice.hasManifest, sidecarHint = slice.hasStats)
      .filter(st => st.namesComplete && st.names.values.sum == st.records &&
        pure(st))
      .map { st =>
        mergeNameCounts(slice, st.names)
        metricAcc("filesAggFromStats") += 1
      }
  }

  /** Fold one file's/frame's per-name record counts into the grouped
    * accumulators (all-COUNT(*) pushes only). */
  private def mergeNameCounts(slice: LwesInputPartition,
      names: Map[String, Long]): Unit =
    names.foreach { case (nm, cnt) =>
      if (cnt > 0) {
        val acc = accFor(nameKey(slice, nm))
        var i = 0
        while (i < n) { acc.counts(i) += cnt; i += 1 }
      }
    }

  /** A26×A31 frame-stats path: a RANGE slice of a fat `.zsj` (or a
    * whole split file whose sidecar could not answer) folds per-frame
    * GSJ2 zone-map blobs instead of decompressing frames — attribute
    * MIN/MAX/COUNT(col) included, the slice-grained generalization of
    * the sidecar path. All-or-nothing per slice: every overlapped
    * frame must carry a blob that parses, MATCHES its fixed entry
    * (record count, raw length), is name-pure under an event-name
    * filter ([[LwesStats.namePure]]), and answers every function, else the
    * whole slice streams (merging nothing first keeps the fallback
    * exact — no double counting). Receipt-backed MIN/MAX use the
    * frame's exact footer bounds: the same stamped-value trust the
    * whole-file `.t` tag carries, at frame grain. */
  private def tryFrameStats(slice: LwesInputPartition): Option[Unit] = {
    if (!sidecarEligible || !graft.lwes.SplitJournal.isSplit(slice.path))
      return None
    if (!metadataGroupable) return tryNameFrameStats(slice)
    framesOf(slice).flatMap { frames =>
      val inRange = framesIn(frames, slice.range)
      // answer EVERY frame first, merge after: a frame that cannot
      // answer falls the whole slice back to streaming with nothing
      // half-merged, and the merge itself sits behind no catch — an
      // invariant break there fails the task loudly instead of
      // double-counting through a stream fallback
      val perFrame = inRange.map { f =>
        if (f.stats == null) None
        else LwesStats.parse(f.stats)
          .filter(st => st.records == f.records && st.fileLen == f.rawLen &&
            pure(st))
          .flatMap { st =>
            val rb = if (f.minReceipt <= f.maxReceipt)
              Some((f.minReceipt, f.maxReceipt)) else None
            LwesStats.answerAggregates(Some(st), rb, spec.funcs,
              config.attrOf, typeOf, nonAttrCols,
              partitionValueOf(slice), // frames share the file's path
              config.eventNameCol.contains)
          }
      }
      if (perFrame.exists(_.isEmpty)) None
      else {
        // under a grouping, a zero-record frame must not CREATE the
        // file's group (GROUP BY over zero rows emits zero groups)
        lazy val acc = if (g == 0) accFor(Nil) else accFor(sliceKey(slice))
        perFrame.zip(inRange).foreach { case (a, f) =>
          if (g == 0 || f.records > 0) mergeAnswers(acc, a.get)
        }
        metricAcc("framesAggFromStats") += inRange.length.toLong
        Some(())
      }
    }
  }

  /** A32×A31 name-grouped frame path: GSJ2 frame blobs carry per-name
    * counts (r19), so a name-grouped all-COUNT(*) push over range
    * slices of a fat `.zsj` folds them per frame — "events per type"
    * over one year-long journal with zero decompression. Same
    * all-or-nothing, blob-integrity and name-purity rules as the typed
    * frame path, plus the per-name reconcile check. */
  private def tryNameFrameStats(slice: LwesInputPartition): Option[Unit] = {
    if (!funcs.forall(_ == LwesAggFunc.CountStar)) return None
    framesOf(slice).flatMap { frames =>
      val inRange = framesIn(frames, slice.range)
      val perFrame = inRange.map { f =>
        if (f.stats == null) None
        else LwesStats.parse(f.stats)
          .filter(st => st.records == f.records && st.fileLen == f.rawLen &&
            st.namesComplete && st.names.values.sum == st.records &&
            pure(st))
          .map(_.names)
      }
      if (perFrame.exists(_.isEmpty)) None
      else {
        perFrame.foreach(nm => mergeNameCounts(slice, nm.get))
        metricAcc("framesAggFromStats") += inRange.length.toLong
        Some(())
      }
    }
  }

  /** Per-reader footer memo: one partition's slices are often ranges
    * of the SAME fat file, so the footer tail read happens once per
    * distinct file, not once per slice. None (unreadable) is pinned —
    * a torn footer is a property of the immutable file. The memo also
    * bounds the IO inside one try so NO merge can sit behind a catch
    * (a swallowed mid-merge failure would re-stream already-merged
    * frames and double-count). */
  private val footerMemo = scala.collection.mutable.Map.empty[
    String, Option[Vector[graft.lwes.SplitJournal.FrameMeta]]]

  private def framesOf(slice: LwesInputPartition)
      : Option[Vector[graft.lwes.SplitJournal.FrameMeta]] =
    footerMemo.getOrElseUpdate(slice.path,
      try {
        val path = new Path(slice.path)
        val fs = path.getFileSystem(conf)
        val fileLen = slice.range match {
          case Some(_) => fs.getFileStatus(path).getLen // slice len ≠ file len
          case None => slice.length
        }
        val in = fs.open(path)
        try graft.lwes.SplitJournal.readFooter(in, fileLen)
        finally in.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          logWarning(s"failed to read split-journal footer of ${slice.path} " +
            s"for pushed aggregation (${e.getMessage}); streaming it")
          None
      })

  /** The frames a slice covers — ONE membership rule for the footer
    * and frame-stats paths. Frame runs from split planning tile exact
    * frame boundaries, so offset-containment is exact membership. */
  private def framesIn(frames: Vector[graft.lwes.SplitJournal.FrameMeta],
      range: Option[(Long, Long)]): Vector[graft.lwes.SplitJournal.FrameMeta] =
    range match {
      case Some((s, e)) =>
        frames.filter(f => f.offset >= s && f.offset + f.compressedLen <= e)
      case None => frames
    }

  /** Footer path: fold this slice's frame index entries into the
    * slice's one group (footerOnly implies every group column is a
    * partition column — per-file constant). Zero-record frames never
    * create a group. */
  private def foldFooter(slice: LwesInputPartition,
      inRange: Vector[graft.lwes.SplitJournal.FrameMeta]): Unit = {
    lazy val acc = if (g == 0) accFor(Nil) else accFor(sliceKey(slice))
    inRange.foreach { f =>
      if (g == 0 || f.records > 0) {
        var i = 0
        while (i < n) {
          funcs(i) match {
            case LwesAggFunc.CountStar => acc.counts(i) += f.records
            case LwesAggFunc.MinCol(_, true) =>
              if (f.minReceipt <= f.maxReceipt) mergeMin(acc, i, f.minReceipt)
            case LwesAggFunc.MaxCol(_, true) =>
              if (f.minReceipt <= f.maxReceipt) mergeMax(acc, i, f.maxReceipt)
            case other => throw new IllegalStateException(
              s"$other on the footer path") // footerOnly excluded these
          }
          i += 1
        }
      }
    }
  }

  /** Try the footer index; Some(()) = answered, None = stream instead. */
  private def tryFooter(slice: LwesInputPartition): Option[Unit] = {
    if (!spec.footerOnly || !graft.lwes.SplitJournal.isSplit(slice.path))
      return None
    framesOf(slice).map(frames =>
      foldFooter(slice, framesIn(frames, slice.range)))
  }

  private def streamFile(slice: LwesInputPartition): Unit = {
    val r = new LwesColumnarBatchReader(Seq(slice), config, conf)
    // per-file fast path: when every group column is a partition
    // column, the file's group key is one constant resolved on the
    // first record — no per-record key building. A name-col grouping
    // builds a key per record over the reused vectors, so a NEW group
    // stores a copy of its key
    var lazyAcc: Acc = if (g == 0) accFor(Nil) else null
    try {
      while (r.next()) r.get().rowIterator().forEachRemaining { rec =>
        val acc: Acc =
          if (g == 0) lazyAcc
          else if (metadataGroupable) {
            if (lazyAcc == null) lazyAcc = accFor(sliceKey(slice))
            lazyAcc
          } else {
            val key = groupIdx.iterator.map(ix =>
              if (rec.isNullAt(ix)) null else rec.getUTF8String(ix)).toList
            groups.getOrElse(key, accFor(key.map(own)))
          }
        var i = 0
        while (i < n) {
          funcs(i) match {
            case LwesAggFunc.CountStar => acc.counts(i) += 1
            case LwesAggFunc.CountCol(_) =>
              if (!rec.isNullAt(colIdx(i))) acc.counts(i) += 1
            case _: LwesAggFunc.SumCol =>
              if (!rec.isNullAt(colIdx(i)))
                addSum(acc, i, rec.get(colIdx(i), colType(i))
                  .asInstanceOf[Number].longValue())
            case _: LwesAggFunc.MinCol =>
              mergeMin(acc, i, if (rec.isNullAt(colIdx(i))) null
                else rec.get(colIdx(i), colType(i)))
            case _: LwesAggFunc.MaxCol =>
              mergeMax(acc, i, if (rec.isNullAt(colIdx(i))) null
                else rec.get(colIdx(i), colType(i)))
          }
          i += 1
        }
      }
      r.currentMetricsValues().foreach(m => metricAcc(m.name()) += m.value())
    } finally r.close()
  }

  override def next(): Boolean = {
    if (emit == null) {
      files.foreach { slice =>
        // footer first: on footerOnly scans both fast paths are exact and
        // zero-parse, and the footer needs no sidecar freshness check;
        // whole-file zone maps then catch what footers cannot (gzip/plain
        // journals, attribute MIN/MAX/COUNT); per-FRAME stats (A31) catch
        // what those cannot (range slices of fat `.zsj`, sidecar-less
        // split files) — everything else streams
        if (tryFooter(slice).isEmpty && trySidecar(slice).isEmpty &&
            tryFrameStats(slice).isEmpty)
          streamFile(slice)
      }
      emit = groups.iterator.map { case (key, acc) =>
        val out = new GenericInternalRow(g + n)
        var i = 0
        key.foreach { kv => out.update(i, kv); i += 1 }
        var j = 0
        while (j < n) {
          funcs(j) match {
            case LwesAggFunc.CountStar | _: LwesAggFunc.CountCol =>
              out.update(i, acc.counts(j))
            case _: LwesAggFunc.SumCol =>
              out.update(i, if (acc.sumSeen(j)) acc.sums(j) else null)
            case _ => out.update(i, acc.values(j))
          }
          i += 1; j += 1
        }
        out
      }
    }
    if (emit.hasNext) { row = emit.next(); true } else false
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()

  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    metricAcc.toArray.map { case (k, v) => LwesTaskMetric(k, v) }
}
