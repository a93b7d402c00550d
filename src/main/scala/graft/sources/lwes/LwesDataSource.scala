package graft.sources.lwes

import java.util

import graft.lwes.{EventStreamReader, Journal, JournalReader, LwesCodec, LwesEvent}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `spark.read.format("lwes")` — DataSource V2 for LWES journal files.
  *
  * Spark-native re-expression of the reference's Hive integration
  * (JournalInputFormat + EventSerDe). One input partition per file —
  * journals are gzip streams and not splittable, the same constraint the
  * reference enforced (JournalInputFormat.java:58-60); at scale,
  * parallelism comes from file count (hourly-rotated journals).
  *
  * Column pruning is pushed all the way into the byte-level parser
  * (projected parse), and the `eventName` filter rejects foreign events
  * from the name bytes alone — both are work the reference did per-row
  * on fully-parsed events.
  */
class LwesDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "lwes"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LwesDataSource.inferSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LwesTable(schema, new CaseInsensitiveStringMap(properties))
}

object LwesDataSource {
  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq
      .flatMap(_.stripPrefix("[").stripSuffix("]").split(',').map(_.trim.stripPrefix("\"").stripSuffix("\"")))
    (single ++ multi).filter(_.nonEmpty)
  }

  def hadoopConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** Shared `.zsj` split planning for the batch AND streaming planners
    * (one implementation so their semantics cannot drift — the r16
    * streaming port of the batch logic is exactly the divergence this
    * prevents recurring): drop frames whose EXACT footer receipt
    * bounds cannot overlap [timeLo, timeHi] (bounds-less `min > max`
    * frames always keep), then coalesce survivors into contiguous byte
    * runs of ≤ `target` compressed bytes, breaking on pruning gaps (a
    * run must be one seekable span — spanning a gap would decode
    * garbage bytes as frames). A31: frames can additionally drop by
    * their GSJ2 per-frame zone-map stats via `statsKeep` (null = keep
    * all); the two prune counts report separately so gates can
    * attribute each. Returns (runs as (start, end) byte ranges,
    * time-pruned frame count, stats-pruned frame count). */
  private[lwes] def planFrameRuns(frames: Seq[graft.lwes.SplitJournal.FrameMeta],
      timeLo: Long, timeHi: Long, target: Long,
      statsKeep: graft.lwes.SplitJournal.FrameMeta => Boolean = null)
      : (Seq[(Long, Long)], Int, Int) = {
    val timeKept =
      if (timeLo == Long.MinValue && timeHi == Long.MaxValue) frames
      else frames.filter(f => f.minReceipt > f.maxReceipt ||
        (f.maxReceipt >= timeLo && f.minReceipt <= timeHi))
    val kept =
      if (statsKeep == null) timeKept else timeKept.filter(statsKeep)
    val runs = mutable.ArrayBuffer.empty[(Long, Long)]
    var runStart = -1L
    var runEnd = -1L
    kept.foreach { f =>
      if (runStart < 0 || f.offset != runEnd ||
          (runEnd - runStart) + f.compressedLen > target) {
        if (runStart >= 0) runs += ((runStart, runEnd))
        runStart = f.offset
      }
      runEnd = f.offset + f.compressedLen
    }
    if (runStart >= 0) runs += ((runStart, runEnd))
    (runs.toSeq, frames.size - timeKept.size, timeKept.size - kept.size)
  }

  /** A31 frame-keep predicate from per-frame zone-map stats: a frame
    * drops only when its GSJ2 blob parses, its record count and raw
    * length MATCH the footer's fixed entry (a mismatched blob is
    * foreign/corrupt and keeps the frame), and [[LwesStats.canSkip]]
    * proves no record can satisfy the pushed conjunction. Stats-less
    * frames (GSJ1, hook disabled) always keep. */
  private[lwes] def frameStatsKeep(filters: Seq[Filter],
      attrOf: String => String, typeOf: String => Option[DataType])
      : graft.lwes.SplitJournal.FrameMeta => Boolean = { f =>
    f.stats == null || {
      LwesStats.parse(f.stats) match {
        case Some(st) if st.records == f.records && st.fileLen == f.rawLen =>
          !LwesStats.canSkip(st, filters, attrOf, typeOf)
        case _ => true
      }
    }
  }

  /** All journal files under the given roots (recursive, skips hidden).
    *
    * Files named by the streaming sink (`part-q<qid>-e<epoch>-*`) are
    * only visible once their epoch's `_epoch-q<qid>-e<epoch>.manifest`
    * commit marker exists — a tailing reader (or batch scan) therefore
    * never observes an uncommitted or partially-promoted epoch. A root
    * that IS a file (explicit path load) bypasses the gate: naming the
    * file is the user overriding it.
    *
    * On distributed stores (HDFS-like) the listing goes through
    * `listLocatedStatus`, so every returned file is a
    * `LocatedFileStatus` carrying its block hosts from the SAME listing
    * RPC — no per-file location call — and scan partitions expose
    * `preferredLocations()` for free. Local filesystems keep the plain
    * `listStatus` walk: locality is meaningless there, and
    * RawLocalFileSystem's located listing stats every entry eagerly
    * (shelling out for permissions), which races fatally with files
    * being rotated/compacted away mid-listing. */
  def listFiles(roots: Seq[String], conf: Configuration): Seq[FileStatus] =
    listFiles(roots, conf, null)

  /** As above; when `sidecarsSeen` is non-null, the walk also records
    * the full path of every hidden `.stats` zone-map sidecar it passes
    * — existence knowledge the listing produces for free, so planning
    * never issues a sidecar GET for a file the listing already proved
    * bare (a journal dir written by a foreign emitter or with
    * `writeStats=false` pays ZERO extra requests for `statsPrune`).
    * Explicit single-file roots don't walk their parent, so their
    * sidecars go unrecorded — absent-from-set is only meaningful for
    * walked files, which is why the flag rides the partition
    * ([[LwesInputPartition.hasStats]]) rather than being re-derived. */
  def listFiles(roots: Seq[String], conf: Configuration,
      sidecarsSeen: mutable.Set[String]): Seq[FileStatus] = {
    val out = mutable.ArrayBuffer[FileStatus]()
    val explicit = mutable.ArrayBuffer[FileStatus]()
    val committedEpochs = mutable.HashSet[String]()
    def isLocal(fs: org.apache.hadoop.fs.FileSystem): Boolean = fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
          _: org.apache.hadoop.fs.RawLocalFileSystem => true
      case _ => false
    }
    def entries(fs: org.apache.hadoop.fs.FileSystem, p: Path): Iterator[FileStatus] =
      if (isLocal(fs)) fs.listStatus(p).iterator
      else {
        val it = fs.listLocatedStatus(p)
        new Iterator[FileStatus] {
          def hasNext: Boolean = it.hasNext
          def next(): FileStatus = it.next()
        }
      }
    def walk(p: Path): Unit = {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return
      val st = fs.getFileStatus(p)
      if (st.isDirectory) {
        entries(fs, p).foreach { s =>
          val n = s.getPath.getName
          n match {
            case EpochManifestName(tok) if s.isFile => committedEpochs += tok
            case _ if !isHidden(n) =>
              if (s.isDirectory) walk(s.getPath)
              else out += s
            case _ =>
              // one set for both stats-metadata kinds: per-file
              // sidecars and the r19 per-directory manifest
              if (sidecarsSeen != null && s.isFile &&
                  (n.endsWith(".stats") || n == LwesStats.ManifestName))
                sidecarsSeen += s.getPath.toString
          }
        }
      } else if (!isHidden(p.getName)) out += st
    }
    roots.foreach { r =>
      val p = new Path(r)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p) && fs.getFileStatus(p).isFile) {
        if (!isHidden(p.getName)) {
          if (isLocal(fs)) explicit += fs.getFileStatus(p)
          else entries(fs, p).foreach(explicit += _)
          // explicit roots skip the directory walk, so probe their
          // sidecar (and directory manifest) here — one exists() per
          // explicit root keeps absence-from-set meaningful for every
          // listed file
          if (sidecarsSeen != null) {
            val fp = fs.getFileStatus(p).getPath
            val sc = LwesStats.sidecarPath(fp)
            if (fs.exists(sc)) sidecarsSeen += sc.toString
            val mf = LwesStats.manifestPath(fp.getParent)
            if (fs.exists(mf)) sidecarsSeen += mf.toString
          }
        }
      } else walk(p)
    }
    (out.filter { s =>
      s.getPath.getName match {
        case EpochFileName(tok) => committedEpochs.contains(tok)
        case _ => true
      }
    } ++ explicit).toSeq
  }

  /** Hosts holding a file's blocks, ranked by bytes covered (the
    * scheduler's first choice should be the host with most of a
    * sequentially-read, unsplittable journal). Empty when the
    * filesystem reports no locations. */
  def hostsOf(f: FileStatus): Seq[String] = f match {
    case lf: org.apache.hadoop.fs.LocatedFileStatus =>
      rankHosts(lf.getBlockLocations.iterator.flatMap(b =>
        b.getHosts.iterator.map(_ -> b.getLength)))
    case _ => Nil
  }

  /** Hosts holding bytes of the RANGE [start, end) of a file, ranked
    * by overlapping bytes — locality for split-journal frame runs,
    * which usually live inside one HDFS block each. Empty when the
    * filesystem reports no locations. */
  def hostsForRange(f: FileStatus, start: Long, end: Long): Seq[String] =
    f match {
      case lf: org.apache.hadoop.fs.LocatedFileStatus =>
        hostsForBlocks(lf.getBlockLocations.iterator, start, end)
      case _ => Nil
    }

  /** Range-host ranking from raw block locations — shared by the batch
    * planner's LocatedFileStatus path above and the STREAMING split
    * expansion (which re-fetches block locations once per fat file,
    * since admission-time FileStatus objects don't survive into the
    * micro-batch plan). */
  def hostsForBlocks(blocks: Iterator[org.apache.hadoop.fs.BlockLocation],
      start: Long, end: Long): Seq[String] =
    rankHosts(blocks.flatMap { b =>
      val o = math.max(start, b.getOffset)
      val e = math.min(end, b.getOffset + b.getLength)
      if (e > o) b.getHosts.iterator.map(_ -> (e - o)) else Iterator.empty
    })

  /** Hosts ranked by total bytes held (desc, name tiebreak) — shared by
    * the single-file and bin-level preferred-location derivations. */
  private[lwes] def rankHosts(weighted: Iterator[(String, Long)]): Seq[String] = {
    val byHost = mutable.LinkedHashMap.empty[String, Long]
    weighted.foreach { case (h, n) =>
      byHost.updateWith(h) {
        case Some(x) => Some(x + n)
        case None => Some(n)
      }
    }
    byHost.toSeq.sortBy { case (h, n) => (-n, h) }.map(_._1)
  }

  private val EpochManifestName = """_epoch-(q[0-9a-fA-F]+-e\d+)\.manifest""".r
  private val EpochFileName = """part-(q[0-9a-fA-F]+-e\d+)-\d+\.[^/]+""".r

  private def isHidden(name: String) =
    name.startsWith("_") || name.startsWith(".")

  // 1-18 digits: never overflows Long.parse, and a >18-digit run in a
  // foreign file name simply doesn't match instead of failing planning
  private val RangeTagName = """\.t(\d{1,18})-(\d{1,18})\.""".r.unanchored
  private val CaptureName = """^capture-(\d{1,18})-""".r.unanchored

  /** Conservative [lo, hi] bounds on any ReceiptTime inside a journal
    * file, from its name + modification time only (no open/decompress):
    *  - the writer's `.t<min>-<max>.` name tag is EXACT (computed from
    *    the records as they were written);
    *  - a `capture-<openMillis>-` journaller stamp lower-bounds every
    *    receipt (records are stamped at/after the file opens), and the
    *    modification time upper-bounds them (a journal's records are all
    *    received before the file closes) — both heuristics slackened by
    *    `slackMs` against clock skew between stamping host and
    *    filesystem;
    *  - any other name keeps only the mtime upper bound.
    * A tag-shaped substring with INVERTED bounds (min > max) is some
    * foreign naming convention, not our writer's tag — it degrades to
    * the mtime heuristic rather than pruning on garbage. See
    * [[LwesOptions.TimePrune]] for the layout contract. */
  def receiptTimeBounds(name: String, mtime: Long, slackMs: Long): (Long, Long) =
    exactTagBounds(name).getOrElse(name match {
      case CaptureName(open) => (open.toLong - slackMs, mtime + slackMs)
      case _ => (Long.MinValue, mtime + slackMs)
    })

  /** The writer's EXACT `.t<min>-<max>.` name-tag bounds, or None for
    * untagged files (whose heuristic stamp/mtime bounds can mis-prune a
    * layout that violates the mtime contract — callers distinguish the
    * two so heuristic prunes can be made loud or opted out of). */
  def exactTagBounds(name: String): Option[(Long, Long)] = name match {
    case RangeTagName(mn, mx) if mn.toLong <= mx.toLong =>
      Some((mn.toLong, mx.toLong))
    case _ => None
  }

  /** Whether a file's conservative ReceiptTime bounds can overlap the
    * query/admission window [lo, hi] — shared by batch planning and
    * streaming admission. `._2` flags a HEURISTIC (non-tag) decision so
    * callers can log prunes whose soundness rests on the mtime
    * contract. With `exactOnly`, untagged files are always kept. */
  private[lwes] def timeOverlap(name: String, mtime: Long, lo: Long,
      hi: Long, slackMs: Long, exactOnly: Boolean): (Boolean, Boolean) =
    exactTagBounds(name) match {
      case Some((flo, fhi)) => (fhi >= lo && flo <= hi, false)
      case None if exactOnly => (true, false)
      case None =>
        val (flo, fhi) = receiptTimeBounds(name, mtime, slackMs)
        (fhi >= lo && flo <= hi, true)
    }

  /** Path-derived `k=v` partition segments, relative to the given roots.
    * Only directory segments BELOW a root count — a root like
    * `/data/run=3/journals/` must not inject a spurious `run` column —
    * and the file name itself never does (it isn't a directory). */
  def partitionValues(file: Path, roots: Seq[String]): Map[String, String] = {
    val fp = file.toUri.getPath
    // a file not strictly below any root (e.g. the root IS the file, as
    // when loading explicit file paths) has no derivable partition
    // values — falling back to the absolute path would hallucinate
    // columns from k=v segments above the load point
    roots.iterator.map { r =>
      val rp = new Path(r).toUri.getPath.stripSuffix("/")
      if (fp.startsWith(rp + "/")) fp.substring(rp.length + 1) else null
    }.find(_ != null) match {
      case None => Map.empty
      case Some(rel) =>
        val segs = rel.split('/').dropRight(1) // drop the file name
        segs.iterator.filter(_.contains('=')).map { s =>
          val i = s.indexOf('='); s.substring(0, i) -> s.substring(i + 1)
        }.toMap
    }
  }

  /** Container auto-detection, mirroring the reference's introspection
    * (EventSerDe.java:36-38): a SEQ magic means a SequenceFile of
    * EventWritable; anything else is the datagram journal format.
    * Compression is by Hadoop codec detection on the extension
    * (.gz/.bz2/.deflate/...), like the reference
    * (JournalInputFormat.java:94-105). */
  /** Corruption signals (torn/garbled journal bytes, at any codec
    * layer) vs transport errors: the former end a file tolerantly, the
    * latter must stay fatal so Spark retries the read. */
  private[lwes] def isCorruption(e: Throwable): Boolean = e match {
    case _: java.io.EOFException | _: IllegalArgumentException |
        _: IndexOutOfBoundsException | _: java.nio.BufferUnderflowException |
        _: java.util.zip.ZipException | _: com.github.luben.zstd.ZstdIOException => true
    case _ => false
  }

  /** Open a journal file as a decompressed, buffered byte stream (codec
    * by extension; zstd via zstd-jni — Hadoop's ZStandardCodec needs
    * native libhadoop which plain Spark deployments don't carry). The
    * 3-byte pushback window lets [[sniffSeq]] detect the container.
    *
    * `range` (split journals only, [[graft.lwes.SplitJournal]]): seek to
    * the run's first frame and decode exactly `end - start` compressed
    * bytes — frames are independent zstd frames starting at record
    * boundaries, so the bounded multi-frame stream is a complete,
    * self-contained journal byte stream. */
  def openStream(pathStr: String, conf: Configuration,
      range: Option[(Long, Long)] = None): java.io.PushbackInputStream = {
    val p = new Path(pathStr)
    val fs = p.getFileSystem(conf)
    val raw = fs.open(p)
    val in0: java.io.InputStream = range match {
      case Some((start, end)) =>
        raw.seek(start)
        new com.github.luben.zstd.ZstdInputStream(
          new graft.lwes.BoundedInputStream(raw, end - start))
      case None =>
        if (graft.lwes.Journal.isZstd(p.getName))
          new com.github.luben.zstd.ZstdInputStream(raw)
        else {
          val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(p)
          if (codec != null) codec.createInputStream(raw) else raw
        }
    }
    new java.io.PushbackInputStream(
      new java.io.BufferedInputStream(in0, 1 << 16), 3)
  }

  /** True iff the stream starts with the SequenceFile magic (bytes are
    * pushed back either way). */
  def sniffSeq(in: java.io.PushbackInputStream): Boolean = {
    val magic = new Array[Byte](3)
    val got = in.readNBytes(magic, 0, 3)
    in.unread(magic, 0, got)
    got == 3 && magic.sameElements("SEQ".getBytes)
  }

  def openReader(pathStr: String, conf: Configuration,
      nameFilter: String => Boolean, wanted: String => Boolean,
      range: Option[(Long, Long)] = None): EventStreamReader = {
    val in = openStream(pathStr, conf, range)
    if (sniffSeq(in))
      new graft.lwes.SequenceJournalReader(in, nameFilter, wanted)
    else new JournalReader(in, nameFilter, wanted)
  }

  /** Sample journals → schema; or, with `.option("esf", path)`, derive
    * the schema from the ESF event template ([[graft.lwes.Esf]]) with
    * NO sampling pass — the template is authoritative, works on empty
    * directories, and is how real lwes deployments declare schemas
    * (the reference needed Hive DDL instead, README:41-59). Header
    * attrs are always present either way (the journal layer injects
    * them, DatagramPacketInputStream.java:75-78). */
  def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = hadoopConf()
    val roots = paths(options)
    val eventName = Option(options.get(LwesOptions.EventName))
    val (attrFor, eventFor) = LwesOptions.parseMapping(options.get(LwesOptions.Mapping))
    val u64Dec = "decimal".equalsIgnoreCase(options.getOrDefault(LwesOptions.Uint64As, "long"))
    val esfDb = Option(options.get(LwesOptions.Esf))
      .map(p => graft.lwes.Esf.load(p, conf))
    lazy val listed = listFiles(roots, conf)

    val fields: Seq[StructField] = esfDb match {
      case Some(db) => esfFields(db, eventName, attrFor, eventFor, u64Dec)
      case None =>
        val files = listed
        require(files.nonEmpty, s"no LWES journal files under ${roots.mkString(",")}")
        val maxEvents = options.getInt(LwesOptions.InferMaxEvents, 1000)
        val maxFiles = options.getInt(LwesOptions.InferMaxFiles, 8)

        val nameFilter: String => Boolean =
          if (eventName.isDefined) n => n == eventName.get
          else if (eventFor.nonEmpty) eventFor.values.toSet
          else null

        // attr -> widened type, preserving first-seen order
        val seen = mutable.LinkedHashMap[String, DataType]()
        var n = 0
        files.take(maxFiles).foreach { f =>
          if (n < maxEvents) {
            val r = openReader(f.getPath.toString, conf, nameFilter, null)
            try {
              val it = r.iterator
              while (it.hasNext && n < maxEvents) {
                val ev = it.next()
                ev.attrs.foreach { a =>
                  val t = LwesOptions.sparkTypeFor(a.token, u64Dec)
                  seen.updateWith(a.key) {
                    case Some(prev) => Some(LwesOptions.widen(prev, t))
                    case None => Some(t)
                  }
                }
                n += 1
              }
            } finally r.close()
          }
        }
        if (attrFor.nonEmpty) {
          // mapped columns only, named per mapping
          attrFor.toSeq.map { case (col, attr) =>
            StructField(col, seen.getOrElse(attr, StringType), nullable = true)
          }
        } else {
          seen.toSeq.map { case (k, t) => StructField(k, t, nullable = true) }
        }
    }

    // path-derived partition columns (A14); with an ESF template an
    // empty/absent directory is legal — then there are none to derive
    val pfile =
      if (esfDb.isDefined)
        try listed.headOption catch { case _: Exception => None }
      else listed.headOption
    val pcols = pfile.map(f =>
      partitionValues(f.getPath, roots).keys.toSeq.sorted).getOrElse(Nil)
      .filterNot(c => fields.exists(_.name == c))
      .map(c => StructField(c, StringType, nullable = true))

    // requested event-type column (must not duplicate an attribute OR a
    // partition column)
    val ncol = Option(options.get(LwesOptions.EventNameColumn)).toSeq
      .filterNot(c => fields.exists(_.name == c) || pcols.exists(_.name == c))
      .map(c => StructField(c, StringType, nullable = false))

    StructType(fields ++ pcols ++ ncol)
  }

  /** Template-derived fields: the requested event's declarations (meta
    * merged), a mapping's looked-up targets, or — with neither — the
    * widened union of every declared event, all in declaration order. */
  private def esfFields(db: graft.lwes.EsfTemplateDb,
      eventName: Option[String], attrFor: Map[String, String],
      eventFor: Map[String, String], u64Dec: Boolean): Seq[StructField] = {
    def attrsOf(event: String): Seq[graft.lwes.EsfAttr] =
      db.attrsFor(event).getOrElse(throw new IllegalArgumentException(
        s"esf: event '$event' is not declared in the template " +
          s"(declared events: ${db.eventNames.mkString(", ")})"))
    def typeOf(a: graft.lwes.EsfAttr): DataType =
      LwesOptions.sparkTypeFor(a.token, u64Dec)
    if (attrFor.nonEmpty)
      attrFor.toSeq.map { case (col, attr) =>
        val declared = eventFor.get(col).orElse(eventName) match {
          case Some(e) => attrsOf(e).find(_.name == attr)
          case None => db.eventNames.iterator
            .flatMap(e => attrsOf(e).find(_.name == attr)).nextOption()
        }
        val a = declared.getOrElse(throw new IllegalArgumentException(
          s"esf: mapped attribute '$attr' (column '$col') is not declared " +
            s"in the template"))
        StructField(col, typeOf(a), nullable = true)
      }
    else eventName match {
      case Some(e) =>
        attrsOf(e).map(a => StructField(a.name, typeOf(a), nullable = true))
      case None =>
        val seen = mutable.LinkedHashMap[String, DataType]()
        db.eventNames.foreach(e => attrsOf(e).foreach { a =>
          val t = typeOf(a)
          seen.updateWith(a.name) {
            case Some(prev) => Some(LwesOptions.widen(prev, t))
            case None => Some(t)
          }
        })
        seen.toSeq.map { case (k, t) => StructField(k, t, nullable = true) }
    }
  }
}

class LwesTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String =
    s"lwes:${LwesDataSource.paths(options).mkString(",")}"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new LwesScanBuilder(schema, new CaseInsensitiveStringMap(
      (options.asScala ++ opts.asScala).asJava))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LwesWriteBuilder(info, options)
}

class LwesScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownAggregates with SupportsPushDownTopN {

  private var readSchema: StructType = fullSchema
  private var partitionFilters: Array[Filter] = Array.empty
  private var pushedLimit: Int = -1
  private var aggSpec: Option[LwesAggSpec] = None
  private var topNSpec: Option[LwesTopN] = None

  /** A28: `ORDER BY <receipt col> [DESC] LIMIT k` with nothing between
    * the Sort and the relation (Spark only offers top-N then — every
    * residual Filter blocks the pattern, and this source keeps ALL data
    * filters residual) prunes provably-outranked journals at plan time
    * via name tags + sidecar counts ([[LwesScan]]). PARTIAL push: Spark
    * keeps the global Sort+Limit, so a conservative prune is the only
    * effect; the per-partition row limit is NOT applied (journal order
    * is not receipt order, so an early stop could drop top-k rows). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    if (!options.getBoolean(LwesOptions.TopNPrune, true)) return false
    if (limit <= 0 || orders.isEmpty || aggSpec.nonEmpty) return false
    // secondary sort keys are tie-breaks: they permute rows WITHIN a
    // leading-key tie, so the leading key's k-th-best bound (and the
    // file prune it justifies) is unchanged — accept any suffix
    val col = orders(0).expression() match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }
    val desc = orders(0).direction() ==
      org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING
    val nullsLast = orders(0).nullOrdering() ==
      org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_LAST
    col match {
      // an unmapped receipt column is stamped on every record; one
      // mapped to `E::ReceiptTime` reads NULL on every other admitted
      // event, so it needs NULLS LAST like the attribute columns below
      // (a pruned file's NULL rows then rank after the k bound rows)
      case Some(n) if orders.length == 1 && receiptCols.contains(n) &&
          fullSchema.fields.exists(f => f.name == n && f.dataType == LongType) &&
          (nullsLast || !LwesOptions.parseMapping(options.get(LwesOptions.Mapping))
            ._2.contains(n)) =>
        topNSpec = Some(LwesTopN(desc, limit))
        true
      // r19: integral data-attribute columns bound from sidecar zone
      // maps — NULLS LAST required (k non-null bound rows outrank
      // every NULL), header/partition/name columns excluded (their
      // null semantics differ from "attr absent"). r20: StringType
      // joins via the exact sidecar string bounds (byte order =
      // UTF8String's comparison order) and Float/DoubleType via the
      // kind-'d' bounds (Spark's floating total order — NaN greatest,
      // ±0.0 equal — which is also its SORT order for these types).
      // r20: PARTITION columns — every file carries ONE path-derived
      // value, so the listing itself is the zone map: the k-bound
      // comes from (value, sidecar record count) units and the prune
      // is exact per file (no bound-straddling rows exist). "ORDER BY
      // day DESC LIMIT k" over a year opens only the newest day.
      case Some(n) if nullsLast && samplePartitionCols.contains(n) &&
          fullSchema.fields.exists(f =>
            f.name == n && f.dataType == StringType) =>
        topNSpec = Some(LwesTopN(desc, limit, col = Some(n)))
        true
      case Some(n) if nullsLast && !samplePartitionCols.contains(n) &&
          !Option(options.get(LwesOptions.EventNameColumn)).contains(n) &&
          !receiptCols.contains(n) &&
          !graft.lwes.LwesEvent.HeaderAttrs.contains(
            LwesOptions.parseMapping(options.get(LwesOptions.Mapping))
              ._1.getOrElse(n, n)) &&
          fullSchema.fields.exists(f => f.name == n && (f.dataType match {
            case ShortType | IntegerType | LongType | StringType |
                FloatType | DoubleType => true
            case _ => false
          })) =>
        topNSpec = Some(LwesTopN(desc, limit, col = Some(n)))
        true
      case _ => false
    }
  }

  override def isPartiallyPushed(): Boolean = true

  /** LIMIT n stops each partition's parse after n events (the global
    * limit still applies on top). Safe with the eventName filter
    * because the reader counts emitted rows, not scanned records. */
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = limit
    false // partial: Spark keeps the global Limit node
  }

  override def pruneColumns(required: StructType): Unit = if (aggSpec.isEmpty) {
    // keep full-schema field order & types; required may reorder.
    // Skipped entirely once an aggregation pushed: the scan's output IS
    // the aggregate schema, and Spark's own pruning rule defers to it.
    val keep = required.fieldNames.toSet
    val pruned = StructType(fullSchema.fields.filter(f => keep.contains(f.name)))
    readSchema = if (pruned.isEmpty) StructType(fullSchema.fields.take(1)) else pruned
  }

  /** A26: COUNT(*)/COUNT(col)/MIN/MAX push into the scan as a PARTIAL
    * aggregation — each partition emits partial rows and Spark plans
    * the final merge, so the push is correct under any partitioning.
    * Spark only offers an aggregation when every data filter was FULLY
    * pushed; this source keeps every attribute filter residual, so
    * aggregates arrive here exactly for unfiltered scans — the "how
    * many events / what time span" journal queries that otherwise
    * materialize billions of rows to count them.
    *
    * A32 (r19) extends the push to GROUPED aggregations whose every
    * group-by column is per-file-constant (a path-derived partition
    * column) or the event-name column — the `GROUP BY dt` /
    * `GROUP BY event` warehouse shapes. The scan emits one partial row
    * per group per partition (group columns first, Spark's layout for
    * a grouped pushdown); partition-col groupings keep all three
    * metadata fast paths, so "events per day over a year of journals"
    * reads sidecars and footers, not frames. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (!options.getBoolean(LwesOptions.AggPushdown, true)) return false
    admitAggregation(agg) match {
      case Some(spec) =>
        // completeOk was decided by the supportCompletePushDown call
        // Spark makes immediately before this one (same Aggregation)
        aggSpec = Some(spec.copy(complete = completeOk))
        true
      case None => false
    }
  }

  /** Shape admission shared by [[pushAggregation]] and
    * [[supportCompletePushDown]]: translate the offered aggregation
    * into an [[LwesAggSpec]] when every function and group column is
    * one this source can fold exactly; None declines (Spark keeps its
    * own Aggregate above an ordinary scan). Pure — sets no state. */
  private def admitAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[LwesAggSpec] = {
    if (agg.aggregateExpressions.isEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }
    val fieldByName = fullSchema.fields.map(f => f.name -> f).toMap
    def orderable(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | BooleanType | StringType | DateType |
          TimestampType => true
      case _: DecimalType => true
      case _ => false
    }
    // MIN/MAX over a LongType receipt-time column is footer-answerable
    // (exact per-frame bounds); any other column streams.
    def receiptLong(c: String): Boolean =
      receiptCols.contains(c) && fieldByName(c).dataType == LongType
    import org.apache.spark.sql.connector.expressions.aggregate.{
      Count, CountStar, Max, Min, Sum}
    // SUM pushes only for integral columns (exact long arithmetic;
    // Spark's sum of short/int/long is LongType) — float/double/decimal
    // sums are accumulation-order-dependent, so they stay unpushed
    def integralSum(c: String): Boolean = fieldByName.get(c).exists(f =>
      f.dataType == ShortType || f.dataType == IntegerType ||
        f.dataType == LongType)
    val funcs: Array[Option[(LwesAggFunc, StructField)]] =
      agg.aggregateExpressions.map {
        case _: CountStar => Some((LwesAggFunc.CountStar,
          StructField("count_star", LongType, nullable = false)))
        case c: Count if !c.isDistinct =>
          colOf(c.column).filter(fieldByName.contains).map(n =>
            (LwesAggFunc.CountCol(n),
              StructField(s"count_$n", LongType, nullable = false)))
        case s: Sum if !s.isDistinct =>
          colOf(s.column).filter(integralSum).map(n =>
            (LwesAggFunc.SumCol(n),
              StructField(s"sum_$n", LongType, nullable = true)))
        case m: Min =>
          colOf(m.column).filter(n => fieldByName.contains(n) &&
            orderable(fieldByName(n).dataType)).map(n =>
            (LwesAggFunc.MinCol(n, receiptLong(n)),
              StructField(s"min_$n", fieldByName(n).dataType)))
        case m: Max =>
          colOf(m.column).filter(n => fieldByName.contains(n) &&
            orderable(fieldByName(n).dataType)).map(n =>
            (LwesAggFunc.MaxCol(n, receiptLong(n)),
              StructField(s"max_$n", fieldByName(n).dataType)))
        case _ => None // SUM/AVG/distinct/UDAF: decline, Spark keeps the plan
      }
    if (funcs.exists(_.isEmpty)) return None
    val picked = funcs.map(_.get)
    // A32 group-by admission: single-name refs to partition columns or
    // the event-name column (both StringType by construction — path
    // values and names have no other type). Anything else declines and
    // Spark keeps the whole aggregate above an ordinary scan.
    val ncolOpt = Option(options.get(LwesOptions.EventNameColumn))
    val groupNames: Array[Option[String]] = agg.groupByExpressions.map(colOf)
    if (groupNames.exists(_.isEmpty)) return None
    val gcols = groupNames.map(_.get)
    if (gcols.distinct.length != gcols.length) return None
    if (!gcols.forall(c => fieldByName.get(c).exists(_.dataType == StringType) &&
        (samplePartitionCols.contains(c) || ncolOpt.contains(c)))) return None
    val groupFields = gcols.map(c => fieldByName(c))
    // footerOnly is finalized in build() (an event-name filter and the
    // explicit receipt-time admission window clear it); a name-col
    // grouping clears it — footers know record counts, not name splits
    Some(LwesAggSpec(picked.map(_._1).toSeq,
      StructType(groupFields ++ picked.map(_._2)),
      footerOnly = picked.forall(_._1.footerable) &&
        gcols.forall(samplePartitionCols.contains),
      groupCols = gcols.toSeq,
      ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled))
  }

  @volatile private var completeOk = false

  /** r20 COMPLETE aggregate pushdown: when a driver-side probe proves
    * EVERY listed file answers every pushed function from metadata
    * alone (sidecar/manifest zone maps + exact `.t` receipt tags, the
    * same per-file rules [[LwesAggPartitionReader.trySidecar]]
    * enforces), report complete support — Spark then plans NO final
    * merge and the scan emits ONE metadata-only partition whose rows
    * ARE the answer: a count/min/max/sum dashboard over a year of
    * journals becomes a sidecar wave with zero exchanges. Declines
    * (falling back to the r19 partial push, which is never wrong, only
    * one exchange heavier) when an ESF template or receipt window gates
    * records, any file lacks readable covering stats, any file's stats
    * fail [[LwesStats.namePure]] under an event-name filter, or the
    * manifest-less candidate count exceeds the driver GET-wave cap.
    * The probe's stats reads are one GET per directory for
    * manifest-covered files — the same IO the plan itself will do. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    completeOk = false
    if (!options.getBoolean(LwesOptions.AggPushdown, true)) return false
    if (!options.getBoolean(LwesOptions.CompleteAggPushdown, true)) return false
    val spec = admitAggregation(agg).getOrElse(return false)
    // option-level record gates: any of these forces streamed folds
    // somewhere, and a streamed fold in ONE partition is a serialized
    // full scan — exactly what complete mode must never risk
    val (attrFor, eventFor) = LwesOptions.parseMapping(options.get(LwesOptions.Mapping))
    val eventNames: Set[String] = Option(options.get(LwesOptions.EventName))
      .map(Set(_)).getOrElse(eventFor.values.toSet)
    if (Option(options.get(LwesOptions.Esf)).nonEmpty) return false
    if (Option(options.get(LwesOptions.ReceiptTimeMin)).nonEmpty ||
        Option(options.get(LwesOptions.ReceiptTimeMax)).nonEmpty) return false
    if (attrFilters.nonEmpty || timeLo != Long.MinValue ||
        timeHi != Long.MaxValue) return false
    val conf = LwesDataSource.hadoopConf()
    val (files, seen) = builderListing
    val withMeta = files.map { f =>
      (f,
        seen.contains(LwesStats.sidecarPath(f.getPath).toString),
        seen.contains(LwesStats.manifestPath(f.getPath.getParent).toString))
    }
    // a bare file can never metadata-answer; cap the per-file GET wave
    // on manifest-LESS candidates (manifest-covered stats are one read
    // per directory, the A33 contract)
    if (withMeta.exists { case (_, st, mf) => !st && !mf }) return false
    if (withMeta.count { case (_, _, mf) => !mf } >
        options.getLong(LwesOptions.StatsPruneMaxFiles, 8192L)) return false
    val typeOf: String => Option[DataType] =
      c => fullSchema.fields.find(_.name == c).map(_.dataType)
    val attrOf: String => String = c => attrFor.getOrElse(c, c)
    val nonAttrCols: Set[String] = samplePartitionCols ++
      Option(options.get(LwesOptions.EventNameColumn)).toSet
    val nameGrouped = Option(options.get(LwesOptions.EventNameColumn))
      .exists(spec.groupCols.contains)
    val colEvents = spec.funcs.flatMap(_.col).flatMap(eventFor.get)
    val ok = withMeta.forall { case (f, hasStats, hasManifest) =>
      val st = LwesStats.read(f.getPath, conf, f.getLen,
        manifestHint = hasManifest, sidecarHint = hasStats)
      // unreadable/stale, or records the event-name gate would drop:
      // that file would stream
      if (!st.exists(LwesStats.namePure(_, eventNames, colEvents))) false
      else if (nameGrouped)
        // name-grouped: only all-COUNT(*) answers, from per-name counts
        spec.funcs.forall(_ == LwesAggFunc.CountStar) &&
          st.exists(x => x.namesComplete && x.names.values.sum == x.records)
      else if (spec.groupCols.nonEmpty && st.exists(_.records == 0L))
        true // empty file contributes no group — answered
      else {
        val tag = LwesDataSource.exactTagBounds(f.getPath.getName)
        val pvals = LwesDataSource.partitionValues(f.getPath, roots)
        LwesStats.answerAggregates(st, tag, spec.funcs, attrOf, typeOf,
          nonAttrCols,
          c => if (samplePartitionCols.contains(c)) Some(pvals.get(c))
               else None,
          c => Option(options.get(LwesOptions.EventNameColumn))
            .contains(c)).isDefined
      }
    }
    completeOk = ok
    ok
  }

  // one listing per scan build — at journal scale (10^4-10^6 files)
  // re-listing per pushdown call would dominate planning time
  private lazy val roots: Seq[String] = LwesDataSource.paths(options)
  /** ONE listing snapshot per scan build: the complete-agg probe, the
    * partition-column sample, and the scan's partition planning (via
    * [[LwesScan]]'s `preListing`) all need the file walk — repeating
    * it per consumer multiplied planning wall by 3-4x at 10^4+ files
    * (measured: each walk ~0.45 s at 20k local files; on an object
    * store each is a full LIST wave). Snapshot semantics are what
    * planning gives anyway — every new query builds a new builder. */
  private lazy val builderListing: (Seq[FileStatus], Set[String]) = {
    val conf = LwesDataSource.hadoopConf()
    val seen = mutable.HashSet[String]()
    (LwesDataSource.listFiles(roots, conf, seen), seen.toSet)
  }
  private lazy val samplePartitionCols: Set[String] = {
    builderListing._1.headOption
      .map(f => LwesDataSource.partitionValues(f.getPath, roots).keySet)
      .getOrElse(Set.empty)
  }

  // columns that read the record header's receipt time (post-mapping) —
  // range filters on them prune whole files by name-tag/mtime bounds
  private lazy val receiptCols: Set[String] = {
    val (attrFor, _) = LwesOptions.parseMapping(options.get(LwesOptions.Mapping))
    fullSchema.fieldNames
      .filter(c => attrFor.getOrElse(c, c) == graft.lwes.LwesEvent.ReceiptTime)
      .toSet
  }
  // "true" (exact tags + stamp/mtime heuristics), "exact" (tag-named
  // files only — heuristics off), "false" (no pruning)
  private lazy val pruneMode: String =
    Option(options.get(LwesOptions.TimePrune)).map(_.toLowerCase)
      .getOrElse("true") match {
        case "false" => "off"
        case "exact" => "exact"
        case "true" => "all"
        case other =>
          // Reject rather than default: a typo like "exat" silently
          // selecting the heuristic mode is exactly the silent-row-loss
          // hazard the "exact" mode exists to prevent.
          throw new IllegalArgumentException(
            s"${LwesOptions.TimePrune}=$other is not one of true/false/exact")
      }
  private lazy val pruneEnabled: Boolean = pruneMode != "off"
  private var timeLo: Long = Long.MinValue
  private var timeHi: Long = Long.MaxValue
  private var timeFilters: Array[Filter] = Array.empty

  /** (floor, ceil) of a pushed comparison literal as saturating Longs —
    * exact for integral types; floating/decimal literals (a filter on a
    * receipt column the user declared as double) round OUTWARD so the
    * derived file bounds stay sound. None for non-numeric literals and
    * NaN (a NaN comparison matches no rows; nothing to prune on). */
  private def floorCeil(v: Any): Option[(Long, Long)] = v match {
    case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
        _: java.lang.Long) =>
      val x = n.asInstanceOf[Number].longValue()
      Some((x, x))
    case n: java.lang.Float => floorCeilDouble(n.doubleValue())
    case n: java.lang.Double => floorCeilDouble(n.doubleValue())
    case d: java.math.BigDecimal =>
      def clamp(b: java.math.BigInteger): Long =
        if (b.bitLength() >= 64) (if (b.signum() >= 0) Long.MaxValue else Long.MinValue)
        else b.longValue()
      Some((clamp(d.setScale(0, java.math.RoundingMode.FLOOR).toBigInteger),
        clamp(d.setScale(0, java.math.RoundingMode.CEILING).toBigInteger)))
    case d: scala.math.BigDecimal => floorCeil(d.underlying)
    case _ => None
  }
  private def floorCeilDouble(d: Double): Option[(Long, Long)] =
    if (d.isNaN) None
    else Some((math.floor(d).toLong, math.ceil(d).toLong)) // toLong saturates

  /** Partition-column equality filters and receipt-time range filters
    * prune whole files; everything is also left for Spark to re-apply
    * (false positives cost nothing — only the file-level BOUNDS must be
    * sound, see [[LwesDataSource.receiptTimeBounds]]). Receipt times
    * are integral millis, so for any real threshold v:
    * `x > v ⟺ x >= floor(v)+1`, `x >= v ⟺ x >= ceil(v)`,
    * `x < v ⟺ x <= ceil(v)-1`, `x <= v ⟺ x <= floor(v)`. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    partitionFilters = filters.filter {
      case EqualTo(a, _) => samplePartitionCols.contains(a)
      case In(a, _) => samplePartitionCols.contains(a)
      case _ => false
    }
    val tf = mutable.ArrayBuffer[Filter]()
    def inc(x: Long) = if (x == Long.MaxValue) x else x + 1
    def dec(x: Long) = if (x == Long.MinValue) x else x - 1
    if (pruneEnabled) filters.foreach {
      case f @ GreaterThan(a, v) if receiptCols(a) =>
        floorCeil(v).foreach { case (fl, _) =>
          timeLo = math.max(timeLo, inc(fl)); tf += f }
      case f @ GreaterThanOrEqual(a, v) if receiptCols(a) =>
        floorCeil(v).foreach { case (_, ce) =>
          timeLo = math.max(timeLo, ce); tf += f }
      case f @ LessThan(a, v) if receiptCols(a) =>
        floorCeil(v).foreach { case (_, ce) =>
          timeHi = math.min(timeHi, dec(ce)); tf += f }
      case f @ LessThanOrEqual(a, v) if receiptCols(a) =>
        floorCeil(v).foreach { case (fl, _) =>
          timeHi = math.min(timeHi, fl); tf += f }
      case f @ EqualTo(a, v) if receiptCols(a) =>
        floorCeil(v).foreach { case (fl, ce) =>
          // a fractional literal can equal no integral value: lo > hi,
          // every file prunes — and no row could match anyway
          timeLo = math.max(timeLo, ce)
          timeHi = math.min(timeHi, fl); tf += f }
      case _ =>
    }
    timeFilters = tf.toArray
    // attribute-value pushdown (A4's name-skip generalized to values):
    // integral comparisons and string equality on data-attribute
    // columns short-circuit the PARSE of non-matching records. All
    // filters remain residual — in-parse evaluation may defer odd
    // shapes (float-from-string conversions, non-ASCII text), so Spark
    // re-applies everything and false KEEPS cost nothing.
    val attrCols: Set[String] = {
      val ncol = Option(options.get(LwesOptions.EventNameColumn)).toSet
      fullSchema.fieldNames.toSet -- samplePartitionCols -- ncol
    }
    def colType(a: String): Option[DataType] =
      fullSchema.fields.find(_.name == a).map(_.dataType)
    def integralCol(a: String): Boolean = colType(a).exists {
      case ShortType | IntegerType | LongType => true
      case _ => false
    }
    def integralLit(v: Any): Boolean = v match {
      case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
          _: java.lang.Long => true
      case _ => false
    }
    def strCol(a: String): Boolean = colType(a).contains(StringType)
    // r20: float/double comparisons push too — they feed the zone-map
    // file prune (kind-'d' sidecars), runtime skipping, frame pruning,
    // and the in-parse short-circuit; like everything here they stay
    // residual, so deferred shapes (float-from-string journals) only
    // cost a pass-through
    def dblCol(a: String): Boolean = colType(a).exists {
      case FloatType | DoubleType => true
      case _ => false
    }
    def dblLit(v: Any): Boolean = v match {
      case _: java.lang.Float | _: java.lang.Double => true
      case _ => false
    }
    attrFilters = filters.filter {
      case EqualTo(a, v: String) => attrCols(a) && strCol(a) && v != null
      case EqualTo(a, v) => attrCols(a) &&
        ((integralCol(a) && integralLit(v)) || (dblCol(a) && dblLit(v)))
      // r16 pushdown breadth: string ranges, LIKE-prefix, and IN — the
      // filters a `props LIKE 'x%'`-era journal query actually pushes
      case GreaterThan(a, v: String) => attrCols(a) && strCol(a) && v != null
      case GreaterThanOrEqual(a, v: String) => attrCols(a) && strCol(a) && v != null
      case LessThan(a, v: String) => attrCols(a) && strCol(a) && v != null
      case LessThanOrEqual(a, v: String) => attrCols(a) && strCol(a) && v != null
      case GreaterThan(a, v) => attrCols(a) &&
        ((integralCol(a) && integralLit(v)) || (dblCol(a) && dblLit(v)))
      case GreaterThanOrEqual(a, v) => attrCols(a) &&
        ((integralCol(a) && integralLit(v)) || (dblCol(a) && dblLit(v)))
      case LessThan(a, v) => attrCols(a) &&
        ((integralCol(a) && integralLit(v)) || (dblCol(a) && dblLit(v)))
      case LessThanOrEqual(a, v) => attrCols(a) &&
        ((integralCol(a) && integralLit(v)) || (dblCol(a) && dblLit(v)))
      case org.apache.spark.sql.sources.StringStartsWith(a, v) =>
        attrCols(a) && strCol(a) && v != null
      // r18 breadth: LIKE '%x' / LIKE '%x%' push too — suffix/substring
      // probes over raw wire bytes, same deferral rules as the others
      case org.apache.spark.sql.sources.StringEndsWith(a, v) =>
        attrCols(a) && strCol(a) && v != null
      case org.apache.spark.sql.sources.StringContains(a, v) =>
        attrCols(a) && strCol(a) && v != null
      case In(a, vs) =>
        attrCols(a) && vs != null && vs.nonEmpty && (
          (strCol(a) && vs.forall(_.isInstanceOf[String])) ||
          (integralCol(a) && vs.forall(integralLit)) ||
          (dblCol(a) && vs.forall(dblLit)))
      case org.apache.spark.sql.sources.IsNotNull(a) =>
        attrCols(a) && colType(a).isDefined
      case _ => false
    }
    filters // all residual
  }
  private var attrFilters: Array[Filter] = Array.empty
  override def pushedFilters(): Array[Filter] =
    partitionFilters ++ timeFilters ++ attrFilters

  override def build(): Scan = {
    val eventName = Option(options.get(LwesOptions.EventName))
    val (attrFor, eventFor) = LwesOptions.parseMapping(options.get(LwesOptions.Mapping))
    val eventNames: Set[String] =
      eventName.map(Set(_)).getOrElse(eventFor.values.toSet)
    // with an aggregation pushed, the partitions' readers materialize
    // only the aggregated columns (possibly none — pure COUNT(*) walks
    // record boundaries without decoding a single attribute)
    val dataSchema = aggSpec match {
      case Some(spec) =>
        // group columns ride along so the streaming fold can read each
        // record's group key (partition cols / event name) off the row
        val refd = spec.funcs.flatMap(_.col).toSet ++ spec.groupCols
        StructType(fullSchema.fields.filter(f => refd.contains(f.name)))
      case None => readSchema
    }
    // a wire array is one-dimensional: an element type the decoder
    // cannot fill (nested arrays, maps, structs, tinyint) would read as
    // arrays of NULLs, so the scan refuses it by name instead
    dataSchema.fields.foreach { f =>
      f.dataType match {
        case ArrayType(et, _) if !LwesColumnarBatchReader.isArrayElementType(et) =>
          throw new org.apache.spark.sql.AnalysisException(
            "UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE", Map("format" -> "lwes",
              "columnName" -> f.name, "columnType" -> f.dataType.sql))
        case _ =>
      }
    }
    val pcols = samplePartitionCols.toSeq.filter(dataSchema.fieldNames.contains)
    val ncol = Option(options.get(LwesOptions.EventNameColumn))
      .filter(dataSchema.fieldNames.contains)
    // explicit admission window (streaming backfills; also honored by
    // batch scans) tightens whatever the pushed filters derived
    val optLo =
      if (pruneEnabled)
        Option(options.get(LwesOptions.ReceiptTimeMin)).map(_.toLong)
          .getOrElse(Long.MinValue)
      else Long.MinValue
    val optHi =
      if (pruneEnabled)
        Option(options.get(LwesOptions.ReceiptTimeMax)).map(_.toLong)
          .getOrElse(Long.MaxValue)
      else Long.MaxValue
    // the whole-file fast paths (footer index, zone-map sidecars)
    // survive only when no receipt-time admission window gates
    // records. An event-name filter keeps the zone-map paths, which
    // answer only name-pure files (LwesStats.namePure), but clears the
    // footer path: a footer knows record counts, not names
    val aggUngated =
      optLo == Long.MinValue && optHi == Long.MaxValue &&
      timeLo == Long.MinValue && timeHi == Long.MaxValue
    val finalAgg = aggSpec.map(s => s.copy(
      footerOnly = s.footerOnly && aggUngated && eventNames.isEmpty,
      ungated = aggUngated,
      // belt-and-braces: complete mode is only ever claimed after the
      // probe, which already declines every gated shape — but a gate
      // appearing here anyway must fall back to the partial push, not
      // serialize a streamed fold through one task
      complete = s.complete && aggUngated &&
        Option(options.get(LwesOptions.Esf)).isEmpty))
    // A28 soundness gate: the count-based bound needs "every counted
    // record is a result row". Spark's pushdown already guarantees no
    // data filter sits above the scan; admission windows and ESF
    // templates are option-level gates Spark cannot see, so they clear
    // the spec here (ESF read defaults don't drop rows, but template
    // validation paths are conservatively excluded with them). An
    // event-name filter keeps the spec: the bound counts only files
    // whose stats pass LwesStats.namePure, and pruning by it is sound
    // for any file (a pruned file holds only outranked rows)
    val finalTopN = topNSpec.filter(_ => aggSpec.isEmpty &&
      optLo == Long.MinValue && optHi == Long.MaxValue &&
      timeLo == Long.MinValue && timeHi == Long.MaxValue &&
      Option(options.get(LwesOptions.Esf)).isEmpty)
    new LwesScan(finalAgg.map(_.schema).getOrElse(readSchema),
      LwesReadConfig(dataSchema, attrFor, eventFor, eventNames, pcols,
        // a pushed top-N must NOT early-stop partitions (journal order
        // is not receipt order), so it clears the row limit too
        if (finalAgg.isDefined || finalTopN.isDefined) -1 else pushedLimit, ncol,
        attrFilters = attrFilters.toSeq
          .filter(f => f.references.forall(dataSchema.fieldNames.contains)),
        esfDefaults = Option(options.get(LwesOptions.Esf)).map { p =>
          val db = graft.lwes.Esf.load(p, LwesDataSource.hadoopConf())
          db.eventNames
            // only events this scan can admit: the columnar fill scans
            // the default-event list per record, so a wide template
            // must not tax an eventName-filtered read
            .filter(e => eventNames.isEmpty || eventNames(e))
            .map(e => e -> db.attrsFor(e).get
              .flatMap(a => graft.lwes.Esf.typedDefault(a).map(a.name -> _))
              .toMap).filter(_._2.nonEmpty).toMap
        }.getOrElse(Map.empty)),
      roots, partitionFilters,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      timeLo = math.max(timeLo, optLo), // unbounded unless pruneEnabled
      timeHi = math.min(timeHi, optHi),
      timeSlackMs = options.getLong(LwesOptions.TimePruneSlackMs, 3600000L),
      timeExactOnly = pruneMode == "exact",
      splitTargetBytes =
        Option(options.get(LwesOptions.SplitTargetBytes)).map(_.toLong),
      aggSpec = finalAgg,
      statsPrune = options.getBoolean(LwesOptions.StatsPrune, true),
      statsPruneMaxFiles =
        options.getLong(LwesOptions.StatsPruneMaxFiles, 8192L),
      topN = finalTopN,
      spjPartitioning =
        Option(options.get(LwesOptions.SpjPartitioning))
          .map(_.toLowerCase).getOrElse("auto") match {
          case m @ ("auto" | "true" | "false") => m
          case other => throw new IllegalArgumentException(
            s"${LwesOptions.SpjPartitioning}=$other is not one of auto/true/false")
        },
      // batch partition planning reuses the builder's walk (the
      // streaming path lists per micro-batch on its own and never
      // touches this snapshot)
      preListing = builderListing)
  }
}

final case class LwesInputPartition(path: String, length: Long,
    partitionValues: Map[String, String], locations: Seq[String] = Nil,
    range: Option[(Long, Long)] = None,
    // the batch listing saw a `.stats` zone-map sidecar beside this
    // file (A27): false skips every sidecar GET for it, on the driver
    // and in executor skims. Defaults TRUE (= unknown; one GET decides)
    // for paths that never flow through the batch listing — streaming
    // admission and tools construct partitions directly
    hasStats: Boolean = true,
    // the batch listing saw a per-directory stats manifest in this
    // file's directory (r19): stats reads consult it first — one read
    // per directory per JVM instead of one sidecar GET per file
    hasManifest: Boolean = false)
    extends InputPartition {
  /** Block hosts from the listing (HDFS/YARN locality; empty on
    * local/object stores, where Spark schedules anywhere). */
  override def preferredLocations(): Array[String] = locations.toArray
}

/** A bin of small files scheduled as ONE task (batch scans only; the
  * streaming source keeps per-file partitions since admission control
  * is per-file). Journals are unsplittable, so files are atomic — the
  * bin bounds task COUNT, never splits a file. */
final case class LwesFilesPartition(files: Seq[LwesInputPartition])
    extends InputPartition {
  /** Hosts ranked by total bytes they hold across the bin's files —
    * bins are packed per primary host, so the top entry usually serves
    * the whole task locally. */
  override def preferredLocations(): Array[String] =
    LwesDataSource.rankHosts(files.iterator.flatMap(f =>
      f.locations.iterator.map(_ -> f.length))).toArray
}

/** A29: key-carrying wrapper for storage-partitioned joins — wraps a
  * planned partition (single slice or packed bin, always files of ONE
  * partition-value tuple) with its path-derived key values so Spark's
  * KeyGroupedPartitioning machinery can co-locate two journal tables
  * without a shuffle. Key columns are path partition columns, which
  * read back as strings, so the key row is UTF8String-typed to match.
  * Reader factories unwrap via
  * [[LwesScan.partitionFiles]]. */
final case class LwesKeyedPartition(inner: InputPartition,
    keyVals: Seq[String]) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
  override def partitionKey(): InternalRow =
    new GenericInternalRow(keyVals.map(v =>
      if (v == null) null else UTF8String.fromString(v): Any).toArray)
}

/** DSv2 custom scan metrics, surfaced per-scan in the SQL UI. At
  * journal scale these are the difference between diagnosing "slow
  * scan" and "mis-mapped eventName": a scan that parses millions of
  * events but emits none has a name-filter problem, and a nonzero
  * torn-file count explains a row-count delta without a replay. */
private[lwes] class EventsParsedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "eventsParsed"
  override def description(): String = "events parsed into rows"
}
private[lwes] class EventsSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "eventsSkipped"
  override def description(): String = "events rejected by the name filter"
}
private[lwes] class TornFilesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "tornFiles"
  override def description(): String = "journals cut short by corruption"
}
private[lwes] class CorruptRecordsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "corruptRecords"
  override def description(): String = "records skipped by frame resync"
}
private[lwes] class FilesPrunedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesPruned"
  override def description(): String =
    "journals skipped by ReceiptTime-range bounds"
}
private[lwes] class FramesPrunedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "framesPruned"
  override def description(): String =
    "split-journal frames skipped by exact ReceiptTime bounds"
}
private[lwes] class RowsFilteredMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "rowsFiltered"
  override def description(): String =
    "records dropped by pushed attribute predicates during parse"
}
private[lwes] class StatsPrunedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesPrunedByStats"
  override def description(): String =
    "journals skipped by attribute zone-map sidecars"
}
private[lwes] class FrameStatsPrunedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "framesPrunedByStats"
  override def description(): String =
    "split-journal frames skipped by per-frame zone-map stats"
}
private[lwes] class StatsAggFilesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesAggFromStats"
  override def description(): String =
    "journals whose pushed aggregation was answered from zone-map sidecars"
}
private[lwes] class StatsAggFramesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "framesAggFromStats"
  override def description(): String =
    "split-journal frames whose pushed aggregation was answered from " +
      "per-frame zone-map stats"
}
private[lwes] class TopNPrunedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesPrunedByTopN"
  override def description(): String =
    "journals skipped by the pushed top-N receipt bound"
}
private[lwes] final case class LwesTaskMetric(metricName: String, v: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

class LwesScan(schema: StructType, val config: LwesReadConfig,
    roots: Seq[String], partitionFilters: Array[Filter],
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    timeLo: Long = Long.MinValue, timeHi: Long = Long.MaxValue,
    timeSlackMs: Long = 3600000L, timeExactOnly: Boolean = false,
    splitTargetBytes: Option[Long] = None,
    aggSpec: Option[LwesAggSpec] = None,
    statsPrune: Boolean = true,
    statsPruneMaxFiles: Long = 8192L,
    topN: Option[LwesTopN] = None,
    spjPartitioning: String = "auto",
    preListing: (Seq[FileStatus], Set[String]) = null)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with org.apache.spark.internal.Logging {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"LwesScan(events=${config.eventNames.mkString("|")}, " +
      s"cols=${schema.fieldNames.mkString(",")}" +
      (if (config.attrFilters.isEmpty) ""
       else s", pushed=[${config.attrFilters.mkString(", ")}]") +
      aggSpec.map(s => s", agg=[${s.funcs.mkString(", ")}]" +
        (if (s.groupCols.nonEmpty)
          s" groupBy=[${s.groupCols.mkString(",")}]" else "") +
        (if (s.footerOnly) " footerOnly" else "") +
        (if (s.complete) " complete" else "")).getOrElse("") +
      topN.map(t =>
        s", topN=[${t.col.getOrElse("receipt")} " +
          s"${if (t.desc) "desc" else "asc"} k=${t.k}]")
        .getOrElse("") + ")"
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new EventsParsedMetric, new EventsSkippedMetric,
      new TornFilesMetric, new CorruptRecordsMetric, new FilesPrunedMetric,
      new FramesPrunedMetric, new RowsFilteredMetric, new StatsPrunedMetric,
      new FrameStatsPrunedMetric, new StatsAggFilesMetric,
      new StatsAggFramesMetric, new TopNPrunedMetric)

  /** Driver-side planning metrics: files/split-frames the ReceiptTime
    * bounds skipped (visible in the SQL UI next to the task metrics). */
  override def reportDriverMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    plannedPartitions // ensure planning ran
    Array(LwesTaskMetric("filesPruned", prunedFileCount),
      LwesTaskMetric("framesPruned", prunedFrames),
      LwesTaskMetric("filesPrunedByStats", statsPruned),
      LwesTaskMetric("framesPrunedByStats", statsPrunedFrames),
      LwesTaskMetric("filesPrunedByTopN", topNPruned))
  }

  @volatile private var prunedFiles = 0L
  /** Files skipped by ReceiptTime-range pruning (test/diagnostic
    * accessor; same number as the driver metric). Forces planning so
    * the reading never depends on whether the plan executed yet. */
  def prunedFileCount: Long = { plannedPartitions; prunedFiles }

  /** Split-journal frames skipped by exact ReceiptTime bounds (same
    * number as the framesPruned driver metric). */
  def prunedFrameCount: Long = { plannedPartitions; prunedFrames }

  @volatile private var statsPrunedFrames = 0L

  /** Frames dropped by per-frame zone-map stats (A31) — same number as
    * the `framesPrunedByStats` driver metric. Counted separately from
    * the receipt-window prune so gates can attribute each. */
  def statsPrunedFrameCount: Long = { plannedPartitions; statsPrunedFrames }

  @volatile private var partitionPruned = 0L

  /** Files dropped by partition-value filters — static pushed equality
    * /IN filters plus RUNTIME (DPP) filters delivered via [[filter]].
    * With no static partition predicate in the query, a nonzero value
    * proves dynamic partition pruning reached the journal scan. */
  def partitionPrunedFileCount: Long = { plannedPartitions; partitionPruned }

  /** Runtime (dynamic partition) pruning: joins on a path-derived
    * partition column hand the build side's values back to the scan
    * AFTER planning, and whole files drop out — the DSv2 counterpart
    * of parquet DPP, and at journal scale (10^4-10^6 files) the
    * difference between scanning one dt= hour and scanning a year. */
  private var runtimeFilters: Array[Filter] = Array.empty

  /** A30 runtime zone-map skipping: runtime join filters on NON-partition
    * columns, applied to per-file sidecar min/max (plan-time prune or
    * executor skim) and to the in-parse row filter. Sound on both counts:
    * the filters originate from an equi-join's build side, so a record
    * failing them cannot survive the join — dropping its file (when the
    * sidecar proves NO record can match) or the record itself only
    * removes work the join would discard. */
  @volatile private var runtimeStatsFilters: Array[Filter] = Array.empty

  /** Columns whose runtime filters the zone-map machinery can act on:
    * data attributes of a sidecar value class (integral/string), not
    * path-derived, not header-backed, not the event-name column. A29
    * aggregate-pushdown scans sit directly above their aggregate — no
    * join below it can exist — so they advertise none. */
  private def statsFilterable(c: String): Boolean =
    aggSpec.isEmpty && statsPrune && config.esfDefaults.isEmpty &&
      !config.partitionCols.contains(c) && !config.eventNameCol.contains(c) &&
      !LwesEvent.HeaderAttrs.contains(config.attrOf(c)) &&
      (config.schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(ByteType | ShortType | IntegerType | LongType |
                  StringType) => true
        case _ => false
      })

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (config.partitionCols ++
      config.schema.fieldNames.filter(statsFilterable)).distinct
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters.filter {
      case EqualTo(a, _) => config.partitionCols.contains(a)
      case In(a, _) => config.partitionCols.contains(a)
      case _ => false
    }
    // join-key shapes only (DPP builds IN/= from the build side's
    // values); other shapes never arrive but would also never be wrong
    // to ignore — runtime filters are advisory, the join re-checks
    runtimeStatsFilters = filters.filter {
      case EqualTo(a, _) => statsFilterable(a)
      case In(a, _) => statsFilterable(a)
      case _ => false
    }
    cachedPartitions = null // re-plan with the runtime filters applied
  }

  // one listing per scan, shared by partition planning and every stats
  // request (Catalyst may ask for stats repeatedly while planning; at
  // journal scale each recursive listing is thousands of LIST calls).
  // Invalidated only when runtime filters arrive.
  @volatile private var cachedPartitions: Array[InputPartition] = _

  /** ONE listing per SCAN, not per plan: a runtime-filter replan
    * reuses the first plan's (files, sidecar names) — cheaper (DPP
    * always replans, and a recursive listing is thousands of LIST
    * calls at journal scale) and REQUIRED under storage-partitioned
    * joins, where a raced concurrent append must not surface a
    * partition value the first plan never reported (Spark rejects new
    * values after runtime filtering). */
  // seeded from the builder's snapshot when one exists: pushdown
  // probes, the partition-column sample, and partition planning then
  // share ONE file walk per query (at 10^4-10^6 files the walk
  // dominates planning wall, and planning semantics are snapshot
  // semantics either way)
  @volatile private var cachedListing: (Seq[FileStatus], Set[String]) =
    preListing

  private def plannedPartitions: Array[InputPartition] = {
    var p = cachedPartitions
    if (p == null) {
      val conf = LwesDataSource.hadoopConf()
      val (listed, sidecarsSeen) = {
        var l = cachedListing
        if (l == null) {
          val seen = scala.collection.mutable.HashSet[String]()
          l = (LwesDataSource.listFiles(roots, conf, seen), seen.toSet)
          cachedListing = l
        }
        l
      }
      // ReceiptTime-range pruning: drop whole files whose name-tag/mtime
      // bounds cannot overlap the pushed [timeLo, timeHi] window —
      // BEFORE any open/decompress. Exact-tagged files prune exactly;
      // untagged ones keep a slackened mtime upper bound only.
      val files =
        if (timeLo == Long.MinValue && timeHi == Long.MaxValue) listed
        else listed.filter { f =>
          val (keep, heuristic) = LwesDataSource.timeOverlap(
            f.getPath.getName, f.getModificationTime, timeLo, timeHi,
            timeSlackMs, timeExactOnly)
          // heuristic (stamp/mtime) prunes are sound only under the
          // documented "records precede mtime" contract — say which
          // files they dropped so a violated contract is loud, not a
          // silent row loss (timePrune=exact opts the heuristics out)
          if (!keep && heuristic) logWarning(
            s"pruning untagged journal ${f.getPath} by HEURISTIC " +
              s"ReceiptTime bounds (capture stamp/mtime + ${timeSlackMs}ms " +
              s"slack) vs query window [$timeLo, $timeHi]; set " +
              "timePrune=exact if this layout's modification times do " +
              "not upper-bound its receipt times")
          keep
        }
      prunedFiles = (listed.size - files.size).toLong
      val allSlices = files.iterator.map { f =>
        (f, LwesInputPartition(f.getPath.toString, f.getLen,
          LwesDataSource.partitionValues(f.getPath, roots),
          LwesDataSource.hostsOf(f),
          // existence knowledge from the listing: a file the listing
          // proved bare never costs a sidecar GET, on the driver or in
          // a task skim
          hasStats = sidecarsSeen.contains(
            LwesStats.sidecarPath(f.getPath).toString),
          hasManifest = sidecarsSeen.contains(
            LwesStats.manifestPath(f.getPath.getParent).toString)))
      }.toArray
      val partSlices = allSlices.filter { case (_, p) =>
        (partitionFilters ++ runtimeFilters)
          .forall(matches(p.partitionValues, _))
      }
      partitionPruned = (allSlices.length - partSlices.length).toLong
      // A27 zone-map pruning: pushed attribute predicates vs per-file
      // sidecar stats, AFTER the free prunes (names, partitions) so
      // the sidecar read wave only covers surviving candidates. ESF
      // read defaults disable it (a default can satisfy what the wire
      // values cannot); a missing/stale sidecar keeps its file.
      // static pushed predicates plus A30 runtime join filters — one
      // prune, one soundness rule (canSkip: skip only when the sidecar
      // PROVES no record can match)
      val pruneFilters = config.attrFilters ++ runtimeStatsFilters
      val statsEligible = statsPrune && pruneFilters.nonEmpty &&
        config.esfDefaults.isEmpty
      execStatsPrune = false // fresh per (re-)plan: a DPP replan may
      // shrink the candidate set back under the cap, and a sticky flag
      // would make every task re-issue sidecar GETs the driver already
      // answered
      // only files the listing saw a sidecar BESIDE (or a directory
      // manifest covering them) can prune — the wave, the cap, and the
      // GETs all scope to them, so a bare directory (foreign emitter,
      // writeStats=false) pays nothing
      lazy val statsCandidates =
        partSlices.filter(p => p._2.hasStats || p._2.hasManifest)
      // the placement cap bounds the DRIVER-side GET wave, so it counts
      // only candidates whose stats need a per-file GET — a
      // manifest-covered candidate costs one read per DIRECTORY (r19),
      // so a million manifest-covered journals still prune at plan time
      lazy val uncoveredCandidates =
        statsCandidates.count(p => !p._2.hasManifest)
      val fileSlices = if (!statsEligible || statsCandidates.isEmpty) partSlices
      else if (uncoveredCandidates > statsPruneMaxFiles) {
        // past the cap the driver-side GET wave would dominate planning
        // (10^5 tiny reads through one node): defer to the executors,
        // where each task skims its own files' sidecars before opening
        // them — same files skipped, the wave distributed
        execStatsPrune = true
        logInfo(s"zone-map pruning deferred to executors: " +
          s"$uncoveredCandidates manifest-less sidecar candidates exceed " +
          s"${LwesOptions.StatsPruneMaxFiles}=$statsPruneMaxFiles")
        partSlices
      } else {
        prefetchStats(statsCandidates, conf)
        val typeOf = (c: String) =>
          config.schema.fields.find(_.name == c).map(_.dataType)
        partSlices.filter { case (f, s) =>
          (!s.hasStats && !s.hasManifest) ||
          (statsCache.getOrDefault(statsKey(f, s), None) match {
            case Some(st) =>
              !LwesStats.canSkip(st, pruneFilters, config.attrOf, typeOf)
            case None => true
          })
        }
      }
      statsPruned = (partSlices.length - fileSlices.length).toLong
      // A28 top-N pruning: lower-bound the k-th result value from the
      // newest exact-tagged files' sidecar record counts, then drop
      // every file whose exact tag range sits strictly outside the
      // bound — "latest k events" over a deep journal directory opens
      // the newest few files. EXACT tags only, on both sides: the
      // bound rows must provably exist and a pruned file must provably
      // hold nothing but outranked rows (no mtime heuristics here —
      // unlike timePrune there is no user-declared layout contract to
      // lean on). Untagged/bare files are always kept.
      topNPruned = 0L // fresh per (re-)plan, like the other counters
      var topNLo = Long.MinValue
      var topNHi = Long.MaxValue
      // r19 attribute top-N: the k-th-best bound also materializes as
      // a synthesized predicate that rides the A31 frame prune and the
      // task-side row filter/skim (sound to apply EXACTLY — see
      // attrTopNPrune)
      var topNAttrFilter: Option[Filter] = None
      val topNSlices = topN match {
        // r19: attribute top-N — bound and prune from sidecar zone maps
        case Some(spec) if fileSlices.nonEmpty && spec.col.isDefined =>
          if (statsPrune) {
            val (kept, flt) = attrTopNPrune(fileSlices, spec, conf)
            topNAttrFilter = flt
            kept
          } else fileSlices
        case Some(spec) if fileSlices.nonEmpty =>
          topNBound(fileSlices, spec, conf) match {
            case Some(b) =>
              // the bound doubles as a receipt window for frame-level
              // pruning inside oversized split journals (footer bounds
              // are exact, so the same argument holds per frame)
              if (spec.desc) topNLo = b else topNHi = b
              // ONE definition of "exact-tag overlap keep": the same
              // helper the receipt-window prune uses, in exact-only
              // mode (untagged files kept, no mtime heuristics)
              val kept = fileSlices.filter { case (f, s) =>
                LwesDataSource.timeOverlap(new Path(s.path).getName,
                  f.getModificationTime, topNLo, topNHi,
                  timeSlackMs, exactOnly = true)._1
              }
              topNPruned = (fileSlices.length - kept.length).toLong
              kept
            case None => fileSlices
          }
        case _ => fileSlices
      }
      val (maxBytes, openCost, parallelism) =
        try {
          val sc = org.apache.spark.sql.SparkSession.active.sparkContext
          val sqlConf = org.apache.spark.sql.internal.SQLConf.get
          (sqlConf.filesMaxPartitionBytes, sqlConf.filesOpenCostInBytes,
            sc.defaultParallelism)
        } catch { case scala.util.control.NonFatal(_) => (128L << 20, 4L << 20, 8) }
      // Split-journal expansion: a `.zsj` file larger than the split
      // target becomes one slice per frame run (footer-indexed,
      // [[graft.lwes.SplitJournal]]) — ONE fat journal plans N
      // independent tasks, removing the reference's parallelism =
      // file-count ceiling (JournalInputFormat.java:58-60). Footers are
      // read only for oversized .zsj files, so small-file planning cost
      // is unchanged. Frame runs are atomic units for the bin packer,
      // which reuses the SAME maxSplit the expansion targeted (one
      // formula, computed here) so the two stages cannot drift.
      val defaultSplit = LwesScan.maxSplitBytes(
        topNSlices.map(_._2.length), maxBytes, openCost, parallelism)
      val target = math.max(splitTargetBytes.getOrElse(defaultSplit), 1L)
      prunedFrames = 0L // fresh count per (re-)plan: runtime filters replan
      statsPrunedFrames = 0L
      val oversized = topNSlices.filter { case (_, s) =>
        graft.lwes.SplitJournal.isSplit(s.path) && s.length > target }
      prefetchFooters(oversized, conf)
      val (frameLo, frameHi) =
        (math.max(timeLo, topNLo), math.min(timeHi, topNHi))
      // A31: prune frames INSIDE oversized `.zsj` files by their GSJ2
      // per-frame zone-map stats — same filters (static + runtime) and
      // eligibility guards as the file-level prune, zero extra IO (the
      // footer was being read for split planning anyway)
      val frameFilters = pruneFilters ++ topNAttrFilter
      val frameKeep =
        if (frameFilters.isEmpty || !statsPrune || config.esfDefaults.nonEmpty)
          null
        else LwesDataSource.frameStatsKeep(frameFilters, config.attrOf,
          c => config.schema.fields.find(_.name == c).map(_.dataType))
      // r20 complete-mode planning: every file is metadata-answerable
      // (the push-time probe proved it), so split expansion buys
      // nothing — whole files, ONE partition, whose per-group rows are
      // the final answer (complete pushdown plans no merge, so a
      // multi-partition layout would emit duplicate groups)
      val aggComplete = aggSpec.exists(_.complete)
      val slices = topNSlices.flatMap { case (f, s) =>
        if (!aggComplete && graft.lwes.SplitJournal.isSplit(s.path) &&
            s.length > target)
          expandSplit(f, s, target, conf, frameLo, frameHi, frameKeep)
        else Seq(s)
      }
      // A29 key-grouped planning: with storage-partitioned joins
      // active, bins pack WITHIN one partition-value tuple (never
      // across — a task must hold exactly one key) and each planned
      // partition carries its key row. Groups sort by key for a
      // deterministic plan; Spark aligns the two join sides by VALUE.
      plannedSpj = spjActive && aggSpec.isEmpty && slices.nonEmpty
      p = if (aggComplete)
        // exactly one partition, even over zero files: an ungrouped
        // complete aggregate must still emit its single count-0 row
        Array[InputPartition](LwesFilesPartition(slices.toSeq))
      else if (plannedSpj) {
        val keyCols = spjKeyCols
        slices.groupBy(s => keyCols.map(c => s.partitionValues.getOrElse(c, null)))
          .toArray
          .sortBy(_._1.map(String.valueOf).mkString("\u0000"))
          .flatMap { case (kv, group) =>
            LwesScan.packPartitions(group,
              math.min(maxBytes, target), openCost, parallelism)
              .map(ip => LwesKeyedPartition(ip, kv))
          }
      } else LwesScan.packPartitions(slices,
        math.min(maxBytes, target), openCost, parallelism)
      // publish this (re-)plan's truth to any already-created reader
      // factory BEFORE the partitions become visible (A30)
      runtimeState.execStatsPrune = execStatsPrune
      runtimeState.extraFilters = runtimeStatsFilters.toSeq ++ topNAttrFilter
      cachedPartitions = p
    }
    p
  }

  /** Shared with the reader factory; see [[LwesScanRuntimeState]]. */
  private val runtimeState = new LwesScanRuntimeState

  @volatile private var plannedSpj = false

  private def spjKeyCols: Seq[String] = config.partitionCols.sorted

  /** A29: whether this plan reports/packs key-grouped partitions.
    * "auto" defers to Spark's own SPJ master switch so the report and
    * the engine's expectations can never disagree; "true" forces the
    * key-grouped layout (Spark ignores the report while the switch is
    * off — only the packing shape changes); partition-less layouts and
    * pushed-aggregate scans never key-group. */
  private def spjActive: Boolean =
    config.partitionCols.nonEmpty && (spjPartitioning match {
      case "false" => false
      case "true" => true
      case _ =>
        try org.apache.spark.sql.internal.SQLConf.get.getConfString(
          "spark.sql.sources.v2.bucketing.enabled", "false") == "true"
        catch { case scala.util.control.NonFatal(_) => false }
    })

  /** Reported to Spark's storage-partitioned-join planner: identity
    * transforms over the path partition columns when key-grouped
    * planning ran, else unknown. Two journal tables with the same
    * partition layout then sort-merge join — and aggregate on the
    * key — with ZERO exchanges (gate `lwes_spj_join`). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val parts = plannedPartitions
    if (plannedSpj)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        spjKeyCols.map(c => org.apache.spark.sql.connector.expressions
          .Expressions.identity(c)).toArray[
          org.apache.spark.sql.connector.expressions.Expression],
        parts.length)
    else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(parts.length)
  }

  @volatile private var prunedFrames = 0L
  @volatile private var statsPruned = 0L
  @volatile private var execStatsPrune = false

  /** Files dropped by attribute zone-map sidecars (A27) — same number
    * as the `filesPrunedByStats` driver metric. Nonzero proves the drop
    * happened at PLAN time from sidecar stats alone, since the residual
    * Filter above the scan cannot remove files. */
  def statsPrunedFileCount: Long = { plannedPartitions; statsPruned }

  @volatile private var topNPruned = 0L

  /** Files dropped by the pushed top-N receipt bound (A28) — same
    * number as the `filesPrunedByTopN` driver metric. Nonzero proves
    * the drop happened at PLAN time from name tags + sidecar counts
    * alone (the global Sort+Limit above the scan keeps rows, never
    * files). */
  def topNPrunedFileCount: Long = { plannedPartitions; topNPruned }

  /** A28 attribute top-N (r19): bound the k-th best value of an
    * integral data-attribute column from sidecar zone maps, then drop
    * files that provably hold only outranked rows. Every sidecar entry
    * guarantees `count` non-null rows at-or-better-than its weak bound
    * (min for DESC, max for ASC); consuming units best-first until the
    * counts reach k yields a bound B with ≥ k rows at-or-better — so a
    * file whose best possible value (max for DESC / min for ASC) is
    * strictly outside B, or whose COMPLETE sidecar lacks the attribute
    * (all rows NULL, and the push required NULLS LAST), holds nothing
    * the global Sort+Limit can keep. Integral type-fit rule throughout
    * (narrowing reads could reorder around bounds); files without
    * readable stats contribute no units and are never pruned; past the
    * `statsPruneMaxFiles` cap of stats-covered candidates the prune is
    * skipped wholesale (unlike filters there is no sound per-task skim
    * — the BOUND needs a global view). */
  private def attrTopNPrune(
      slices: Array[(FileStatus, LwesInputPartition)],
      spec: LwesTopN, conf: Configuration)
      : (Array[(FileStatus, LwesInputPartition)], Option[Filter]) = {
    val c = spec.col.get
    val attr = config.attrOf(c)
    val dt = config.schema.fields.find(_.name == c).map(_.dataType)
      .getOrElse(return (slices, None))
    if (config.partitionCols.contains(c))
      return attrTopNPrunePcol(slices, spec, conf)
    if (dt == StringType) return attrTopNPruneStr(slices, spec, conf, attr)
    if (dt == FloatType || dt == DoubleType)
      return attrTopNPruneDbl(slices, spec, conf, attr, dt)
    val cands = slices.filter(p => p._2.hasStats || p._2.hasManifest)
    // the cap bounds the DRIVER-side per-file GET wave, so (like the
    // filter prune's uncoveredCandidates) it counts only candidates
    // whose stats need their own GET — manifest-covered files cost one
    // read per DIRECTORY, so a million manifest-covered journals still
    // bound-and-prune at plan time
    if (cands.isEmpty ||
        cands.count(!_._2.hasManifest) > statsPruneMaxFiles)
      return (slices, None)
    prefetchStats(cands.toSeq, conf)
    def statsOf(f: FileStatus, s: LwesInputPartition) =
      statsCache.getOrDefault(statsKey(f, s), None)
    val units = mutable.ArrayBuffer.empty[(Long, Long)] // (weak bound, count)
    // frame refinement: a fat `.zsj` file's whole-file unit is weak
    // (its min spans the whole file — over ONE fat journal the bound
    // would be the corpus min and nothing prunes). Its GSJ2 frame
    // blobs carry the same stats per FRAME, so the best split
    // candidates (by whole-file bound) refine to per-frame units —
    // footer tails are cheap and mostly paid by split planning anyway.
    // Capped at TopNFooterRefine footers like the receipt path.
    val fileUnits = cands.flatMap { case (f, s) =>
      statsOf(f, s).filter(unitPure(_, spec)).flatMap(_.attrs.get(attr))
        .filter(e => LwesStats.integralFits(e, dt) && e.count > 0)
        .map(e => (f, s, if (spec.desc) e.minL else e.maxL,
          if (spec.desc) e.maxL else e.minL, e.count))
    }
    val refine = fileUnits
      .filter { case (_, s, _, _, _) => graft.lwes.SplitJournal.isSplit(s.path) }
      .sortBy { case (_, _, _, best, _) => best }(
        if (spec.desc) Ordering[Long].reverse else Ordering[Long])
      .take(LwesScan.TopNFooterRefine)
      .map { case (f, s, _, _, _) => (f, s) }.toSet
    fileUnits.foreach { case (f, s, weak, _, count) =>
      val framed = refine.contains((f, s)) &&
        (footerCache.computeIfAbsent(footerKey(f, s),
          _ => readFooterOf(s, conf)) match {
          case Some(frames) =>
            val perFrame = frames.map { fr =>
              if (fr.stats == null) None
              else LwesStats.parse(fr.stats)
                .filter(st => st.records == fr.records && st.fileLen == fr.rawLen)
                .flatMap(_.attrs.get(attr))
                .filter(e => LwesStats.integralFits(e, dt))
            }
            // all-or-nothing per file: a blobless/lying frame falls the
            // whole file back to its (sound) whole-file unit
            if (perFrame.exists(_.isEmpty)) false
            else {
              perFrame.flatten.foreach { e =>
                if (e.count > 0)
                  units += ((if (spec.desc) e.minL else e.maxL, e.count))
              }
              true
            }
          case None => false
        })
      if (!framed) units += ((weak, count))
    }
    val best = if (spec.desc) units.sortBy(_._1)(Ordering[Long].reverse)
               else units.sortBy(_._1)
    var taken = 0L
    var bound = 0L
    var found = false
    var i = 0
    while (i < best.length && !found) {
      taken += best(i)._2
      if (taken >= spec.k) { bound = best(i)._1; found = true }
      i += 1
    }
    if (!found) return (slices, None) // fewer than k provable rows
    val kept = slices.filter { case (f, s) =>
      (!s.hasStats && !s.hasManifest) || (statsOf(f, s) match {
        case Some(st) => st.attrs.get(attr) match {
          case Some(e) if LwesStats.integralFits(e, dt) =>
            if (spec.desc) e.maxL >= bound else e.minL <= bound
          case Some(_) => true // class/type mismatch: keep
          case None => !st.complete // complete+absent = all NULL = outranked
        }
        case None => true // unreadable/stale: keep
      })
    }
    topNPruned = (slices.length - kept.length).toLong
    // synthesize the bound as a pushed-filter-shaped predicate: rows
    // strictly outside it — and NULL rows — are provably outranked by
    // the k bound-counted rows, so applying it EXACTLY (A31 frame
    // prune, in-parse row filter, executor skims) is sound even though
    // Spark never re-applies it. Boxed to the column's own type so the
    // reader-side evaluators compare like-for-like.
    val lit: Any = dt match {
      case ShortType => java.lang.Short.valueOf(bound.toShort)
      case IntegerType => java.lang.Integer.valueOf(bound.toInt)
      case _ => java.lang.Long.valueOf(bound)
    }
    val flt: Filter =
      if (spec.desc) GreaterThanOrEqual(c, lit) else LessThanOrEqual(c, lit)
    (kept, Some(flt))
  }

  /** A28 partition-column top-N (r20): every file carries exactly ONE
    * path-derived value for the column, so the prune is EXACT per file
    * — a file either holds only result-eligible rows (value inside the
    * bound) or only outranked ones (value strictly outside, or all
    * NULL because its path lacks the key — outranked under the
    * required NULLS LAST). The k-bound still needs record COUNTS, so
    * only sidecar/manifest-covered files feed it — read lazily,
    * best-value-first in 16-file waves with an early stop at k and a
    * `TopNStatsWalkCap` ceiling, so "latest partition's k" costs a
    * sidecar read or two; the PRUNE side needs no stats at all — the
    * path decides. No synthesized row filter: there are no
    * bound-straddling rows. */
  private def attrTopNPrunePcol(
      slices: Array[(FileStatus, LwesInputPartition)],
      spec: LwesTopN, conf: Configuration)
      : (Array[(FileStatus, LwesInputPartition)], Option[Filter]) = {
    val c = spec.col.get
    val cands = slices.filter(p =>
      (p._2.hasStats || p._2.hasManifest) &&
        p._2.partitionValues.contains(c))
    if (cands.isEmpty) return (slices, None)
    def statsOf(f: FileStatus, s: LwesInputPartition) =
      statsCache.getOrDefault(statsKey(f, s), None)
    import LwesStats.cmpB
    // walk candidates BEST VALUE FIRST in 16-file sidecar waves and
    // stop as soon as counts reach k (the topNBound chunked-early-stop
    // pattern): a file's value IS its unit's bound, so every unread
    // unit bounds <= everything already collected and can never enter
    // the greedy prefix — "latest partition's k" costs one or two
    // sidecar reads, not a directory-wide GET wave. The walk cap
    // bounds the driver-side reads on adversarial layouts (thousands
    // of one-record partitions); manifest-covered files cost one read
    // per directory either way.
    val walk = cands
      .map { case (f, s) => (f, s, s.partitionValues(c).getBytes(
        java.nio.charset.StandardCharsets.UTF_8)) }
      .sortBy(_._3)(if (spec.desc) byteOrdering.reverse else byteOrdering)
      .take(LwesScan.TopNStatsWalkCap)
    var taken = 0L
    var bound: Array[Byte] = null
    var i = 0
    while (i < walk.length && bound == null) {
      val chunk = walk.slice(i, math.min(i + 16, walk.length))
      prefetchStats(chunk.map { case (f, s, _) => (f, s) }.toSeq, conf)
      var j = 0
      while (j < chunk.length && bound == null) {
        val (f, s, v) = chunk(j)
        statsOf(f, s).filter(st => st.records > 0 && unitPure(st, spec))
            .foreach { st =>
          taken += st.records
          if (taken >= spec.k) bound = v
        }
        j += 1
      }
      i += chunk.length
    }
    if (bound == null) return (slices, None) // fewer than k provable rows
    val kept = slices.filter { case (_, s) =>
      s.partitionValues.get(c) match {
        case Some(v) =>
          val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (spec.desc) cmpB(b, bound) >= 0 else cmpB(b, bound) <= 0
        case None => false // path lacks the key: all rows NULL, outranked
      }
    }
    topNPruned = (slices.length - kept.length).toLong
    (kept, None)
  }

  /** A28 float/double-attribute top-N (r20, the kind-'d' twin of the
    * integral path): `ORDER BY <float/double attr> [DESC] LIMIT k` —
    * the pipeline's "top k by quality score" shape — bounds the k-th
    * best value from the sidecar `dmn`/`dmx` bounds, which are kept
    * under Spark's floating TOTAL order (compareDoubles: NaN greatest,
    * ±0.0 equal). That order is also Spark's SORT order for these
    * types, so the greedy bound-and-count argument transfers verbatim:
    * every one of a unit's `count` non-null rows reads >= its stored
    * min (DESC) / <= its stored max (ASC) under the order the Sort
    * node itself uses. The `dblFits` rule guards FloatType reads (a
    * double wire value narrowed to float rounds, which can collapse
    * values across the bounds — only allFloat sidecars speak).
    * NULLS LAST required like the sibling paths; NaN is a VALUE
    * (greatest), never a null, on both the tracker and reader sides.
    * The bound rides as a synthesized float/double predicate (frame
    * prune, in-parse row filter, executor skims), whose reader-side
    * evaluators compare under the same compareDoubles order — boxed to
    * the column's own type (exact for FloatType: allFloat-proven
    * bounds are float-representable). Same manifest-aware GET cap. */
  private def attrTopNPruneDbl(
      slices: Array[(FileStatus, LwesInputPartition)],
      spec: LwesTopN, conf: Configuration, attr: String, dt: DataType)
      : (Array[(FileStatus, LwesInputPartition)], Option[Filter]) = {
    val c = spec.col.get
    val cands = slices.filter(p => p._2.hasStats || p._2.hasManifest)
    if (cands.isEmpty ||
        cands.count(!_._2.hasManifest) > statsPruneMaxFiles)
      return (slices, None)
    prefetchStats(cands.toSeq, conf)
    def statsOf(f: FileStatus, s: LwesInputPartition) =
      statsCache.getOrDefault(statsKey(f, s), None)
    import LwesStats.dblFits
    val cmp = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
    val units = mutable.ArrayBuffer.empty[(Double, Long)] // (weak bound, count)
    val fileUnits = cands.flatMap { case (f, s) =>
      statsOf(f, s).filter(unitPure(_, spec)).flatMap(_.attrs.get(attr))
        .filter(e => dblFits(e, dt) && e.count > 0)
        .map(e => (f, s, if (spec.desc) e.minD else e.maxD,
          if (spec.desc) e.maxD else e.minD, e.count))
    }
    val refine = fileUnits
      .filter { case (_, s, _, _, _) => graft.lwes.SplitJournal.isSplit(s.path) }
      .sortBy { case (_, _, _, best, _) => best }(
        if (spec.desc) dblOrdering.reverse else dblOrdering)
      .take(LwesScan.TopNFooterRefine)
      .map { case (f, s, _, _, _) => (f, s) }.toSet
    fileUnits.foreach { case (f, s, weak, _, count) =>
      val framed = refine.contains((f, s)) &&
        (footerCache.computeIfAbsent(footerKey(f, s),
          _ => readFooterOf(s, conf)) match {
          case Some(frames) =>
            val perFrame = frames.map { fr =>
              if (fr.stats == null) None
              else LwesStats.parse(fr.stats)
                .filter(st => st.records == fr.records && st.fileLen == fr.rawLen)
                .flatMap(_.attrs.get(attr))
                .filter(e => dblFits(e, dt))
            }
            // all-or-nothing per file: a blobless/lying frame falls the
            // whole file back to its (sound) whole-file unit
            if (perFrame.exists(_.isEmpty)) false
            else {
              perFrame.flatten.foreach { e =>
                if (e.count > 0)
                  units += ((if (spec.desc) e.minD else e.maxD, e.count))
              }
              true
            }
          case None => false
        })
      if (!framed) units += ((weak, count))
    }
    val best = units.sortBy(_._1)(
      if (spec.desc) dblOrdering.reverse else dblOrdering)
    var taken = 0L
    var bound = 0.0
    var found = false
    var i = 0
    while (i < best.length && !found) {
      taken += best(i)._2
      if (taken >= spec.k) { bound = best(i)._1; found = true }
      i += 1
    }
    if (!found) return (slices, None) // fewer than k provable rows
    val kept = slices.filter { case (f, s) =>
      (!s.hasStats && !s.hasManifest) || (statsOf(f, s) match {
        case Some(st) => st.attrs.get(attr) match {
          case Some(e) if dblFits(e, dt) =>
            if (spec.desc) cmp.compareDoubles(e.maxD, bound) >= 0
            else cmp.compareDoubles(e.minD, bound) <= 0
          case Some(_) => true // class/type mismatch: keep
          case None => !st.complete // complete+absent = all NULL = outranked
        }
        case None => true // unreadable/stale: keep
      })
    }
    topNPruned = (slices.length - kept.length).toLong
    // the bound as a pushed-filter-shaped predicate (A31 frame prune,
    // in-parse row filter, executor skims — all compareDoubles-ordered)
    val lit: Any = dt match {
      case FloatType => java.lang.Float.valueOf(bound.toFloat)
      case _ => java.lang.Double.valueOf(bound)
    }
    val flt: Filter =
      if (spec.desc) GreaterThanOrEqual(c, lit) else LessThanOrEqual(c, lit)
    (kept, Some(flt))
  }

  private val dblOrdering: Ordering[Double] =
    (a: Double, b: Double) => org.apache.spark.sql.catalyst.util
      .SQLOrderingUtil.compareDoubles(a, b)

  /** A28 string-attribute top-N (r20): the integral bound-and-count
    * prune generalized to StringType via the exact sidecar string
    * bounds, ENTIRELY in read-back byte space — the tracker stores the
    * decoded values' UTF-8 bytes, which are the column's read-back
    * bytes, and unsigned byte order IS UTF8String's comparison order,
    * so no charset guard applies (the r19 StrBoundAnswer trust).
    * Unit soundness per file/frame:
    *   - DESC: every one of `count` non-null rows reads >= the stored
    *     min — sound even for a TRUNCATED min (a prefix only
    *     understates), it just weakens the bound;
    *   - ASC: rows read <= the stored max, which is never truncated
    *     (over-long maxima record +inf and contribute no unit).
    * Prune: a file whose best possible value (exact max for DESC /
    * stored min for ASC — minS <= true min always) is strictly outside
    * the bound holds only outranked rows; complete-sidecar-absent =
    * all NULL = outranked under the required NULLS LAST. The bound
    * additionally rides as a synthesized string predicate (frame
    * prune, in-parse filter, executor skims) when its bytes round-trip
    * through String exactly — a truncated bound that split a
    * multi-byte sequence would not, and then only the file prune
    * applies. Same manifest-aware GET cap as the integral path. */
  private def attrTopNPruneStr(
      slices: Array[(FileStatus, LwesInputPartition)],
      spec: LwesTopN, conf: Configuration, attr: String)
      : (Array[(FileStatus, LwesInputPartition)], Option[Filter]) = {
    val c = spec.col.get
    val cands = slices.filter(p => p._2.hasStats || p._2.hasManifest)
    if (cands.isEmpty ||
        cands.count(!_._2.hasManifest) > statsPruneMaxFiles)
      return (slices, None)
    prefetchStats(cands.toSeq, conf)
    def statsOf(f: FileStatus, s: LwesInputPartition) =
      statsCache.getOrDefault(statsKey(f, s), None)
    import LwesStats.cmpB
    // (weak bound bytes, count): DESC units bound by min, ASC by max
    def unitOf(e: LwesStats.AttrStats): Option[(Array[Byte], Long)] =
      if (e.kind != 's' || e.count <= 0) None
      else if (spec.desc) Option(e.minS).map((_, e.count))
      else if (!e.maxSInf && e.maxS != null) Some((e.maxS, e.count))
      else None
    val units = mutable.ArrayBuffer.empty[(Array[Byte], Long)]
    val fileUnits = cands.flatMap { case (f, s) =>
      statsOf(f, s).filter(unitPure(_, spec)).flatMap(_.attrs.get(attr))
        .flatMap(unitOf)
        .map { case (b, n) => (f, s, b, n) }
    }
    // frame refinement for fat .zsj candidates, best-file-bound first
    val refine = fileUnits
      .filter { case (_, s, _, _) => graft.lwes.SplitJournal.isSplit(s.path) }
      .sortBy { case (f, s, _, _) =>
        statsOf(f, s).flatMap(_.attrs.get(attr)) match {
          // best possible value: exact max (DESC) / min (ASC)
          case Some(e) if spec.desc && !e.maxSInf && e.maxS != null => e.maxS
          case Some(e) if !spec.desc && e.minS != null => e.minS
          case _ => Array.emptyByteArray
        }
      }(if (spec.desc) byteOrdering.reverse else byteOrdering)
      .take(LwesScan.TopNFooterRefine)
      .map { case (f, s, _, _) => (f, s) }.toSet
    fileUnits.foreach { case (f, s, weak, count) =>
      val framed = refine.contains((f, s)) &&
        (footerCache.computeIfAbsent(footerKey(f, s),
          _ => readFooterOf(s, conf)) match {
          case Some(frames) =>
            val perFrame = frames.map { fr =>
              if (fr.stats == null) None
              else LwesStats.parse(fr.stats)
                .filter(st => st.records == fr.records && st.fileLen == fr.rawLen)
                .map(_.attrs.get(attr))
            }
            // all-or-nothing per file, like the integral path; a frame
            // legitimately MISSING the attr contributes no unit
            if (perFrame.exists(_.isEmpty)) false
            else {
              perFrame.flatten.foreach(_.flatMap(unitOf).foreach(units += _))
              true
            }
          case None => false
        })
      if (!framed) units += ((weak, count))
    }
    val best = units.sortBy(_._1)(
      if (spec.desc) byteOrdering.reverse else byteOrdering)
    var taken = 0L
    var bound: Array[Byte] = null
    var i = 0
    while (i < best.length && bound == null) {
      taken += best(i)._2
      if (taken >= spec.k) bound = best(i)._1
      i += 1
    }
    if (bound == null) return (slices, None) // fewer than k provable rows
    val kept = slices.filter { case (f, s) =>
      (!s.hasStats && !s.hasManifest) || (statsOf(f, s) match {
        case Some(st) => st.attrs.get(attr) match {
          case Some(e) if e.kind == 's' =>
            if (spec.desc)
              // best = exact max; inf/absent max keeps the file
              e.maxSInf || e.maxS == null || cmpB(e.maxS, bound) >= 0
            else
              // best = stored min (<= true min, so a strict miss is sound)
              e.minS == null || cmpB(e.minS, bound) <= 0
          case Some(_) => true // class/type mismatch: keep
          case None => !st.complete // complete+absent = all NULL = outranked
        }
        case None => true // unreadable/stale: keep
      })
    }
    topNPruned = (slices.length - kept.length).toLong
    // synthesize the bound predicate only when its bytes survive the
    // String round-trip exactly (a truncated bound can split a
    // multi-byte sequence; the literal would then differ from the
    // bound actually proven)
    val litStr = new String(bound, java.nio.charset.StandardCharsets.UTF_8)
    val flt: Option[Filter] =
      if (!java.util.Arrays.equals(
          litStr.getBytes(java.nio.charset.StandardCharsets.UTF_8), bound))
        None
      else if (spec.desc) Some(GreaterThanOrEqual(c, litStr))
      else Some(LessThanOrEqual(c, litStr))
    (kept, flt)
  }

  private val byteOrdering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => LwesStats.cmpB(a, b)

  /** A file's stats yield top-N bound units only when they prove every
    * counted record is a row of this scan with a value in the sort
    * column: [[LwesStats.namePure]] over that column (the receipt path
    * has no `col` and checks every receipt-backed column). Frames of a
    * pure file are pure. Only the bound needs this — a file the bound
    * prunes holds nothing but outranked rows, admitted or not. */
  private def unitPure(st: LwesStats.FileStats, spec: LwesTopN): Boolean =
    config.namePure(st, spec.col.map(Seq(_)).getOrElse(
      config.schema.fieldNames.toSeq.filter(c =>
        config.attrOf(c) == LwesEvent.ReceiptTime)))

  /** A28 bound walk: a greedy lower bound on the k-th result value
    * (described for DESC; ASC mirrors everywhere with tag/frame MAX
    * ascending). Each exact-tagged, sidecar-carrying file yields
    * guaranteed-count UNITS `(bound, count)` — "count result rows with
    * receipt >= bound": the whole file's sidecar record count at its
    * tag min, or (for the newest few `.zsj` files) one unit per footer
    * frame at the frame's exact min, which is what lets "latest k"
    * over ONE fat journal bound inside the file and decompress only
    * tail frames. Consume units best-bound-first until the counts
    * reach k: every counted row's receipt >= its own unit's bound >=
    * the last bound consumed, so at least k result rows — hence the
    * k-th-largest — sit at or above it, and any file/frame whose max
    * is strictly below holds only outranked rows. Files with
    * unreadable/stale sidecars (or sentinel frame bounds), and under
    * an event-name filter files not proven name-pure, contribute no
    * units. Bounded AND lazy: the walk reads sidecars in 16-file
    * newest-first waves and stops at the first wave whose counts reach
    * k — the common "latest k" pays one or two sidecar reads — capped
    * at [[LwesScan.TopNStatsWalkCap]] sidecars and
    * [[LwesScan.TopNFooterRefine]] footer tails; if the counts never
    * reach k, no bound, no prune. */
  private def topNBound(
      slices: Array[(FileStatus, LwesInputPartition)],
      spec: LwesTopN, conf: Configuration): Option[Long] = {
    val tagged = slices.flatMap { case (f, s) =>
      if (!s.hasStats) None
      else LwesDataSource.exactTagBounds(new Path(s.path).getName)
        .map { case (mn, mx) => (f, s, mn, mx) }
    }
    val walk = (if (spec.desc) tagged.sortBy(_._3)(Ordering[Long].reverse)
                else tagged.sortBy(_._4))
      .take(LwesScan.TopNStatsWalkCap)
    // Collect units CHUNK by chunk, newest-first, stopping as soon as
    // the counts reach k: "latest k" then costs a sidecar read or two,
    // not a 256-file wave (the documented cost shape). The early stop
    // loses no bound quality: walk order is by best file bound, so
    // every unit a later chunk could add has a bound <= every unit
    // already collected via its file (footer refinement only applies
    // inside the FIRST chunk, TopNFooterRefine < chunk size) — it can
    // never enter the greedy best-first prefix that sets the bound.
    val units = mutable.ArrayBuffer.empty[(Long, Long)] // (bound, count)
    // under an event-name filter a file's units (sidecar or footer
    // frames) count only when its sidecar proves it name-pure
    val gated = config.eventNames.nonEmpty
    var acc = 0L
    var i = 0
    while (i < walk.length && acc < spec.k) {
      val chunk = walk.slice(i, math.min(i + 16, walk.length))
      // sidecar wave only for files whose unit comes from the sidecar
      // or whose purity it proves (footer-refined files read the footer
      // instead; if that read fails, the per-file computeIfAbsent below
      // falls back)
      prefetchStats(chunk.zipWithIndex.collect {
        case ((f, s, _, _), j)
            if gated || !(i + j < LwesScan.TopNFooterRefine &&
              graft.lwes.SplitJournal.isSplit(s.path)) => (f, s)
      }.toSeq, conf)
      chunk.zipWithIndex.foreach { case ((f, s, mn, mx), j) =>
        lazy val st = statsCache.computeIfAbsent(statsKey(f, s),
          _ => readSidecarOf(s, conf))
        val framed = (!gated || st.exists(unitPure(_, spec))) &&
          i + j < LwesScan.TopNFooterRefine &&
            graft.lwes.SplitJournal.isSplit(s.path) &&
            (footerCache.computeIfAbsent(footerKey(f, s),
              _ => readFooterOf(s, conf)) match {
              case Some(frames) =>
                frames.foreach { fr =>
                  if (fr.minReceipt <= fr.maxReceipt && fr.records > 0) {
                    units += ((if (spec.desc) fr.minReceipt else fr.maxReceipt,
                      fr.records.toLong))
                    acc += fr.records
                  }
                }
                true
              case None => false
            })
        if (!framed)
          st.filter(unitPure(_, spec)).foreach { x =>
            units += ((if (spec.desc) mn else mx, x.records))
            acc += x.records
          }
      }
      i += chunk.length
    }
    if (acc < spec.k) return None
    // Long.MinValue-safe ordering (sortBy(-_) would misplace it and
    // break the greedy invariant on a foreign-metadata receipt)
    val best = if (spec.desc) units.sortBy(_._1)(Ordering[Long].reverse)
               else units.sortBy(_._1)
    var taken = 0L
    var b = 0
    while (b < best.length) {
      taken += best(b)._2
      if (taken >= spec.k) return Some(best(b)._1)
      b += 1
    }
    None
  }

  /** Sidecar stats cache, (path, len, mtime)-keyed like the footer
    * cache and for the same reason: DPP replans must not repeat the
    * driver-side read wave. None = absent/stale/unparseable (kept). */
  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Option[LwesStats.FileStats]]()

  private def statsKey(f: FileStatus, s: LwesInputPartition) =
    (s.path, s.length, f.getModificationTime)

  private def readSidecarOf(s: LwesInputPartition, conf: Configuration)
      : Option[LwesStats.FileStats] =
    LwesStats.read(new Path(s.path), conf, s.length,
      manifestHint = s.hasManifest, sidecarHint = s.hasStats)

  /** Bounded-pool sidecar prefetch (the footer-prefetch pattern): the
    * per-file reads are latency-bound tail requests, so 16-way overlap
    * keeps planning a short wave even at journal-directory scale. */
  private def prefetchStats(targets: Seq[(FileStatus, LwesInputPartition)],
      conf: Configuration): Unit =
    prefetchInto(targets, statsCache, statsKey, readSidecarOf(_, conf))

  /** The bounded-pool driver prefetch shared by the footer and sidecar
    * caches: per-file metadata reads are latency-bound tail requests,
    * so 16-way overlap keeps planning a short wave even at
    * journal-directory scale. One implementation — a pool-sizing or
    * error-handling fix must not be able to miss a copy. */
  private def prefetchInto[V](
      targets: Seq[(FileStatus, LwesInputPartition)],
      cache: java.util.concurrent.ConcurrentHashMap[(String, Long, Long), V],
      key: (FileStatus, LwesInputPartition) => (String, Long, Long),
      read: LwesInputPartition => V): Unit = {
    val missing = targets.filter { case (f, s) => !cache.containsKey(key(f, s)) }
    if (missing.isEmpty) return
    if (missing.size == 1) {
      val (f, s) = missing.head
      cache.put(key(f, s), read(s))
      return
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, missing.size))
    try {
      missing.map { case (f, s) =>
        pool.submit(new java.lang.Runnable {
          override def run(): Unit = cache.put(key(f, s), read(s))
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Parsed `.zsj` footer indexes for this scan, keyed by
    * (path, length, mtime) so an overwritten file re-reads. Runtime
    * (DPP) filters REPLAN the scan, and without this every replan
    * repeated every footer tail read serially on the driver — at
    * journal-directory scale (10^4+ files) that is thousands of
    * round-trips per replan. `None` = unreadable/failed footer (the
    * unsplit fallback is always correct, so a transient read error is
    * safe to pin for the scan's lifetime). */
  private val footerCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Option[Vector[graft.lwes.SplitJournal.FrameMeta]]]()

  private def footerKey(f: FileStatus, s: LwesInputPartition) =
    (s.path, s.length, f.getModificationTime)

  private def readFooterOf(s: LwesInputPartition, conf: Configuration)
      : Option[Vector[graft.lwes.SplitJournal.FrameMeta]] =
    try {
      val path = new Path(s.path)
      val in = path.getFileSystem(conf).open(path)
      try graft.lwes.SplitJournal.readFooter(in, s.length)
      finally in.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"failed to read split-journal footer of ${s.path} " +
          s"(${e.getMessage}); will read it unsplit")
        None
    }

  /** Fill the footer cache for every oversized `.zsj` in the plan with
    * a bounded driver-side thread pool: object-store tail reads are
    * latency-bound, so 16-way overlap turns thousands of serial
    * round-trips into a short parallel wave. Cache hits (DPP replans,
    * unchanged files) skip IO entirely. */
  private def prefetchFooters(targets: Seq[(FileStatus, LwesInputPartition)],
      conf: Configuration): Unit =
    prefetchInto(targets, footerCache, footerKey, readFooterOf(_, conf))

  /** Frame runs for one oversized split journal: read the footer index,
    * drop frames whose EXACT ReceiptTime bounds miss the pushed window,
    * and group the survivors into contiguous runs of ≤ `target`
    * compressed bytes (breaking on pruning gaps — a run must be one
    * seekable byte span). Any footer problem falls back to the unsplit
    * whole-file read, which is always correct. */
  private def expandSplit(f: FileStatus, s: LwesInputPartition,
      target: Long, conf: Configuration,
      fLo: Long = Long.MinValue, fHi: Long = Long.MaxValue,
      frameKeep: graft.lwes.SplitJournal.FrameMeta => Boolean = null)
      : Seq[LwesInputPartition] = {
    try {
      val footer = footerCache.computeIfAbsent(footerKey(f, s),
        _ => readFooterOf(s, conf)) // prefetch miss (new file mid-scan)
      footer match {
        case None =>
          logWarning(s"split journal ${s.path} has no readable footer " +
            "index; reading it unsplit")
          Seq(s)
        case Some(frames) =>
          // the window is the pushed receipt range tightened by the A28
          // top-N bound (framesPruned then counts both — exact footer
          // bounds either way); A31 prunes the time-survivors by their
          // per-frame zone-map stats under the SAME filters (static
          // pushed + runtime join) and soundness guards as the
          // file-level prune
          val (runs, pruned, statsDropped) = LwesDataSource.planFrameRuns(
            frames, math.max(timeLo, fLo), math.min(timeHi, fHi), target,
            statsKeep = frameKeep)
          prunedFrames += pruned.toLong
          statsPrunedFrames += statsDropped.toLong
          runs.map { case (start, end) =>
            // range-accurate locality: rank hosts by the BYTES of each
            // HDFS block overlapping this run, not the whole file — a
            // 4 MB frame run usually lives in one block on one host
            s.copy(length = end - start, range = Some((start, end)),
              locations = LwesDataSource.hostsForRange(f, start, end))
          }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"failed to plan split journal ${s.path} " +
          s"(${e.getMessage}); reading it unsplit")
        Seq(s)
    }
  }

  /** Compressed on-disk bytes × an inflation factor — enough signal for
    * Catalyst/AQE to broadcast an lwes-sourced dimension instead of
    * shuffling the fact side (without this, DSv2 assumes
    * defaultSizeInBytes = "huge" and never broadcasts). */
  override def estimateStatistics(): Statistics = {
    val bytes = plannedPartitions.map(
      LwesScan.partitionFiles(_).map(_.length).sum).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L) * 4)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  private def matches(pv: Map[String, String], f: Filter): Boolean = f match {
    case EqualTo(a, v) => pv.get(a).forall(_ == String.valueOf(v))
    case In(a, vs) => pv.get(a).forall(x => vs.map(String.valueOf).contains(x))
    case _ => true
  }

  override def createReaderFactory(): PartitionReaderFactory = aggSpec match {
    case Some(spec) => new LwesAggReaderFactory(config, spec,
      SerializableHadoopConf.broadcast(LwesDataSource.hadoopConf()))
    case None =>
      plannedPartitions // decides driver-vs-executor zone-map placement
      // The factory gets the shared runtime STATE, not a snapshot:
      // Spark creates it at plan time (supportColumnarReads), but A30
      // runtime filters arrive and replan AFTER that — the state
      // carries the post-replan skim placement and extra filters
      // across the gap, snapshotted when tasks serialize (which
      // strictly follows runtime filtering).
      new LwesScanReaderFactory(config,
        SerializableHadoopConf.broadcast(LwesDataSource.hadoopConf()),
        runtimeState)
  }

  override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream = {
    // Spark never pushes aggregations into a streaming relation; guard
    // the assumption so a future planner change fails loudly instead of
    // streaming partial rows under a batch-agg schema.
    require(aggSpec.isEmpty, "aggregate pushdown is batch-only")
    new LwesMicroBatchStream(config, roots,
      maxFilesPerTrigger, checkpointLocation, maxBytesPerTrigger,
      timeLo = timeLo, timeHi = timeHi, timeSlackMs = timeSlackMs,
      timeExactOnly = timeExactOnly, splitTargetBytes = splitTargetBytes,
      statsPrune = statsPrune)
  }
}

object LwesScan {
  /** A28 bound-walk cap: at most this many sidecar reads back the
    * top-N bound (newest-first, one 16-way wave). "Latest k" finds its
    * k rows in the first file or two of a healthy journal directory;
    * if k outruns the cap's worth of counts, planning just keeps every
    * file — the prune is an optimization with no correctness debt. */
  val TopNStatsWalkCap = 256

  /** How many of the newest walked `.zsj` files refine their A28 bound
    * unit per footer FRAME instead of per file — one footer tail read
    * each, shared with split planning via the footer cache. One fat
    * journal is the case that needs it; a handful covers a mixed
    * directory without turning the bound walk into a footer wave. */
  val TopNFooterRefine = 8

  /** The file slices inside any planned batch partition shape — the
    * ONE unwrapping every reader factory shares, so a new partition
    * wrapper (A29 keys) cannot be missed by one of them. */
  def partitionFiles(p: InputPartition): Seq[LwesInputPartition] = p match {
    case s: LwesInputPartition => Seq(s)
    case m: LwesFilesPartition => m.files
    case k: LwesKeyedPartition => partitionFiles(k.inner)
    case other => throw new IllegalArgumentException(
      s"not an lwes batch partition: ${other.getClass.getName}")
  }

  /** Every [[LwesScan]] in a physical plan, descending through AQE
    * wrappers (adaptive root, query stages — whose `children` is
    * empty) and subqueries. Batch and micro-batch scan nodes both
    * count. The one traversal shared by gates and specs that assert on
    * a scan's post-execution state (e.g. the runtime-pruned file count
    * under DPP). */
  def scansIn(plan: org.apache.spark.sql.execution.SparkPlan): Seq[LwesScan] = {
    val self = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansIn(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansIn(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase =>
        b.scan match {
          case s: LwesScan => Seq(s)
          case _ => Nil
        }
      case _ => Nil
    }
    self ++ plan.children.flatMap(scansIn) ++ plan.subqueries.flatMap(scansIn)
  }

  /** Post-execution sum of one custom scan metric (by name) across
    * every lwes scan in the plan — the driver-side view of the task
    * metrics (eventsParsed/eventsSkipped/rowsFiltered/...), for gates
    * and specs that assert the parser actually did the pushed work
    * (e.g. a nonzero rowsFiltered under attribute-predicate
    * pushdown). Batch and micro-batch scan nodes both count. */
  def scanMetricSum(plan: org.apache.spark.sql.execution.SparkPlan,
      name: String): Long = {
    val self = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scanMetricSum(a.executedPlan, name)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scanMetricSum(q.plan, name)
      case b: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
          if b.scan.isInstanceOf[LwesScan] =>
        b.metrics.get(name).map(_.value).getOrElse(0L)
      case _ => 0L
    }
    self + plan.children.map(scanMetricSum(_, name)).sum +
      plan.subqueries.map(scanMetricSum(_, name)).sum
  }

  /** Bin-pack small files into shared tasks, Spark's own FilePartition
    * policy (maxSplitBytes = min(files.maxPartitionBytes,
    * max(openCostInBytes, totalBytes / defaultParallelism))): a
    * directory of 10^6 hourly journals must not plan 10^6 tasks —
    * driver partition-planning memory and per-task overhead both scale
    * with task COUNT, while small-corpus scans keep one file per task
    * (the dynamic bytes-per-core floor preserves parallelism). Files
    * stay atomic (gzip journals are unsplittable).
    *
    * Packing is LOCALITY-AWARE: files group by their primary block
    * host before packing, so each bin's files share a host and the
    * bin's `preferredLocations()` can be honored for every file in the
    * task — mixing hosts in one bin would force remote reads for all
    * but one of them. Location-less files (local FS, object stores)
    * all land in one group, giving exactly the host-agnostic packing.
    * The cost is at most one partially-filled bin per host, noise at
    * 10^3+ files/host. maxSplit stays GLOBAL (total bytes over total
    * cores), so a skewed host distribution cannot inflate per-task
    * work. */
  /** Spark's own FileSourceScanExec maxSplitBytes policy — ONE
    * definition, shared by the bin packer and the split-journal
    * expansion target. */
  private[lwes] def maxSplitBytes(lengths: Seq[Long], maxBytes: Long,
      openCost: Long, parallelism: Int): Long = {
    val totalBytes = lengths.map(_ + openCost).sum
    math.min(maxBytes,
      math.max(openCost, totalBytes / math.max(parallelism, 1)))
  }

  private[lwes] def packPartitions(slices: Array[LwesInputPartition],
      maxBytes: Long, openCost: Long, parallelism: Int): Array[InputPartition] = {
    val maxSplit = maxSplitBytes(slices.toSeq.map(_.length), maxBytes,
      openCost, parallelism)
    val bins = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    slices.groupBy(_.locations.headOption.getOrElse(""))
      .toSeq.sortBy(_._1).foreach { case (_, group) =>
        // biggest files first → better packing within the host group
        val sorted = group.sortBy(s => (-s.length, s.path))
        var cur = scala.collection.mutable.ArrayBuffer.empty[LwesInputPartition]
        var curSize = 0L
        def flush(): Unit = if (cur.nonEmpty) {
          bins += (if (cur.length == 1) cur.head else LwesFilesPartition(cur.toSeq))
          cur = scala.collection.mutable.ArrayBuffer.empty
          curSize = 0L
        }
        sorted.foreach { s =>
          val cost = s.length + openCost
          if (cur.nonEmpty && curSize + cost > maxSplit) flush()
          cur += s
          curSize += cost
        }
        flush()
      }
    bins.toArray
  }
}

/** Streaming journal source (SURVEY.md §2 A13): tails append-only
  * journal directories. The per-file reader (with event-name filter and
  * projected parse) is shared with the batch path; `maxFilesPerTrigger`
  * caps batch size (admission control) so a backlog drains in bounded
  * micro-batches instead of one giant one.
  *
  * Offset design (same shape as Spark's own FileStreamSource): an offset
  * is a BATCH COUNT, and the exact file list of every batch is persisted
  * under `<checkpoint>/lwes-file-batches/<batchId>` when the batch is
  * first planned. A driver-side seen-paths set (rebuilt from those logs
  * on restart) decides what is "new", so files landing with *older*
  * modification times than already-processed ones (mtime-preserving
  * copies, late hourly directories), deleted/retention-expired files,
  * and non-atomic listings never shift the assignment: replays of an
  * uncommitted batch re-read exactly the logged list, and offsets stay
  * stable across checkpoint restarts.
  */
class LwesMicroBatchStream(config: LwesReadConfig, roots: Seq[String],
    maxFilesPerTrigger: Option[Int] = None, checkpointLocation: String,
    maxBytesPerTrigger: Option[Long] = None,
    timeLo: Long = Long.MinValue, timeHi: Long = Long.MaxValue,
    timeSlackMs: Long = 3600000L, timeExactOnly: Boolean = false,
    splitTargetBytes: Option[Long] = None,
    statsPrune: Boolean = true)
    extends streaming.MicroBatchStream with streaming.SupportsAdmissionControl
    with streaming.SupportsTriggerAvailableNow
    with streaming.ReportsSourceMetrics
    with org.apache.spark.internal.Logging {

  private val conf = LwesDataSource.hadoopConf()
  private val logDir = new Path(checkpointLocation, "lwes-file-batches")
  private val fs = logDir.getFileSystem(conf)

  // batchId -> that batch's files; index == batchId. Rebuilt from the
  // persisted logs on restart so `seen` survives driver failover.
  private val batches = mutable.ArrayBuffer[Seq[LwesInputPartition]]()
  private val seen = mutable.HashSet[String]()
  // per-batch admission window, pinned when the batch is PLANNED and
  // persisted in its log (r16): a checkpoint replay must prune frames
  // against the window the batch was admitted under, not whatever
  // receiptTimeMin/Max the restarted query carries — otherwise a
  // narrowed window silently drops rows from a replayed batch
  // (exactly-once broken). Legacy logs without the header replay
  // unbounded, the pre-r16 read-everything behavior.
  private val batchWindows = mutable.HashMap[Int, (Long, Long)]()
  locally {
    if (fs.exists(logDir)) {
      val ids = fs.listStatus(logDir).flatMap(s => s.getPath.getName.toIntOption)
        .sorted
      ids.foreach { id =>
        while (batches.size <= id) batches += Nil
        val (parts, window) = readBatchLog(id)
        batches(id) = parts
        batchWindows(id) = window
        parts.foreach(p => seen += p.path)
      }
    }
  }

  private def readBatchLog(id: Int): (Seq[LwesInputPartition], (Long, Long)) = {
    val in = fs.open(new Path(logDir, id.toString))
    try {
      var window = (Long.MinValue, Long.MaxValue)
      val parts = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).flatMap { line =>
          if (line.startsWith("#w\t")) {
            val Array(_, lo, hi) = line.split("\t", 3)
            window = (lo.toLong, hi.toLong)
            None
          } else {
            val Array(len, path) = line.split("\t", 2)
            Some(LwesInputPartition(path, len.toLong,
              LwesDataSource.partitionValues(new Path(path), roots)))
          }
        }.toVector
      (parts, window)
    } finally in.close()
  }

  private def writeBatchLog(id: Int, parts: Seq[LwesInputPartition]): Unit = {
    fs.mkdirs(logDir)
    val tmp = new Path(logDir, s".$id.tmp")
    val out = fs.create(tmp, true)
    try out.write((s"#w\t$timeLo\t$timeHi\n" +
      parts.map(p => s"${p.length}\t${p.path}\n").mkString).getBytes("UTF-8"))
    finally out.close()
    val dest = new Path(logDir, id.toString)
    if (!fs.rename(tmp, dest) && !fs.exists(dest))
      throw new java.io.IOException(s"cannot persist stream batch log $dest")
  }

  override def getDefaultReadLimit: streaming.ReadLimit =
    maxFilesPerTrigger.map(streaming.ReadLimit.maxFiles)
      .getOrElse(streaming.ReadLimit.allAvailable())

  // Trigger.AvailableNow: freeze the file universe at prepare time so
  // the query drains exactly the backlog that existed then (in bounded
  // admission-controlled batches) and terminates; files landing after
  // the snapshot wait for the next run.
  private var availableNowSnapshot: Option[Set[String]] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowSnapshot = Some(
      LwesDataSource.listFiles(roots, conf).map(_.getPath.toString).toSet)
  }

  // log each heuristically-pruned path once, not per trigger
  private val heuristicPruneLogged = mutable.HashSet[String]()
  @volatile private var admissionPruned = 0L
  // .zsj frames dropped by the admission window at plan time (r16)
  private val streamFramesPruned = new java.util.concurrent.atomic.AtomicLong()

  /** Unseen files overlapping the ReceiptTime admission window, oldest
    * first (stable tiebreak on path). Pruned files are NOT marked seen:
    * an open journal's mtime (its heuristic upper bound) advances as it
    * is appended, so a file outside the window now can overlap it
    * later — each listing re-evaluates from name+mtime alone, no opens. */
  private def unseenFiles(): Seq[FileStatus] = {
    val listed = LwesDataSource.listFiles(roots, conf)
      .filter(f => availableNowSnapshot.forall(_.contains(f.getPath.toString)))
      .filterNot(f => seen.contains(f.getPath.toString))
    val admitted =
      if (timeLo == Long.MinValue && timeHi == Long.MaxValue) listed
      else listed.filter { f =>
        val (keep, heuristic) = LwesDataSource.timeOverlap(
          f.getPath.getName, f.getModificationTime, timeLo, timeHi,
          timeSlackMs, timeExactOnly)
        if (!keep && heuristic &&
            heuristicPruneLogged.add(f.getPath.toString)) logWarning(
          s"stream admission pruning untagged journal ${f.getPath} by " +
            s"HEURISTIC ReceiptTime bounds (capture stamp/mtime + " +
            s"${timeSlackMs}ms slack) vs window [$timeLo, $timeHi]; set " +
            "timePrune=exact if this layout's modification times do not " +
            "upper-bound its receipt times")
        keep
      }
    admissionPruned = (listed.size - admitted.size).toLong
    admitted.sortBy(f => (f.getModificationTime, f.getPath.toString))
  }

  override def latestOffset(start: streaming.Offset,
      limit: streaming.ReadLimit): streaming.Offset = {
    val fresh = unseenFiles()
    val byFiles = limit match {
      case mf: streaming.ReadMaxFiles => fresh.take(mf.maxFiles())
      case _ => fresh
    }
    // byte-based admission control on top: journals vary widely in
    // size, so a file-count cap alone doesn't bound batch work. Always
    // admits at least one file so an oversized journal cannot wedge
    // the stream.
    val admitted = maxBytesPerTrigger match {
      case Some(maxB) =>
        var acc = 0L
        var n = 0
        byFiles.takeWhile { f =>
          acc += f.getLen
          n += 1
          n == 1 || acc <= maxB // first file always admitted
        }
      case None => byFiles
    }
    // backlog AFTER this admission decision (admitted is a prefix of
    // fresh): the number the operator actually needs — how far behind
    // the stream is — published per progress without an extra listing
    backlogFiles = (fresh.size - admitted.size).toLong
    backlogBytes = fresh.drop(admitted.size).map(_.getLen).sum
    if (admitted.nonEmpty) {
      // block hosts ride along on distributed stores (the listing
      // already returned LocatedFileStatus there — r17; previously
      // streaming partitions always scheduled without locality). A
      // checkpoint REPLAY loses them (the batch log pins path+length
      // only), which is the right trade: replays are rare and
      // locality is a hint, never correctness.
      val parts = admitted.map(f => LwesInputPartition(f.getPath.toString,
        f.getLen, LwesDataSource.partitionValues(f.getPath, roots),
        LwesDataSource.hostsOf(f)))
      val id = batches.size
      writeBatchLog(id, parts)
      batches += parts
      batchWindows(id) = (timeLo, timeHi)
      parts.foreach(p => seen += p.path)
      logInfo(s"lwes stream batch $id: ${parts.size} new files")
    }
    LwesStreamOffset(batches.size)
  }

  // Admission-control observability: files/bytes discovered but not yet
  // admitted, surfaced in StreamingQueryProgress.sources[].metrics —
  // the state-metrics counterpart for the SOURCE side (a growing
  // backlog under maxFilesPerTrigger/maxBytesPerTrigger is the 100 TB
  // "stream is falling behind" signal).
  @volatile private var backlogFiles = 0L
  @volatile private var backlogBytes = 0L
  override def metrics(latestConsumedOffset: java.util.Optional[streaming.Offset])
      : java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("backlogFiles", backlogFiles.toString)
    m.put("backlogBytes", backlogBytes.toString)
    m.put("filesPruned", admissionPruned.toString)
    m.put("splitFramesPruned", streamFramesPruned.get.toString)
    m
  }

  override def reportLatestOffset(): streaming.Offset =
    LwesStreamOffset(batches.size)

  override def initialOffset(): streaming.Offset = LwesStreamOffset(0)
  override def latestOffset(): streaming.Offset =
    latestOffset(initialOffset(), getDefaultReadLimit)
  override def deserializeOffset(json: String): streaming.Offset =
    LwesStreamOffset.fromJson(json)

  override def planInputPartitions(start: streaming.Offset,
      end: streaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LwesStreamOffset].batchCount
    val e = end.asInstanceOf[LwesStreamOffset].batchCount
    // Replays after restart may reference batches not yet re-loaded in
    // this instance (e.g. offsets written by a previous run whose logs
    // exist but post-date our rebuild) — read them straight off the log.
    var pruned = 0L
    val parts = (s until e).flatMap { id =>
      val (ps, window) =
        if (id < batches.size && batches(id).nonEmpty)
          (batches(id), batchWindows.getOrElse(id, (Long.MinValue, Long.MaxValue)))
        else readBatchLog(id)
      ps.flatMap { p =>
        val (expanded, n) = expandStreamSplit(p, window)
        pruned += n
        expanded
      }
    }
    // snapshot semantics, like filesPruned: frames the LATEST plan
    // skipped (accumulating across replans would double-count replays)
    streamFramesPruned.set(pruned)
    parts.map(p => p: InputPartition).toArray
  }

  /** Frame-run splitting for STREAMING micro-batches (r15): one fat
    * `.zsj` journal admitted into a batch previously decoded as a
    * single task — the exact parallelism = file-count ceiling the
    * splittable container removes on the batch side. Oversized split
    * journals expand into footer-indexed byte-range partitions here
    * too. Offsets and the batch logs stay FILE-grained (exactly-once
    * is unchanged: any partition of the same byte span reads the same
    * records), and a replay re-derives splits from the immutable
    * footer, so retries with different conf simply repartition the
    * same data. Admission is complete-files-only (rename-visible), so
    * the footer is always final by the time a file is admitted; any
    * footer problem falls back to the whole-file read. */
  private val streamSplitTarget: Long =
    math.max(splitTargetBytes.getOrElse(128L << 20), 1L)
  // footer cache: admitted files are complete (rename-visible) so
  // their footers are immutable — a checkpoint replay or replan must
  // not re-pay a driver-side tail-read round-trip per fat file
  private val streamFooterCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Option[Vector[graft.lwes.SplitJournal.FrameMeta]]]()
  // block locations per admitted fat file (same immutability argument
  // as the footer cache): fetched once, only on stores whose listing
  // produced hosts at admission — local/object stores skip the RPC.
  // Bounded (a long-running stream admits files forever), and a FAILED
  // lookup is NOT cached — locality should come back with the store,
  // unlike a torn footer which is a property of the immutable file
  private val streamBlockCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Array[org.apache.hadoop.fs.BlockLocation]]()

  /** Expand one admitted fat `.zsj` into frame-run partitions under
    * `window` — the ReceiptTime admission window the file's BATCH was
    * planned with (pinned in the batch log, so replays prune
    * identically whatever options the restarted query carries).
    * Returns (partitions, frames pruned by the window). */
  private def expandStreamSplit(p: LwesInputPartition,
      window: (Long, Long)): (Seq[LwesInputPartition], Int) = {
    if (!graft.lwes.SplitJournal.isSplit(p.path) ||
        p.length <= streamSplitTarget) return (Seq(p), 0)
    try {
      // bounded like the block cache: a long-running stream admits fat
      // files forever, and each entry holds a frame index
      if (streamFooterCache.size > 4096) streamFooterCache.clear()
      val footer = streamFooterCache.computeIfAbsent((p.path, p.length), _ => {
        val in = new Path(p.path).getFileSystem(conf).open(new Path(p.path))
        try graft.lwes.SplitJournal.readFooter(in, p.length)
        finally in.close()
      })
      footer match {
        case None => (Seq(p), 0)
        case Some(frames) =>
          // frame-level ReceiptTime pruning (r16): a bounded backfill
          // (receiptTimeMin/Max) over a fat .zsj journal decodes only
          // the frames whose EXACT footer bounds can overlap the
          // admission window — the streaming counterpart of the batch
          // planner's pruning, via the SAME planFrameRuns helper so
          // the two planners cannot drift. No mtime heuristics at
          // frame level, so a prune never loses an in-window record.
          // A31 applies in micro-batches too: static pushed attribute
          // filters prune frames by their GSJ2 stats under the batch
          // planner's exact eligibility guards (runtime join filters
          // do not exist in streaming)
          val frameKeep =
            if (!statsPrune || config.attrFilters.isEmpty ||
                config.esfDefaults.nonEmpty) null
            else LwesDataSource.frameStatsKeep(config.attrFilters,
              config.attrOf,
              c => config.schema.fields.find(_.name == c).map(_.dataType))
          val (runs, prunedT, prunedS) = LwesDataSource.planFrameRuns(
            frames, window._1, window._2, streamSplitTarget, frameKeep)
          val pruned = prunedT + prunedS
          // range-accurate locality (r17, batch-planner parity): rank
          // hosts by the blocks each frame run overlaps; one cached
          // getFileBlockLocations per fat file, and only where
          // admission saw hosts at all. Falls back to the whole-file
          // hosts (still better than nothing) on any lookup problem.
          val blocks: Array[org.apache.hadoop.fs.BlockLocation] =
            if (p.locations.isEmpty) Array.empty
            else {
              val key = (p.path, p.length)
              val cached = streamBlockCache.get(key)
              if (cached != null) cached
              else {
                val fetched =
                  try {
                    val path = new Path(p.path)
                    path.getFileSystem(conf)
                      .getFileBlockLocations(path, 0, p.length)
                  } catch { case scala.util.control.NonFatal(_) =>
                    null // transient lookup failure: retry next replan
                  }
                if (fetched != null) {
                  if (streamBlockCache.size > 4096) streamBlockCache.clear()
                  streamBlockCache.put(key, fetched)
                  fetched
                } else Array.empty
              }
            }
          (runs.map { case (start, end) =>
            val rangeHosts =
              if (blocks.isEmpty) p.locations
              else {
                val h = LwesDataSource.hostsForBlocks(blocks.iterator, start, end)
                if (h.nonEmpty) h else p.locations
              }
            p.copy(length = end - start, range = Some((start, end)),
              locations = rangeHosts)
          }, pruned)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"failed to split streaming journal ${p.path} " +
          s"(${e.getMessage}); reading it unsplit")
        (Seq(p), 0)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LwesScanReaderFactory(config,
      SerializableHadoopConf.broadcast(conf))

  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Number of planned file-batches; the files of batch `i` are pinned in
  * `<checkpoint>/lwes-file-batches/<i>`.
  *
  * The offset JSON is VERSIONED: earlier releases persisted a bare file
  * count whose meaning differs from today's batch count, so resuming a
  * checkpoint across that change would silently read the wrong files.
  * A v1 (unversioned) offset is rejected with an explicit error instead
  * of being reinterpreted. */
final case class LwesStreamOffset(batchCount: Int)
    extends streaming.Offset {
  override def json(): String = s"""{"v":2,"batches":$batchCount}"""
}

object LwesStreamOffset {
  private val V2 = """\s*\{\s*"v"\s*:\s*2\s*,\s*"batches"\s*:\s*(\d+)\s*\}\s*""".r
  def fromJson(json: String): LwesStreamOffset = json match {
    case V2(n) => LwesStreamOffset(n.toInt)
    case other => throw new IllegalStateException(
      s"incompatible lwes stream checkpoint: offset '$other' was written by " +
        "an earlier release (v1 file-count offsets cannot be resumed as v2 " +
        "batch counts). Restart the query with a fresh checkpointLocation.")
  }
}

/** Plan-state an [[LwesScan]] shares with its reader factory. Spark
  * creates the factory at PLAN time (it asks `supportColumnarReads`
  * before any runtime filter executes), but A30 runtime join filters
  * arrive and REPLAN the scan after that — this holder carries the
  * post-replan truth (skim placement, extra filters) across the gap.
  * Tasks serialize a consistent snapshot: runtime filtering strictly
  * precedes input-RDD construction, which precedes task dispatch. */
final class LwesScanRuntimeState extends Serializable {
  @volatile var execStatsPrune: Boolean = false
  @volatile var extraFilters: Seq[Filter] = Nil
}

class LwesScanReaderFactory(config: LwesReadConfig,
    bconf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    state: LwesScanRuntimeState = new LwesScanRuntimeState)
    extends PartitionReaderFactory {

  /** The read config the tasks actually run: A30 runtime join filters
    * join the pushed predicates, so the executor skim prunes files by
    * them and the in-parse row filter short-circuits records the join
    * would discard anyway (partial-but-never-wrong, like every pushed
    * filter). */
  private def effConfig: LwesReadConfig =
    if (state.extraFilters.isEmpty) config
    else config.copy(attrFilters = config.attrFilters ++ state.extraFilters)

  /** Executor-side zone-map skim (the over-cap placement of A27's
    * prune, see [[LwesOptions.StatsPruneMaxFiles]]): drop this task's
    * whole-file slices whose sidecar proves no record can match the
    * pushed predicates, before opening them. Same soundness rules as
    * the plan-time prune ([[LwesStats.canSkip]]); ranged slices and
    * missing/stale sidecars are kept. Returns (kept, dropped). */
  private def statsSkim(files: Seq[LwesInputPartition],
      cfg: LwesReadConfig): (Seq[LwesInputPartition], Long) = {
    if (!state.execStatsPrune) return (files, 0L)
    val conf = bconf.value.value
    val typeOf = (c: String) =>
      cfg.schema.fields.find(_.name == c).map(_.dataType)
    val kept = files.filter { s =>
      s.range.nonEmpty || (!s.hasStats && !s.hasManifest) ||
        !LwesStats.read(new org.apache.hadoop.fs.Path(s.path), conf, s.length,
            manifestHint = s.hasManifest, sidecarHint = s.hasStats)
          .exists(st => LwesStats.canSkip(
            st, cfg.attrFilters, cfg.attrOf, typeOf))
    }
    (kept, (files.size - kept.size).toLong)
  }

  /** Adds the task's skim count to the delegate's metrics under the
    * same `filesPrunedByStats` name the plan-time prune reports. */
  private final class SkimMetricReader[T](inner: PartitionReader[T],
      dropped: Long) extends PartitionReader[T] {
    override def next(): Boolean = inner.next()
    override def get(): T = inner.get()
    override def close(): Unit = inner.close()
    override def currentMetricsValues():
        Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      inner.currentMetricsValues() :+
        LwesTaskMetric("filesPrunedByStats", dropped)
  }

  private def wrap[T](r: PartitionReader[T], dropped: Long): PartitionReader[T] =
    if (dropped == 0L) r else new SkimMetricReader(r, dropped)

  /** Every partition is columnar, so Spark (batch and micro-batch scans
    * alike) only ever asks for [[createColumnarReader]]. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "lwes scans are columnar: use createColumnarReader")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition):
      PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val cfg = effConfig
    val files = LwesScan.partitionFiles(partition)
    val (kept, dropped) = statsSkim(files, cfg)
    wrap(new LwesColumnarBatchReader(kept, cfg, bconf.value.value), dropped)
  }
}
