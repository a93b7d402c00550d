package graft.sources.lwes

import graft.lwes.{LwesEvent, LwesType}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Per-file attribute ZONE MAPS (A27): the batch writer drops a tiny
  * hidden sidecar (`.<journal>.stats`) beside every journal recording,
  * per attribute, the record count and the min/max over a sound value
  * class — integral-as-long or ASCII string bytes. A pushed attribute
  * predicate then prunes WHOLE FILES at plan time, before any open or
  * decompress: the journal-format counterpart of a parquet footer's
  * column statistics, and (with the `.t` receipt tags, A21) the second
  * half of "filters never decompress what they cannot match".
  *
  * Soundness contract — a file is dropped only when the pushed
  * CONJUNCTION is provably unsatisfiable for every record:
  *   - All prunable filter shapes are null-rejecting, and a record
  *     missing the attribute reads as NULL, so a file whose sidecar is
  *     COMPLETE and lacks the attribute entirely satisfies nothing.
  *   - Integral stats are min/max over the reader's own long
  *     interpretation (uint64 = raw-bits wrap, matching the read
  *     conversion); pruning additionally requires the stats range to
  *     fit the column's type exactly, so narrowing reads cannot reorder
  *     values around the bounds.
  *   - String stats prune only when every observed value was pure
  *     ASCII, where wire bytes = UTF-8 bytes = the read-back value
  *     under EVERY supported charset (the A11 early-reject rule), and
  *     comparisons are unsigned byte-wise — exactly `UTF8String`'s
  *     total order. Over-long maxima record "+inf" (a truncated prefix
  *     under-estimates a max; minima truncate soundly).
  *   - Header-derived pseudo-attributes (ReceiptTime, SenderIP, ...)
  *     never prune here: the journal layer materializes 0-defaults for
  *     them, so "attribute absent" does NOT read back as NULL.
  *   - ESF read defaults disable stats pruning wholesale (a default can
  *     satisfy a predicate the file's wire values cannot).
  *   - The sidecar pins the journal's byte length; a mismatch (foreign
  *     file, rewrite, torn copy) makes it stale and ignored.
  * A missing/stale/unparseable sidecar, a mixed-type attribute, or any
  * unhandled filter shape simply keeps the file — pruning is an
  * optimization, never a semantic.
  *
  * The reference has no counterpart: its only scan-narrowing device is
  * directory partitioning (README `PARTITIONED BY(dt STRING)`).
  */
object LwesStats {
  /** Format-version skew contract: the magic is NOT bumped when new
    * line kinds / fields are ADDED (r19 `nc=`/`e=`/`sm=`/`mne=`, r20
    * `k=d`/`u8=`), because parse() is strict per SIDECAR — an older
    * reader that trips on an unknown line discards the whole sidecar
    * (NonFatal → None) and streams the file. That is the intended
    * degradation during a rolling upgrade: old readers lose the
    * SHORTCUT for newly written files, never correctness. Only a
    * change that would make an old reader mis-PARSE an existing field
    * (reordered keys, changed units) requires a new magic. */
  val Magic = "gstats1"
  /** Attribute cap: past it the sidecar is marked incomplete (absent
    * entries stop proving absence). 128 covers any sane event family. */
  val MaxAttrs = 128
  /** String bound cap, bytes. */
  val MaxStrBytes = 64
  /** Event-name cap: past it per-name counts stop (namesComplete=false,
    * name-grouped aggregates stream). 64 covers any sane journal. */
  val MaxNames = 64

  /** Header pseudo-attributes (journal layer stamps 0-defaults — absent
    * never means NULL, so missing-attr pruning is unsound for them).
    * The one definition in [[LwesEvent.HeaderAttrs]], NOT a copy: a new
    * header pseudo-attr added there must disable pruning here too, or
    * complete-sidecar absence proofs silently drop its rows. */
  private def headerAttrs: Set[String] = LwesEvent.HeaderAttrs

  def sidecarPath(journal: Path): Path =
    new Path(journal.getParent, s".${journal.getName}.stats")

  // ------------------------------------------- per-directory manifest

  /** r19 (verdict task 4): one hidden manifest per directory holding
    * every journal's sidecar text — at 10^5–10^6 journals the per-file
    * sidecar GET wave (driver prefetch or task skims) collapses to one
    * read per DIRECTORY. The manifest is an ACCELERATOR, never truth:
    * per-file sidecars stay canonical, an entry's own `len=` pin marks
    * it stale exactly like a sidecar's (journals are immutable — only
    * a replaced/rewritten file can mismatch, and it falls back to its
    * per-file sidecar), and a journal missing from the manifest falls
    * back too. Built by [[writeManifest]] (merge-on-compact calls it;
    * so can any maintenance job). */
  val ManifestName = ".graft.stats.manifest"

  def manifestPath(dir: Path): Path = new Path(dir, ManifestName)

  /** Consolidate every `.<journal>.stats` sidecar in `dir` into the
    * directory manifest (hidden temp + rename, so readers never see a
    * partial file). Returns the number of entries written. */
  def writeManifest(dir: Path,
      conf: org.apache.hadoop.conf.Configuration): Int = {
    val fs = dir.getFileSystem(conf)
    val sidecars = fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.startsWith(".") && n.endsWith(".stats")
    }
    val sb = new StringBuilder
    var count = 0
    sidecars.sortBy(_.getPath.getName).foreach { st =>
      val n = st.getPath.getName
      val journal = n.substring(1, n.length - ".stats".length)
      val len = st.getLen
      if (len <= (1 << 20)) {
        val bytes = new Array[Byte](len.toInt)
        val in = fs.open(st.getPath)
        try in.readFully(0, bytes) finally in.close()
        val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        // one guard line per entry; sidecar text is line-oriented and
        // never starts a line with '>' (magic/a=/e= only)
        sb.append("> ").append(java.net.URLEncoder.encode(journal, "UTF-8"))
          .append('\n').append(text)
        if (!text.endsWith("\n")) sb.append('\n')
        count += 1
      }
    }
    val tmp = new Path(dir, s".$ManifestName.tmp-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, manifestPath(dir))) {
      fs.delete(manifestPath(dir), false)
      if (!fs.rename(tmp, manifestPath(dir)))
        throw new java.io.IOException(s"cannot publish ${manifestPath(dir)}")
    }
    count
  }

  /** Merge `entries` (journal name → sidecar text) into `dir`'s
    * manifest WITHOUT listing the directory: one read of the existing
    * manifest + one atomic write — the r19 batch-commit refresh, so
    * manifests exist from the first write, not only after compaction.
    * New entries override old ones (a replaced journal's fresh stats
    * win). Concurrent committers can lose each other's update — the
    * manifest is an accelerator with per-file fallback, never truth.
    * Oversized manifests (> 64 MB) skip the refresh rather than make
    * every commit rewrite them. Updates the JVM cache in place. */
  def mergeIntoManifest(dir: Path, entries: Map[String, String],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    if (entries.isEmpty) return
    val p = manifestPath(dir)
    val fs = p.getFileSystem(conf)
    val existing: Map[String, String] =
      try {
        val len = fs.getFileStatus(p).getLen
        if (len > (64L << 20)) return // oversized: compaction's job
        val bytes = new Array[Byte](len.toInt)
        val in = fs.open(p)
        try in.readFully(0, bytes) finally in.close()
        parseManifest(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val merged = existing ++ entries
    val sb = new StringBuilder
    merged.toSeq.sortBy(_._1).foreach { case (name, text) =>
      sb.append("> ").append(java.net.URLEncoder.encode(name, "UTF-8"))
        .append('\n').append(text)
      if (!text.endsWith("\n")) sb.append('\n')
    }
    val tmp = new Path(dir, s".$ManifestName.tmp-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"cannot publish $p")
    }
    manifestCache.put(dir.toString, merged)
  }

  /** Per-JVM manifest cache: directory path → journal name → sidecar
    * text. Loaded once per directory per process (a scan's lifetime —
    * a manifest published mid-process is only a missed acceleration,
    * never a correctness issue, because entries carry the same len pin
    * sidecars do). Bounded: past 4096 directories the cache clears
    * (pathological layouts fall back to per-file GETs, they don't OOM
    * the executor). */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  private[sources] def clearManifestCacheForTesting(): Unit = manifestCache.clear()

  private def manifestEntries(dir: Path,
      conf: org.apache.hadoop.conf.Configuration): Map[String, String] = {
    if (manifestCache.size > 4096) manifestCache.clear()
    val cached = manifestCache.get(dir.toString)
    if (cached != null) return cached
    // read OUTSIDE the cache insert: a failed read (transient IO error,
    // or a reader racing the delete+rename publish window in
    // writeManifest) must NOT pin Map.empty for the JVM's lifetime —
    // in manifest-only directories (per-file sidecars deleted) that
    // would disable stats answering and pruning for every later scan
    // in this process. Failures return empty for THIS call and retry
    // on the next scan; only successful parses are cached.
    try {
      val p = manifestPath(dir)
      val fs = p.getFileSystem(conf)
      val len = fs.getFileStatus(p).getLen
      if (len > (64L << 20)) Map.empty // oversized: per-file fallback, uncached
      else {
        val bytes = new Array[Byte](len.toInt)
        val in = fs.open(p)
        try in.readFully(0, bytes) finally in.close()
        val parsed = parseManifest(
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        manifestCache.put(dir.toString, parsed)
        parsed
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  private[sources] def parseManifest(text: String): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var name: String = null
    val body = new StringBuilder
    def flush(): Unit = if (name != null) {
      out += name -> body.toString; body.clear()
    }
    text.linesIterator.foreach { ln =>
      if (ln.startsWith("> ")) {
        flush()
        name = java.net.URLDecoder.decode(ln.substring(2), "UTF-8")
      } else if (name != null) body.append(ln).append('\n')
    }
    flush()
    out.result()
  }

  /** Read + parse the stats of `journal`, requiring the recorded
    * journal length to equal `journalLen` (stale entries — rewrites,
    * torn copies, foreign files — read as absent). None never fails a
    * scan: no stats just means no shortcut.
    *
    * `manifestHint` = the listing saw a directory manifest beside this
    * journal: consult it first (one read per directory per JVM instead
    * of one GET per file); a missing or len-stale manifest entry falls
    * back to the per-file sidecar GET — unless `sidecarHint` is false
    * (the listing proved the file bare), which skips the doomed GET. */
  def read(journal: Path, conf: org.apache.hadoop.conf.Configuration,
      journalLen: Long, manifestHint: Boolean = false,
      sidecarHint: Boolean = true): Option[FileStats] = {
    if (manifestHint) {
      manifestEntries(journal.getParent, conf).get(journal.getName) match {
        case Some(text) =>
          val st = parse(text).filter(_.fileLen == journalLen)
          if (st.isDefined) return st // stale/unparsable: per-file fallback
        case None => // not in manifest: per-file fallback
      }
    }
    if (!sidecarHint) return None
    try {
      val p = sidecarPath(journal)
      val fs = p.getFileSystem(conf)
      val len = fs.getFileStatus(p).getLen
      if (len > (1 << 20)) return None // not one of ours
      val in = fs.open(p)
      val bytes = new Array[Byte](len.toInt)
      try in.readFully(0, bytes) finally in.close()
      parse(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        .filter(_.fileLen == journalLen)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Value-class kinds: 'l' integral (long interpretation), 's' ASCII
    * string, 'd' float/double (r20), 'x' present-but-unprunable
    * (arrays, mixed, ...).
    * `sum` (r19): the exact long sum of an integral attribute's values
    * — absent when the tracker's overflow guard tripped or the sidecar
    * predates r19, in which case pushed SUMs stream. `minExact` (r19):
    * `minS` is a full observed VALUE, not a truncated prefix — with
    * `!maxSInf`, string MIN/MAX become metadata-answerable (the stored
    * UTF-8 bytes are the column's read-back bytes, and the tracker's
    * byte-wise order IS UTF8String's order).
    * `minD`/`maxD` (r20): bounds under Spark's EXACT floating total
    * order — `SQLOrderingUtil.compareDoubles`, i.e. NaN greatest and
    * ±0.0 EQUAL — which is the order Spark's comparison operators AND
    * its MIN/MAX aggregates evaluate with, so bounds computed with it
    * prune and answer exactly (a file of all-NaN values has NaN
    * bounds; `col > 5` keeps it because NaN > 5 is TRUE in Spark).
    * `allFloat` marks that every observed value arrived on a FLOAT
    * wire token: the float→double widening is exact, so the stats may
    * also speak for a FloatType column (a DOUBLE wire value read into
    * a FloatType column rounds, which can collapse values across a
    * pushed literal — those keep their files, the integral
    * narrowing rule's floating twin).
    * `utf8` (r20): every non-ASCII observed string value rode a record
    * whose charset round-trips it exactly (UTF-8; the codec REJECTS
    * Latin-1-unmappable chars, but the guard keeps Latin-1 journals
    * conservative) — with it, string predicate pruning extends beyond
    * ASCII: stored bytes = read-back bytes = the literal's UTF-8, all
    * compared in UTF8String's byte order. */
  final case class AttrStats(kind: Char, count: Long,
      minL: Long, maxL: Long,
      minS: Array[Byte], maxS: Array[Byte], maxSInf: Boolean, ascii: Boolean,
      sum: Option[Long] = None, minExact: Boolean = false,
      minD: Double = 0.0, maxD: Double = 0.0, allFloat: Boolean = false,
      utf8: Boolean = false)

  /** `names` = per-event-name record counts (r19, A32: lets
    * `GROUP BY <event-name column>` + COUNT(*) answer from the sidecar
    * alone); trusted only when `namesComplete` — an old-format sidecar
    * (no `nc=` header) or one whose journal exceeded [[MaxNames]]
    * distinct event types reads incomplete and name-grouped aggregates
    * stream instead. */
  final case class FileStats(fileLen: Long, records: Long,
      complete: Boolean, attrs: Map[String, AttrStats],
      names: Map[String, Long] = Map.empty, namesComplete: Boolean = false)

  /** Name purity — the ONE rule every metadata answer (sidecar and
    * frame-blob aggregates, complete pushdown, top-N bound units)
    * applies under an event-name gate: true ⇔ every record these stats
    * counted is a row of the scan, so record counts and attribute stats
    * speak for the gated scan exactly as for an ungated one. Holds when
    * the scan has no gate (`eventNames` empty), when there are no
    * records, or when the per-name counts are complete, reconcile with
    * the record total, and name only admitted events — and then each
    * `colEvents` entry (the `Event::Name` mapping of a column the answer
    * reads) must be the file's ONLY name: a mapped column reads NULL on
    * records of any other name, which shared per-attribute stats cannot
    * express. */
  def namePure(st: FileStats, eventNames: Set[String],
      colEvents: Iterable[String]): Boolean =
    eventNames.isEmpty || st.records == 0L || (
      st.namesComplete && st.names.values.sum == st.records &&
        st.names.keySet.subsetOf(eventNames) &&
        colEvents.forall(e => st.names.keySet == Set(e)))

  // ---------------------------------------------------------- tracker

  private final class Mut {
    var kind: Char = 0
    var count = 0L
    var minL = Long.MaxValue
    var maxL = Long.MinValue
    var minS: Array[Byte] = null
    var maxS: Array[Byte] = null
    var maxSInf = false
    var ascii = true
    var sum = 0L
    var sumValid = true // overflow guard: a wrapped sum is never written
    var minExact = false // stored minS is a full observed value (r19)
    var minD = 0.0 // float/double bounds under compareDoubles (r20)
    var maxD = 0.0
    var seenD = false
    var allFloat = true // every value rode a FLOAT wire token
    var utf8 = true // every non-ASCII value rode a UTF-8 record
  }

  /** Spark's EXACT floating total order (NaN greatest, -0.0 == 0.0):
    * the order its comparison operators, sorts, and MIN/MAX evaluate
    * with — bounds kept under any OTHER order (IEEE, Double.compare)
    * would mis-prune NaN or ±0.0 edge rows. */
  @inline private def cmpD(a: Double, b: Double): Int =
    org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a, b)

  /** Write-side accumulator; one per open journal. Not thread-safe
    * (a DataWriter is single-threaded). */
  final class Tracker {
    private val m = scala.collection.mutable.LinkedHashMap.empty[String, Mut]
    private var records = 0L
    private var complete = true
    private val names = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    private var namesComplete = true

    def observe(ev: LwesEvent): Unit = {
      records += 1
      if (namesComplete) {
        val prev = names.getOrElse(ev.name, 0L)
        if (prev == 0L && names.size >= MaxNames) { names.clear(); namesComplete = false }
        else names.update(ev.name, prev + 1)
      }
      // record charset: UTF-8 round-trips every value exactly, so
      // non-ASCII bounds stay prunable; a Latin-1 record keeps the
      // conservative ASCII-only guard for the attrs it touches
      val recUtf8 = ev.get(graft.lwes.LwesCodec.EncAttr) match {
        case Some(a) if a.token == LwesType.Int16 =>
          a.value != graft.lwes.LwesCodec.EncIso88591
        case _ => true // absent = UTF-8 (lwes-java DEFAULT_ENCODING)
      }
      var i = 0
      val attrs = ev.attrs
      while (i < attrs.length) {
        val a = attrs(i)
        val s = m.getOrElse(a.key, {
          if (m.size >= MaxAttrs) { complete = false; null }
          else { val x = new Mut; m.update(a.key, x); x }
        })
        if (s != null) {
          s.count += 1
          val k = classOf(a.token)
          if (s.kind == 0) s.kind = k
          else if (s.kind != k) s.kind = 'x' // mixed: unprunable
          if (s.kind == 'l') {
            val v = longOf(a.token, a.value)
            if (v < s.minL) s.minL = v
            if (v > s.maxL) s.maxL = v
            if (s.sumValid)
              try s.sum = Math.addExact(s.sum, v)
              catch { case _: ArithmeticException => s.sumValid = false }
          } else if (s.kind == 'd') {
            // float widens to double EXACTLY; bounds under Spark's own
            // floating total order (NaN greatest, ±0.0 equal)
            val v = a.value match {
              case f: java.lang.Float => f.doubleValue()
              case d: java.lang.Double => s.allFloat = false; d.doubleValue()
              case other => throw new IllegalStateException(s"not fp: $other")
            }
            if (!s.seenD) { s.minD = v; s.maxD = v; s.seenD = true }
            else {
              if (cmpD(v, s.minD) < 0) s.minD = v
              if (cmpD(v, s.maxD) > 0) s.maxD = v
            }
          } else if (s.kind == 's') {
            val str = a.value.asInstanceOf[String]
            if (s.ascii) {
              var j = 0
              while (j < str.length && str.charAt(j) < 0x80) j += 1
              if (j < str.length) {
                s.ascii = false
                // bounds of a non-ASCII value are read-back-exact only
                // when the record charset round-trips it (UTF-8)
                if (!recUtf8) s.utf8 = false
              }
            } else if (!recUtf8) {
              // already non-ASCII overall: a Latin-1 record clears the
              // flag only if THIS value is non-ASCII too
              var j = 0
              while (j < str.length && str.charAt(j) < 0x80) j += 1
              if (j < str.length) s.utf8 = false
            }
            val b = str.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            if (s.minS == null || cmpB(b, s.minS) < 0) {
              if (b.length <= MaxStrBytes) { s.minS = b; s.minExact = true }
              else { // prefix ≤ value: sound lower bound, but not a VALUE
                s.minS = java.util.Arrays.copyOf(b, MaxStrBytes)
                s.minExact = false
              }
            }
            if (!s.maxSInf && (s.maxS == null || cmpB(b, s.maxS) > 0)) {
              if (b.length <= MaxStrBytes) s.maxS = b
              else { s.maxS = null; s.maxSInf = true } // truncation would UNDER-state a max
            }
          }
        }
        i += 1
      }
    }

    def serialize(fileLen: Long): String = {
      val sb = new StringBuilder
      sb.append(s"$Magic len=$fileLen records=$records complete=")
        .append(if (complete) "1" else "0")
        .append(" nc=").append(if (namesComplete) "1" else "0").append('\n')
      if (namesComplete) names.foreach { case (nm, cnt) =>
        sb.append(s"e=${java.net.URLEncoder.encode(nm, "UTF-8")} n=$cnt\n")
      }
      val b64 = java.util.Base64.getEncoder
      m.foreach { case (name, s) =>
        val enc = java.net.URLEncoder.encode(name, "UTF-8")
        s.kind match {
          case 'l' => sb.append(s"a=$enc k=l n=${s.count} mn=${s.minL} mx=${s.maxL}" +
            (if (s.sumValid) s" sm=${s.sum}" else "") + "\n")
          case 's' =>
            val mn = if (s.minS == null) "" else b64.encodeToString(s.minS)
            val mx = if (s.maxS == null) "" else b64.encodeToString(s.maxS)
            sb.append(s"a=$enc k=s n=${s.count} smn=$mn smx=$mx " +
              s"sinf=${if (s.maxSInf) 1 else 0} ascii=${if (s.ascii) 1 else 0} " +
              s"mne=${if (s.minExact) 1 else 0} " +
              s"u8=${if (s.utf8) 1 else 0}\n")
          // float/double bounds as raw IEEE-754 bits: decimal text
          // round-trips are lossy exactly at the bound values pruning
          // compares against (r20)
          case 'd' if s.seenD =>
            sb.append(s"a=$enc k=d n=${s.count} " +
              s"dmn=${java.lang.Double.doubleToRawLongBits(s.minD)} " +
              s"dmx=${java.lang.Double.doubleToRawLongBits(s.maxD)} " +
              s"af=${if (s.allFloat) 1 else 0}\n")
          case _ => sb.append(s"a=$enc k=x n=${s.count}\n")
        }
      }
      sb.toString
    }
  }

  private def classOf(token: Byte): Char = token match {
    case LwesType.UInt16 | LwesType.Int16 | LwesType.UInt32 |
        LwesType.Int32 | LwesType.Int64 | LwesType.UInt64 => 'l'
    case LwesType.Str => 's'
    case LwesType.Float | LwesType.Double => 'd'
    case _ => 'x'
  }

  /** The reader's own long interpretation of an integral attr value
    * (uint64 stays raw-bits, exactly what a LongType column reads). */
  private def longOf(token: Byte, v: Any): Long = token match {
    case LwesType.UInt16 => v.asInstanceOf[Int].toLong
    case LwesType.Int16 => v.asInstanceOf[Short].toLong
    case LwesType.UInt32 | LwesType.Int64 | LwesType.UInt64 =>
      v.asInstanceOf[Long]
    case LwesType.Int32 => v.asInstanceOf[Int].toLong
    case other => throw new IllegalStateException(s"not integral: $other")
  }

  private[sources] def cmpB(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  // ----------------------------------------------------------- parser

  /** Strict parse; anything unexpected → None (file is kept). */
  def parse(text: String): Option[FileStats] = try {
    val lines = text.linesIterator.toArray
    if (lines.isEmpty) return None
    val head = kv(lines(0).stripPrefix(Magic + " "))
    if (!lines(0).startsWith(Magic + " ")) return None
    val b64 = java.util.Base64.getDecoder
    val (nameLines, attrLines) =
      lines.iterator.drop(1).filter(_.nonEmpty).toSeq.partition(_.startsWith("e="))
    val names = nameLines.map { ln =>
      val f = kv(ln)
      java.net.URLDecoder.decode(f("e"), "UTF-8") -> f("n").toLong
    }.toMap
    val attrs = attrLines.iterator.map { ln =>
      val f = kv(ln)
      val name = java.net.URLDecoder.decode(f("a"), "UTF-8")
      val st = f("k") match {
        case "l" => AttrStats('l', f("n").toLong, f("mn").toLong,
          f("mx").toLong, null, null, maxSInf = false, ascii = false,
          sum = f.get("sm").map(_.toLong))
        case "s" => AttrStats('s', f("n").toLong, 0L, 0L,
          if (f("smn").isEmpty) null else b64.decode(f("smn")),
          if (f("smx").isEmpty) null else b64.decode(f("smx")),
          maxSInf = f("sinf") == "1", ascii = f("ascii") == "1",
          // absent mne = pre-r19 sidecar: exactness unknown, stream
          minExact = f.get("mne").contains("1"),
          // absent u8 = pre-r20 sidecar: charset unknown, ASCII-only
          utf8 = f.get("u8").contains("1"))
        case "d" => AttrStats('d', f("n").toLong, 0L, 0L, null, null,
          maxSInf = false, ascii = false,
          minD = java.lang.Double.longBitsToDouble(f("dmn").toLong),
          maxD = java.lang.Double.longBitsToDouble(f("dmx").toLong),
          allFloat = f("af") == "1")
        case _ => AttrStats('x', f("n").toLong, 0L, 0L, null, null,
          maxSInf = false, ascii = false)
      }
      name -> st
    }.toMap
    Some(FileStats(head("len").toLong, head("records").toLong,
      head("complete") == "1", attrs, names,
      // absent nc = pre-r19 sidecar: per-name counts unknown
      namesComplete = head.get("nc").contains("1")))
  } catch { case scala.util.control.NonFatal(_) => None }

  private def kv(line: String): Map[String, String] =
    line.split(' ').iterator.filter(_.contains('=')).map { t =>
      val i = t.indexOf('=')
      t.substring(0, i) -> t.substring(i + 1)
    }.toMap

  // ----------------------------------------------------------- pruner

  /** The MIN/MAX/SUM type-fit rule, shared with the A28 attribute
    * top-N bound: integral stats speak for a column only when their
    * range FITS the read type (narrowing reads could reorder values
    * around the bounds). */
  def integralFits(e: AttrStats, dt: DataType): Boolean =
    e.kind == 'l' && typeRange(dt).exists {
      case (lo, hi) => e.minL >= lo && e.maxL <= hi
    }

  /** The floating twin (r20): 'd' stats speak for a DoubleType column
    * always (float widens to double exactly) and for a FloatType
    * column only when every observed value was a FLOAT wire token — a
    * double narrowed by the FloatType read rounds, which can collapse
    * values across the bounds. */
  def dblFits(e: AttrStats, dt: DataType): Boolean =
    e.kind == 'd' &&
      (dt == DoubleType || (dt == FloatType && e.allFloat))

  /** String stats speak for predicate pruning when the stored bounds
    * provably equal read-back bytes AND literal comparison is sound:
    * all-ASCII values (identity under every charset, pre-r20 rule) or
    * the r20 `u8` proof that every non-ASCII value rode a UTF-8
    * record (UTF-8 byte order = code-point order = UTF8String order). */
  def strPrunable(e: AttrStats): Boolean =
    e.kind == 's' && (e.ascii || e.utf8)

  private def typeRange(dt: DataType): Option[(Long, Long)] = dt match {
    case ByteType => Some((Byte.MinValue.toLong, Byte.MaxValue.toLong))
    case ShortType => Some((Short.MinValue.toLong, Short.MaxValue.toLong))
    case IntegerType => Some((Int.MinValue.toLong, Int.MaxValue.toLong))
    case LongType => Some((Long.MinValue, Long.MaxValue))
    case _ => None
  }

  /** Smallest byte string strictly above every string with prefix `p`
    * (None when `p` is all-0xff — no upper bound). */
  private def prefixSuccessor(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val r = java.util.Arrays.copyOf(p, i + 1)
      r(i) = (r(i) + 1).toByte
      Some(r)
    }
  }

  /** True ⇔ `stats` proves NO record of the file can satisfy every
    * pushed filter (they are conjuncts, so one impossible filter
    * suffices). `attrOf` maps column → wire attribute; `typeOf` gives
    * the column's read type. */
  def canSkip(stats: FileStats, filters: Seq[Filter],
      attrOf: String => String, typeOf: String => Option[DataType]): Boolean =
    filters.exists(f => unsatisfiable(stats, f, attrOf, typeOf))

  private def unsatisfiable(stats: FileStats, filter: Filter,
      attrOf: String => String, typeOf: String => Option[DataType]): Boolean = {
    def col(f: Filter): Option[String] = f match {
      case EqualTo(a, _) => Some(a)
      case GreaterThan(a, _) => Some(a)
      case GreaterThanOrEqual(a, _) => Some(a)
      case LessThan(a, _) => Some(a)
      case LessThanOrEqual(a, _) => Some(a)
      case In(a, _) => Some(a)
      case IsNotNull(a) => Some(a)
      case StringStartsWith(a, _) => Some(a)
      case _ => None // unknown shape: never prune on it
    }
    val c = col(filter).getOrElse(return false)
    val attr = attrOf(c)
    if (headerAttrs.contains(attr)) return false
    stats.attrs.get(attr) match {
      case None =>
        // every prunable shape is null-rejecting; a complete sidecar
        // without the attr means every record reads NULL there
        stats.complete
      case Some(e) =>
        typeOf(c) match {
          case Some(StringType) if strPrunable(e) =>
            stringUnsat(e, filter)
          case Some(dt) if e.kind == 'l' =>
            typeRange(dt) match {
              case Some((lo, hi)) if e.minL >= lo && e.maxL <= hi =>
                longUnsat(e, filter)
              case _ => false // narrowing read could reorder: keep
            }
          case Some(dt @ (FloatType | DoubleType)) if dblFits(e, dt) =>
            dblUnsat(e, filter)
          case _ => false // class mismatch / unprunable kind
        }
    }
  }

  private def longUnsat(e: AttrStats, filter: Filter): Boolean = {
    def lv(v: Any): Option[Long] = v match {
      case n: java.lang.Number => Some(n.longValue())
      case _ => None
    }
    filter match {
      case EqualTo(_, v) => lv(v).exists(x => x < e.minL || x > e.maxL)
      case GreaterThan(_, v) => lv(v).exists(x => e.maxL <= x)
      case GreaterThanOrEqual(_, v) => lv(v).exists(x => e.maxL < x)
      case LessThan(_, v) => lv(v).exists(x => e.minL >= x)
      case LessThanOrEqual(_, v) => lv(v).exists(x => e.minL > x)
      case In(_, vs) if vs.nonEmpty =>
        vs.forall(v => lv(v).exists(x => x < e.minL || x > e.maxL))
      case _ => false
    }
  }

  /** Float/double unsatisfiability under Spark's exact comparison
    * order (cmpD): the SAME order the row-level predicates evaluate
    * with, so NaN bounds (greatest) and ±0.0 (equal) prune exactly —
    * e.g. `col = 0.0` keeps a file whose only value is -0.0, and
    * `col > 5.0` keeps an all-NaN file (NaN > 5.0 is TRUE in Spark).
    * Only Float/Double literals prune: an integral literal would have
    * been cast by Spark before pushdown, and a raw long widened here
    * could round across the bounds. */
  private def dblUnsat(e: AttrStats, filter: Filter): Boolean = {
    def dv(v: Any): Option[Double] = v match {
      case d: java.lang.Double => Some(d.doubleValue())
      case f: java.lang.Float => Some(f.doubleValue())
      case _ => None
    }
    filter match {
      case EqualTo(_, v) =>
        dv(v).exists(x => cmpD(x, e.minD) < 0 || cmpD(x, e.maxD) > 0)
      case GreaterThan(_, v) => dv(v).exists(x => cmpD(e.maxD, x) <= 0)
      case GreaterThanOrEqual(_, v) => dv(v).exists(x => cmpD(e.maxD, x) < 0)
      case LessThan(_, v) => dv(v).exists(x => cmpD(e.minD, x) >= 0)
      case LessThanOrEqual(_, v) => dv(v).exists(x => cmpD(e.minD, x) > 0)
      case In(_, vs) if vs.nonEmpty =>
        vs.forall(v => dv(v).exists(x =>
          cmpD(x, e.minD) < 0 || cmpD(x, e.maxD) > 0))
      case _ => false
    }
  }

  private def stringUnsat(e: AttrStats, filter: Filter): Boolean = {
    if (e.minS == null) return false // no value observed (kind-s via mix)
    def bytes(v: Any): Option[Array[Byte]] = v match {
      case s: String =>
        Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _ => None
    }
    def belowMin(b: Array[Byte]): Boolean = cmpB(b, e.minS) < 0
    def aboveMax(b: Array[Byte]): Boolean = !e.maxSInf && cmpB(b, e.maxS) > 0
    filter match {
      case EqualTo(_, v) => bytes(v).exists(b => belowMin(b) || aboveMax(b))
      case GreaterThan(_, v) =>
        bytes(v).exists(b => !e.maxSInf && cmpB(e.maxS, b) <= 0)
      case GreaterThanOrEqual(_, v) =>
        bytes(v).exists(b => !e.maxSInf && cmpB(e.maxS, b) < 0)
      case LessThan(_, v) => bytes(v).exists(b => cmpB(e.minS, b) >= 0)
      case LessThanOrEqual(_, v) => bytes(v).exists(b => cmpB(e.minS, b) > 0)
      case In(_, vs) if vs.nonEmpty =>
        vs.forall(v => bytes(v).exists(b => belowMin(b) || aboveMax(b)))
      case StringStartsWith(_, v) =>
        bytes(v).exists { p =>
          val allBelow = !e.maxSInf && cmpB(e.maxS, p) < 0 // max < prefix
          val allAbove = prefixSuccessor(p) // min ≥ smallest-above-prefix
            .exists(succ => cmpB(e.minS, succ) >= 0)
          allBelow || allAbove
        }
      case _ => false
    }
  }

  // ------------------------------------------- aggregate answers (A26)

  /** One pushed aggregate's exact per-file value from the sidecar. */
  sealed trait AggAnswer extends Serializable
  /** COUNT(*) / COUNT(col) contribution. */
  final case class CountAnswer(n: Long) extends AggAnswer
  /** MIN/MAX contribution as the reader's long; None = every record
    * reads NULL there (min/max ignore the file). */
  final case class BoundAnswer(v: Option[Long]) extends AggAnswer
  /** SUM contribution (r19): the file's exact long sum; None = every
    * record reads NULL there (SUM over nothing is NULL). */
  final case class SumAnswer(v: Option[Long]) extends AggAnswer
  /** String MIN/MAX contribution (r19): the exact observed bound as
    * UTF-8 bytes (the column's read-back representation). */
  final case class StrBoundAnswer(v: Array[Byte]) extends AggAnswer
  /** Float/double MIN/MAX contribution (r20): the exact bound under
    * Spark's floating total order, as a double (FloatType columns box
    * back via toFloat, exact under the allFloat fit rule). */
  final case class DblBoundAnswer(v: Double) extends AggAnswer

  /** Exact answers for a pushed aggregation from one file's metadata —
    * the A26×A27 synergy: what the `.zsj` footer fast path does for
    * COUNT(*) and receipt bounds, zone maps + name tags do for EVERY
    * journal codec and for attribute MIN/MAX/COUNT(col). Some(answers)
    * only when every function is PROVABLY exact for this file:
    *   - MIN/MAX over a ReceiptTime-backed column (`fromReceipt`): the
    *     writer's EXACT `.t<min>-<max>.` name tag when present
    *     (`receiptBounds`) — the tag tracks the STAMPED header value
    *     (unset attr → 0), which is exactly what the column reads back,
    *     so tag bounds are the column's true min/max (never NULL: the
    *     journal layer materializes 0-defaults). Same name-tag trust
    *     contract as A21 pruning.
    *   - COUNT(*): the sidecar's record count (always exact — the
    *     tracker observes every event written).
    *   - COUNT(col): the attribute's observed count, exact for tracked
    *     attrs even in incomplete sidecars, but only when the value
    *     class matches the read type so present-on-wire = non-null in
    *     the column (integral stats fitting an integral read type, or
    *     string stats under StringType); an attr absent from a COMPLETE
    *     sidecar counts 0.
    *   - MIN/MAX: integral stats whose range FITS the read type (the
    *     pruning rule — narrowing conversions may not reorder values
    *     around the bounds); absent-from-complete contributes all-NULL.
    *     String bounds answer (r19) when they are exact VALUES — an
    *     untruncated min (`minExact`) / a non-inf max — as the stored
    *     UTF-8 bytes; truncated/inf bounds and pre-r19 sidecars stream.
    * `nonAttrCols` names columns not backed by a wire attribute
    * (partition values, the event-name column) and header pseudo-attrs
    * are rejected here too — their null semantics differ from "attr
    * absent". The CALLER gates record-level admission (event-name
    * filters via [[namePure]], receipt windows, ESF defaults, ranged
    * slices): this function assumes the whole file is admitted as-is. */
  def answerAggregates(stats: Option[FileStats],
      receiptBounds: Option[(Long, Long)], funcs: Seq[LwesAggFunc],
      attrOf: String => String, typeOf: String => Option[DataType],
      nonAttrCols: Set[String],
      partitionValue: String => Option[Option[String]] = _ => None,
      isNameCol: String => Boolean = _ => false)
      : Option[Seq[AggAnswer]] = {
    def integralFits(e: AttrStats, c: String): Boolean =
      typeOf(c).exists(LwesStats.integralFits(e, _))
    def attrAnswerable(c: String): Boolean =
      !nonAttrCols.contains(c) && !headerAttrs.contains(attrOf(c))
    // r20: MIN/MAX/COUNT over a PARTITION column answered from the
    // listing alone — every record in the file reads the file's own
    // path-derived value (`valueFor` materializes partition cols as
    // UTF8String unconditionally, so the StringType guard is also a
    // correctness guard), a file whose path lacks the key reads NULL
    // for every row, and a zero-record file contributes nothing. The
    // record count still comes from stats: bounds without a count
    // could claim a value for an empty file.
    //   partitionValue(c): None = not a partition column;
    //   Some(None) = partition column absent from this file's path;
    //   Some(Some(v)) = the file's value.
    def pcolBound(c: String): Option[AggAnswer] =
      stats.flatMap { st =>
        partitionValue(c).flatMap { pv =>
          if (!typeOf(c).contains(StringType)) None
          else pv match {
            case Some(v) if st.records > 0 =>
              Some(StrBoundAnswer(
                v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            case _ => Some(BoundAnswer(None)) // all-NULL or empty file
          }
        }
      }
    // r20: MIN/MAX over the EVENT-NAME column from the sidecar's
    // per-name counts — trusted under the A32 rule (namesComplete AND
    // the counts reconcile with the record total), the same contract
    // grouped-by-name COUNT(*) answers ride. The column materializes
    // `ev.name` as UTF8String and the tracker observed the identical
    // strings, so byte order = read-back order. The name column is
    // never NULL, hence COUNT(name) = records.
    def nameBound(c: String, wantMax: Boolean): Option[AggAnswer] =
      stats.flatMap { st =>
        if (!typeOf(c).contains(StringType)) None
        else if (st.records == 0L) Some(BoundAnswer(None))
        else if (st.namesComplete && st.names.nonEmpty &&
            st.names.values.sum == st.records &&
            st.names.valuesIterator.exists(_ > 0)) {
          // compare UTF-8 BYTES, not Strings: java.lang.String order is
          // UTF-16 code-unit order, which disagrees with UTF8String's
          // byte order on supplementary characters. Zero-count name
          // entries are excluded — a hand-edited sidecar could list a
          // name no record reads (mergeNameCounts guards the same way
          // so a zero-count name cannot create a group).
          val bs = st.names.iterator.filter(_._2 > 0)
            .map(_._1.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          Some(StrBoundAnswer(bs.reduce((a, b) =>
            if ((cmpB(a, b) > 0) == wantMax) a else b)))
        } else None // capped/old-format name stats: stream
      }
    def attrEntry(c: String): Option[Either[AttrStats, Unit]] =
      stats.flatMap { st =>
        st.attrs.get(attrOf(c)) match {
          case Some(e) => Some(Left(e))
          case None if st.complete => Some(Right(())) // proven absent
          case None => None
        }
      }
    val answers = funcs.map {
      // receipt bounds come from the name tag, never the sidecar: a
      // record whose event omitted the attr still reads the stamped
      // header 0-default, which the tag tracks and attr stats do not
      case LwesAggFunc.MinCol(_, true) =>
        receiptBounds.map(b => BoundAnswer(Some(b._1)))
      case LwesAggFunc.MaxCol(_, true) =>
        receiptBounds.map(b => BoundAnswer(Some(b._2)))
      case LwesAggFunc.CountStar => stats.map(st => CountAnswer(st.records))
      case LwesAggFunc.CountCol(c) if partitionValue(c).isDefined =>
        for {
          st <- stats; pv <- partitionValue(c)
          if typeOf(c).contains(StringType)
        } yield CountAnswer(if (pv.isDefined) st.records else 0L)
      case LwesAggFunc.MinCol(c, false) if partitionValue(c).isDefined =>
        pcolBound(c)
      case LwesAggFunc.MaxCol(c, false) if partitionValue(c).isDefined =>
        pcolBound(c)
      case LwesAggFunc.CountCol(c) if isNameCol(c) =>
        // the event-name column is never NULL
        if (!typeOf(c).contains(StringType)) None
        else stats.map(st => CountAnswer(st.records))
      case LwesAggFunc.MinCol(c, false) if isNameCol(c) =>
        nameBound(c, wantMax = false)
      case LwesAggFunc.MaxCol(c, false) if isNameCol(c) =>
        nameBound(c, wantMax = true)
      case LwesAggFunc.CountCol(c) if attrAnswerable(c) =>
        attrEntry(c) match {
          case Some(Left(e)) if integralFits(e, c) => Some(CountAnswer(e.count))
          case Some(Left(e)) if e.kind == 's' &&
              typeOf(c).contains(StringType) => Some(CountAnswer(e.count))
          // float/double wire → Float/Double column never nulls (both
          // conversions are total), so the observed count is the
          // non-null count — no allFloat requirement for COUNT
          case Some(Left(e)) if e.kind == 'd' && typeOf(c).exists(t =>
              t == FloatType || t == DoubleType) => Some(CountAnswer(e.count))
          case Some(Left(_)) => None // class/type mismatch: conversion may null
          case Some(Right(())) => Some(CountAnswer(0L))
          case None => None
        }
      case LwesAggFunc.MinCol(c, _) if attrAnswerable(c) =>
        attrEntry(c) match {
          case Some(Left(e)) if integralFits(e, c) => Some(BoundAnswer(Some(e.minL)))
          // string bounds answer only when EXACT values (r19): minExact
          // marks an untruncated min; the stored UTF-8 bytes are the
          // column's read-back bytes under every charset (the tracker
          // observes decoded values), and byte-wise order = UTF8String
          // order — no ascii requirement, unlike predicate pruning
          // (which compares against literals encoded elsewhere)
          case Some(Left(e)) if e.kind == 's' &&
              typeOf(c).contains(StringType) && e.minExact && e.minS != null =>
            Some(StrBoundAnswer(e.minS))
          // float/double MIN (r20): bounds are kept under Spark's own
          // MIN/MAX evaluation order (compareDoubles), so the stored
          // bound IS what the unpushed Min would produce; the dblFits
          // rule bars narrowing (double wire → FloatType) reads
          case Some(Left(e)) if typeOf(c).exists(dblFits(e, _)) =>
            Some(DblBoundAnswer(e.minD))
          case Some(Right(())) => Some(BoundAnswer(None))
          case _ => None
        }
      case LwesAggFunc.MaxCol(c, _) if attrAnswerable(c) =>
        attrEntry(c) match {
          case Some(Left(e)) if integralFits(e, c) => Some(BoundAnswer(Some(e.maxL)))
          case Some(Left(e)) if e.kind == 's' &&
              typeOf(c).contains(StringType) && !e.maxSInf && e.maxS != null =>
            Some(StrBoundAnswer(e.maxS))
          case Some(Left(e)) if typeOf(c).exists(dblFits(e, _)) =>
            Some(DblBoundAnswer(e.maxD))
          case Some(Right(())) => Some(BoundAnswer(None))
          case _ => None
        }
      // SUM (r19): exact under the same type-fit rule MIN/MAX use —
      // a narrowing read would truncate per VALUE, and a sum of
      // truncations is not a truncated sum. Tracked attrs without an
      // `sm=` (pre-r19 sidecars, overflow-guarded trackers) stream.
      case LwesAggFunc.SumCol(c) if attrAnswerable(c) =>
        attrEntry(c) match {
          case Some(Left(e)) if integralFits(e, c) && e.sum.isDefined =>
            Some(SumAnswer(e.sum))
          case Some(Right(())) => Some(SumAnswer(None))
          case _ => None
        }
      case _ => None
    }
    if (answers.exists(_.isEmpty)) None else Some(answers.map(_.get))
  }
}
