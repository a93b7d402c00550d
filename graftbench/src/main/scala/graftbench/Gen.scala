package graftbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Deterministic input generation: everything here is a function of the
  * seed, so a parent commit and a change see byte-identical inputs (the
  * input digest records it), and every expected answer is computed from
  * the generated values without running graft. */
object Gen {
  /** 2023-11-15T00:00:00Z: the web journals span four UTC days from here. */
  val T0 = 1700006400000L
  val DayMs = 86400000L
  val Days = 4
  val EventTypes = Array("Web::Click", "Web::Impression", "Web::Error")
  val ErrorCodes = Array(500, 502, 503, 504)
  val Urls = 2000
  val Users = 50000
  val Ads = 500

  /** Zipf(s) sampler over 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
  private val urlZipf = new Zipf(Urls, 1.1)
  private val userZipf = new Zipf(Users, 0.9)
  private val adZipf = new Zipf(Ads, 1.2)

  def url(i: Int): String = s"/p/$i/index.html"
  def dtOf(time: Long): String =
    java.time.Instant.ofEpochMilli(time).toString.substring(0, 10)

  /** Columnar copy of every generated web event (index = req id). */
  final class WebEvents(val n: Int, val files: Seq[File]) {
    var digest = ""
    val etype = new Array[Byte](n) // index into EventTypes
    val time = new Array[Long](n)
    val site = new Array[Int](n)
    val url = new Array[Int](n) // click and error
    val user = new Array[Long](n) // click and impression
    val status = new Array[Int](n) // click
    val bytes = new Array[Long](n) // click
    val ad = new Array[Int](n) // impression
    val cost = new Array[Long](n) // impression
    def isClick(i: Int): Boolean = etype(i) == 0
  }

  /** Gzip web journals as a journaller captures them: 22-byte headers,
    * three event types, Zipf-skewed keys, uneven (or, for a size-rotated
    * backlog, equal) file sizes, strictly increasing receipt times across
    * the four days, no sidecars. */
  def web(dir: File, seed: Long, files: Int, events: Int, prefix: String = "capture",
      uneven: Boolean = true): WebEvents = {
    dir.mkdirs()
    // a fixed spread of file sizes (0.4x to 1.6x the mean) in seeded
    // order, so every seed plans the same task shapes
    val r0 = new SplittableRandom(seed)
    val weights = Array.tabulate(files)(k => if (uneven) 0.4 + 1.2 * k / math.max(1, files - 1) else 1.0)
    for (k <- weights.indices.reverse) { val j = r0.nextInt(k + 1); val t = weights(k); weights(k) = weights(j); weights(j) = t }
    val counts = weights.map(w => (w / weights.sum * events).toInt)
    val n = counts.sum
    val starts = counts.scanLeft(0)(_ + _)
    val step = Days * DayMs / n
    val paths = (0 until files).map(f => new File(dir, f"$prefix-$f%03d.gz"))
    val ev = new WebEvents(n, paths)
    parallel(files) { f =>
      val r = new SplittableRandom(seed * 1000003L + f)
      gzip(paths(f)) { out =>
        val enc = new Wire.Encoder
        var i = starts(f)
        while (i < starts(f + 1)) {
          val t = T0 + i * step + r.nextLong(step)
          val site = 1 + r.nextInt(8)
          val ip = (10 << 24) | (site << 8) | (1 + r.nextInt(200))
          val kind = { val u = r.nextInt(10); if (u < 6) 0 else if (u < 9) 1 else 2 }
          ev.etype(i) = kind.toByte; ev.time(i) = t; ev.site(i) = site
          enc.start(EventTypes(kind), t, ip, 7000 + site, site)
          kind match {
            case 0 =>
              val u = urlZipf.sample(r); val us = userZipf.sample(r).toLong + 1
              val st = { val x = r.nextInt(100); if (x < 85) 200 else if (x < 90) 301 else if (x < 97) 404 else 500 }
              val b = 200L + r.nextInt(50000)
              ev.url(i) = u; ev.user(i) = us; ev.status(i) = st; ev.bytes(i) = b
              enc.int64("req", i); enc.str("url", url(u)); enc.int64("user", us)
              enc.uint16("status", st); enc.int64("bytes", b)
            case 1 =>
              val a = adZipf.sample(r); val us = userZipf.sample(r).toLong + 1
              val c = 10L + r.nextInt(5000)
              ev.ad(i) = a; ev.user(i) = us; ev.cost(i) = c
              enc.int64("req", i); enc.int32("ad", a); enc.int64("user", us); enc.int64("cost", c)
            case _ =>
              val u = urlZipf.sample(r); val c = ErrorCodes(r.nextInt(ErrorCodes.length))
              ev.url(i) = u
              enc.int64("req", i); enc.int32("code", c); enc.str("url", url(u))
          }
          enc.finish(out)
          i += 1
        }
      }
    }
    ev.digest = digest(paths)
    ev
  }

  /** A generated document corpus for the curate pipeline, with its
    * planted duplicate structure and the doc ids the pipeline must keep. */
  final class Docs(val ids: Array[Long], val texts: Array[String],
      val kept: Set[Long], val plantedPairs: Long,
      val files: Seq[File], val digest: String)

  /** A document journal (event `Doc::Page`) with planted exact-duplicate
    * families, near-duplicate families (one token of a clean original
    * replaced by a 16-digit number, which lowers the copy's quality
    * score) and singletons of spread length and quality. Kept set: the
    * singletons, the smallest id of each exact family (quality ties) and
    * the clean original of each near family. */
  def docs(dir: File, seed: Long, n: Int, files: Int): Docs = {
    dir.mkdirs()
    val r = new SplittableRandom(seed ^ 0x5eedd0c5L)
    val vocab = Array.tabulate(3000) { i =>
      val len = 3 + new SplittableRandom(i * 7919L).nextInt(7)
      val rr = new SplittableRandom(i * 104729L + 17)
      (0 until len).map(_ => ('a' + rr.nextInt(26)).toChar).mkString
    }
    val wz = new Zipf(vocab.length, 1.0)
    def text(tokens: Int, noisy: Boolean): Array[String] = Array.tabulate(tokens) { _ =>
      if (noisy && r.nextInt(6) == 0) (if (r.nextBoolean()) "!!" else r.nextInt(1000).toString)
      else vocab(wz.sample(r))
    }
    // groups: (texts, kind) kind 0 single, 1 exact family, 2 near family (first = original)
    val groups = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Int)]
    var planted = 0L
    var made = 0
    while (made < n) {
      val u = r.nextInt(100)
      if (u < 12 && made + 4 <= n) {
        val size = 2 + r.nextInt(3)
        val t = text(60 + r.nextInt(120), noisy = false).mkString(" ")
        groups += ((Seq.fill(size)(t), 1)); made += size; planted += size * (size - 1) / 2
      } else if (u < 27 && made + 4 <= n) {
        val size = 2 + r.nextInt(3)
        val orig = text(110 + r.nextInt(90), noisy = false)
        val copies = (1 until size).map { _ =>
          val c = orig.clone()
          c(r.nextInt(c.length)) = f"${r.nextLong(1000000000000000L)}%016d"
          c.mkString(" ")
        }
        groups += ((orig.mkString(" ") +: copies, 2)); made += size; planted += size * (size - 1) / 2
      } else {
        groups += ((Seq(text(15 + r.nextInt(200), noisy = r.nextInt(4) == 0).mkString(" ")), 0)); made += 1
      }
    }
    val total = made
    // seeded permutation of ids, so family members do not sit in id order
    val perm = (1L to total.toLong).toArray
    for (i <- perm.indices.reverse) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t }
    val ids = new Array[Long](total); val texts = new Array[String](total); val sources = new Array[String](total)
    val kept = Set.newBuilder[Long]
    var k = 0
    groups.foreach { case (ts, kind) =>
      val gids = ts.indices.map(j => perm(k + j))
      ts.indices.foreach { j =>
        ids(k + j) = gids(j); texts(k + j) = ts(j); sources(k + j) = s"src${r.nextInt(40)}"
      }
      kept += (kind match { case 1 => gids.min; case _ => gids.head })
      k += ts.size
    }
    val paths = (0 until files).map(f => new File(dir, f"docs-$f%03d.gz"))
    parallel(files) { f =>
      gzip(paths(f)) { out =>
        val enc = new Wire.Encoder
        var i = f
        while (i < total) {
          enc.start("Doc::Page", T0 + i * 1000L, (10 << 24) | 9, 7100, 1)
          enc.int64("doc_id", ids(i)); enc.str("text", texts(i)); enc.str("source", sources(i))
          enc.finish(out)
          i += files
        }
      }
    }
    new Docs(ids, texts, kept.result(), planted, paths, digest(paths))
  }

  def gzip(f: File)(body: OutputStream => Unit): Unit = {
    val out = new BufferedOutputStream(new GZIPOutputStream(new FileOutputStream(f), 1 << 16), 1 << 16)
    try body(out) finally out.close()
  }

  def digest(files: Seq[File]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.sortBy(_.getName).foreach { f =>
      md.update(f.getName.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Run `body(i)` for i in 0 until n on up to four threads. */
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, n))
    try {
      val fs = (0 until n).map(i => pool.submit(new Runnable { def run(): Unit = body(i) }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }
}
