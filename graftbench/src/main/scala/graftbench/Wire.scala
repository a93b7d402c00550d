package graftbench

import java.io.{BufferedInputStream, DataInputStream, EOFException, File, FileInputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's own LWES journal codec, written from the public wire
  * format and independent of graft: the encoder makes the raw inputs, and
  * the decoder checks what graft wrote. Neither shares code with the
  * program under test, so a defect common to graft's writer and reader
  * cannot hide from the checks.
  *
  * Record = 22-byte header (uint16 payload length, int64 receipt millis,
  * 4-byte IPv4 reversed, uint16 port, uint16 site, 4 zero bytes) followed
  * by the event: byte nameLen, name, uint16 attrCount, then per attribute
  * byte keyLen, key, byte type token, value (big-endian).
  */
object Wire {
  val UInt16: Byte = 0x01
  val Int16: Byte = 0x02
  val UInt32: Byte = 0x03
  val Int32: Byte = 0x04
  val Str: Byte = 0x05
  val IpAddr: Byte = 0x06
  val Int64: Byte = 0x07
  val UInt64: Byte = 0x08
  val Bool: Byte = 0x09
  val ByteT: Byte = 0x0a
  val Float: Byte = 0x0b
  val Double: Byte = 0x0c

  /** Builds one journal record at a time into a reusable buffer. */
  final class Encoder {
    private var buf = new Array[Byte](1 << 12)
    private var pos = 0
    private var countPos = 0
    private var count = 0

    private def ensure(n: Int): Unit =
      if (pos + n > buf.length) buf = java.util.Arrays.copyOf(buf, (pos + n) * 2)
    private def u8(v: Int): Unit = { ensure(1); buf(pos) = v.toByte; pos += 1 }
    private def u16(v: Int): Unit = { ensure(2); buf(pos) = (v >> 8).toByte; buf(pos + 1) = v.toByte; pos += 2 }
    private def i32(v: Int): Unit = { u16(v >>> 16); u16(v & 0xffff) }
    private def i64(v: Long): Unit = { i32((v >>> 32).toInt); i32(v.toInt) }
    private def bytes(b: Array[Byte]): Unit = { ensure(b.length); System.arraycopy(b, 0, buf, pos, b.length); pos += b.length }
    private def key(k: String, token: Byte): Unit = {
      val kb = k.getBytes(UTF_8); u8(kb.length); bytes(kb); u8(token); count += 1
    }

    /** Start a record; header fields are written now, the payload length
      * is patched in by [[finish]]. */
    def start(name: String, time: Long, ip: Int, port: Int, site: Int): Unit = {
      pos = 0
      u16(0); i64(time)
      u8(ip); u8(ip >>> 8); u8(ip >>> 16); u8(ip >>> 24) // reversed
      u16(port); u16(site); i32(0)
      val nb = name.getBytes(UTF_8); u8(nb.length); bytes(nb)
      countPos = pos; u16(0); count = 0
    }
    def str(k: String, v: String): Unit = { key(k, Str); val b = v.getBytes(UTF_8); u16(b.length); bytes(b) }
    def int32(k: String, v: Int): Unit = { key(k, Int32); i32(v) }
    def int64(k: String, v: Long): Unit = { key(k, Int64); i64(v) }
    def uint16(k: String, v: Int): Unit = { key(k, UInt16); u16(v) }

    def finish(out: OutputStream): Unit = {
      val len = pos - 22
      require(len <= 0xffff, s"record of $len bytes")
      buf(0) = (len >> 8).toByte; buf(1) = len.toByte
      buf(countPos) = (count >> 8).toByte; buf(countPos + 1) = count.toByte
      out.write(buf, 0, pos)
    }
  }

  /** A decoded record: header receipt time, event name and the scalar
    * attributes (integers as Long, strings as String). */
  final case class Record(time: Long, name: String, attrs: Map[String, Any])

  def open(f: File): InputStream = {
    val raw = new FileInputStream(f)
    val n = f.getName
    if (n.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw, 1 << 16)
    else new com.github.luben.zstd.ZstdInputStream(raw) // .zsj: a multi-frame zstd stream
  }

  /** Every record of one journal file. */
  def read(f: File): Iterator[Record] = {
    val in = new DataInputStream(new BufferedInputStream(open(f), 1 << 16))
    new Iterator[Record] {
      private var nextRec: Record = advance()
      private def advance(): Record = {
        val len = try in.readUnsignedShort() catch { case _: EOFException => in.close(); return null }
        val time = in.readLong()
        in.skipNBytes(12)
        val payload = new Array[Byte](len)
        in.readFully(payload)
        decode(time, java.nio.ByteBuffer.wrap(payload))
      }
      def hasNext: Boolean = nextRec != null
      def next(): Record = { val r = nextRec; nextRec = advance(); r }
    }
  }

  private def decode(time: Long, b: java.nio.ByteBuffer): Record = {
    def s8(): String = { val n = b.get() & 0xff; val a = new Array[Byte](n); b.get(a); new String(a, UTF_8) }
    val name = s8()
    val n = b.getShort() & 0xffff
    val attrs = Map.newBuilder[String, Any]
    var i = 0
    while (i < n) {
      val k = s8()
      val v: Any = b.get() match {
        case UInt16 => (b.getShort() & 0xffff).toLong
        case Int16 => b.getShort().toLong
        case UInt32 => b.getInt() & 0xffffffffL
        case Int32 => b.getInt().toLong
        case Int64 | UInt64 => b.getLong()
        case Str => val a = new Array[Byte](b.getShort() & 0xffff); b.get(a); new String(a, UTF_8)
        case IpAddr => b.getInt().toLong
        case Bool => (b.get() != 0)
        case ByteT => b.get().toLong
        case Float => b.getFloat().toDouble
        case Double => b.getDouble()
        case t => throw new IllegalStateException(s"unexpected type token $t for $k")
      }
      attrs += k -> v
      i += 1
    }
    Record(time, name, attrs.result())
  }

  /** Journal files of a directory tree, skipping hidden and metadata files. */
  def journals(dir: File): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
        .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_")).flatMap(walk)
      else Seq(f)
    walk(dir).filter(f => f.getName.endsWith(".gz") || f.getName.endsWith(".zsj"))
  }

  /** Order-independent 64-bit digest term of a row: sum these over a set. */
  def mix(fields: Any*): Long = {
    var h = 0x9e3779b97f4a7c15L
    fields.foreach { f =>
      val v = f match {
        case l: Long => l
        case i: Int => i.toLong
        case s: String => s.hashCode.toLong * 0x5851f42d4c957f2dL + s.length
        case null => 0x1234567L
        case o => o.hashCode.toLong
      }
      h = java.lang.Long.rotateLeft(h ^ v * 0xbf58476d1ce4e5b9L, 31) * 0x94d049bb133111ebL
    }
    h ^ (h >>> 29)
  }
}
