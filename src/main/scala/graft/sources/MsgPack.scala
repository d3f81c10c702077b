package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** Minimal MessagePack codec — the subset the reference's .pldata streams
  * use (externals/file_methods.py:133-193): nil, bool, ints, float32/64,
  * str, bin, array, map. Zero dependencies (the container has no msgpack
  * jar); implemented from the public MessagePack spec.
  *
  * Decoded values: Map[String, Any] / Vector[Any] / Long / Double /
  * String / Array[Byte] / Boolean / null.
  */
object MsgPack {

  // ------------------------------------------------------------- decode

  /** Deepest array/map nesting a [[Reader]] accepts. pldata records nest
    * at most 4 deep (record pair → payload map → detector dict → array);
    * the bound keeps a crafted stream of nested headers from recursing
    * the decoder into a `StackOverflowError`, which `NonFatal` does not
    * match. */
  final val MaxDepth = 16

  final class Reader(buf: ByteBuffer) {
    def hasNext: Boolean = buf.hasRemaining

    def unpack(): Any = value(0)

    private def value(depth: Int): Any = {
      val b = buf.get() & 0xff
      b match {
        case x if x <= 0x7f => x.toLong // positive fixint
        case x if x >= 0xe0 => (x - 256).toLong // negative fixint
        case x if (x & 0xf0) == 0x80 => readMap(x & 0x0f, depth) // fixmap
        case x if (x & 0xf0) == 0x90 => readArray(x & 0x0f, depth) // fixarray
        case x if (x & 0xe0) == 0xa0 => readStr(x & 0x1f) // fixstr
        case 0xc0 => null
        case 0xc2 => false
        case 0xc3 => true
        case 0xc4 => readBin(buf.get() & 0xff)
        case 0xc5 => readBin(buf.getShort() & 0xffff)
        case 0xc6 => readBin(buf.getInt())
        case 0xca => buf.getFloat().toDouble
        case 0xcb => buf.getDouble()
        case 0xcc => (buf.get() & 0xffL)
        case 0xcd => (buf.getShort() & 0xffffL)
        case 0xce => (buf.getInt() & 0xffffffffL)
        case 0xcf => buf.getLong() // uint64 (assume < 2^63 in practice)
        case 0xd0 => buf.get().toLong
        case 0xd1 => buf.getShort().toLong
        case 0xd2 => buf.getInt().toLong
        case 0xd3 => buf.getLong()
        case 0xd9 => readStr(buf.get() & 0xff)
        case 0xda => readStr(buf.getShort() & 0xffff)
        case 0xdb => readStr(buf.getInt())
        case 0xdc => readArray(buf.getShort() & 0xffff, depth)
        case 0xdd => readArray(buf.getInt(), depth)
        case 0xde => readMap(buf.getShort() & 0xffff, depth)
        case 0xdf => readMap(buf.getInt(), depth)
        case other =>
          throw new IllegalArgumentException(f"unsupported msgpack byte 0x$other%02x")
      }
    }

    // every length/count is validated BEFORE allocation or iteration:
    // a corrupt str32/bin32 length must fail loudly, not allocate up to
    // 2 GB first; and a corrupt NEGATIVE array32/map32 count must fail,
    // not silently decode as EMPTY (Vector.fill(n<=0) returns empty —
    // the silent-wrong-result class, worse than a throw here because
    // the pldata readers' failure contract is the S7 sentinel tier)
    private def checkLen(n: Int, what: String): Int = {
      if (n < 0 || n > buf.remaining())
        throw new IllegalArgumentException(
          s"msgpack $what length $n exceeds remaining ${buf.remaining()}")
      n
    }
    private def readStr(n: Int): String = {
      val a = new Array[Byte](checkLen(n, "str")); buf.get(a)
      new String(a, "UTF-8")
    }
    private def readBin(n: Int): Array[Byte] = {
      val a = new Array[Byte](checkLen(n, "bin")); buf.get(a); a
    }
    private def nested(depth: Int): Int = {
      if (depth >= MaxDepth)
        throw new IllegalArgumentException(
          s"msgpack nesting deeper than $MaxDepth before byte offset ${buf.position()}")
      depth + 1
    }
    private def readArray(n: Int, depth: Int): Vector[Any] = {
      val d = nested(depth)
      Vector.fill(checkLen(n, "array"))(value(d))
    }
    private def readMap(n: Int, depth: Int): Map[String, Any] = {
      val d = nested(depth)
      (0 until checkLen(n, "map")).map { _ =>
        val at = buf.position()
        val k = value(d)
        if (k == null)
          throw new IllegalArgumentException(s"msgpack nil map key at byte offset $at")
        k.toString -> value(d)
      }.toMap
    }
  }

  def reader(bytes: Array[Byte]): Reader =
    new Reader(ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN))

  /** Decode every top-level object in a byte stream. */
  def unpackStream(bytes: Array[Byte]): Vector[Any] = {
    val r = reader(bytes)
    val out = Vector.newBuilder[Any]
    while (r.hasNext) out += r.unpack()
    out.result()
  }

  /** Decode only the FIRST value of a stream (None when empty) — schema
    * inference reads one record, not the whole session file. */
  def unpackFirst(bytes: Array[Byte]): Option[Any] = {
    val r = reader(bytes)
    if (r.hasNext) Some(r.unpack()) else None
  }

  // ------------------------------------------------------------- encode

  def pack(v: Any): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    write(out, v)
    out.toByteArray
  }

  private def write(o: ByteArrayOutputStream, v: Any): Unit = v match {
    case null => o.write(0xc0)
    case b: Boolean => o.write(if (b) 0xc3 else 0xc2)
    case i: Int => write(o, i.toLong)
    case l: Long =>
      if (l >= 0 && l <= 0x7f) o.write(l.toInt)
      else if (l < 0 && l >= -32) o.write((l & 0xff).toInt)
      else { o.write(0xd3); o.write(be(ByteBuffer.allocate(8).putLong(l))) }
    case d: Double =>
      o.write(0xcb); o.write(be(ByteBuffer.allocate(8).putDouble(d)))
    case f: Float => write(o, f.toDouble)
    case s: String =>
      val b = s.getBytes("UTF-8")
      o.write(0xdb); o.write(be(ByteBuffer.allocate(4).putInt(b.length)))
      o.write(b)
    case b: Array[Byte] =>
      o.write(0xc6); o.write(be(ByteBuffer.allocate(4).putInt(b.length)))
      o.write(b)
    case m: collection.Map[_, _] =>
      o.write(0xdf); o.write(be(ByteBuffer.allocate(4).putInt(m.size)))
      m.foreach { case (k, x) => write(o, String.valueOf(k)); write(o, x) }
    case s: collection.Seq[_] =>
      o.write(0xdd); o.write(be(ByteBuffer.allocate(4).putInt(s.size)))
      s.foreach(write(o, _))
    case (a, b) => // 2-tuple as fixarray (the pldata (topic, payload) pair)
      o.write(0x92); write(o, a); write(o, b)
    case other =>
      throw new IllegalArgumentException(s"cannot pack ${other.getClass}")
  }

  private def be(b: ByteBuffer): Array[Byte] = b.array()
}
