package graft.pgwire

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** A growable byte buffer that wire values and whole messages are
  * written into: one per connection for result rows, so a DataRow is
  * built without per-value allocations and leaves in one `write`.
  */
final class WireBuf(initial: Int = 256) {
  private var arr = new Array[Byte](initial)
  private var len = 0

  def size: Int = len

  private def grow(need: Int): Unit =
    arr = java.util.Arrays.copyOf(arr, math.max(need, arr.length * 2))

  @inline private def ensure(n: Int): Unit =
    if (len + n > arr.length) grow(len + n)

  def byte(b: Int): Unit = { ensure(1); arr(len) = b.toByte; len += 1 }

  def int2(v: Int): Unit = {
    ensure(2)
    arr(len) = (v >> 8).toByte; arr(len + 1) = v.toByte
    len += 2
  }

  def int4(v: Int): Unit = { ensure(4); putInt(len, v); len += 4 }

  def int8(v: Long): Unit = { int4((v >>> 32).toInt); int4(v.toInt) }

  private def putInt(at: Int, v: Int): Unit = {
    arr(at) = (v >> 24).toByte; arr(at + 1) = (v >> 16).toByte
    arr(at + 2) = (v >> 8).toByte; arr(at + 3) = v.toByte
  }

  def bytes(b: Array[Byte]): Unit = {
    ensure(b.length)
    System.arraycopy(b, 0, arr, len, b.length)
    len += b.length
  }

  /** A string whose characters are all ASCII, one byte each. */
  def ascii(s: String): Unit = {
    val n = s.length
    ensure(n)
    var i = 0
    while (i < n) { arr(len + i) = s.charAt(i).toByte; i += 1 }
    len += n
  }

  /** A string's UTF-8 bytes: ASCII byte by byte, anything else through
    * the JDK encoder (which also maps unpaired surrogates to '?'). */
  def utf8(s: String): Unit = {
    val n = s.length
    ensure(n)
    var i = 0
    while (i < n && s.charAt(i) < 0x80) { arr(len + i) = s.charAt(i).toByte; i += 1 }
    if (i == n) len += n
    else bytes(s.getBytes(UTF_8))
  }

  /** Decimal text of a long. */
  def digits(v: Long): Unit =
    if (v == Long.MinValue) ascii("-9223372036854775808")
    else {
      if (v < 0) byte('-')
      val a = math.abs(v)
      var n = 1
      var p = 10L
      while (n < 19 && a >= p) { n += 1; p *= 10 }
      ensure(n)
      var i = len + n - 1
      var x = a
      while (i >= len) { arr(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
      len += n
    }

  /** `%0{width}d`: zero-padded to `width` characters, a minus sign
    * counting toward the width. */
  def padded(v: Long, width: Int): Unit = {
    val a = math.abs(v)
    var n = 1
    var p = 10L
    while (n < 19 && a >= p) { n += 1; p *= 10 }
    if (v < 0) byte('-')
    var z = width - n - (if (v < 0) 1 else 0)
    while (z > 0) { byte('0'); z -= 1 }
    digits(a)
  }

  /** Reserve an int32 to be filled by [[lengthFrom]]; returns its offset. */
  def reserve4(): Int = { ensure(4); len += 4; len - 4 }

  /** Fill the int32 at `at` with the number of bytes written after it. */
  def lengthFrom(at: Int): Unit = putInt(at, len - at - 4)

  // ---- random access for in-place rewriting (composite quoting) ----

  def at(i: Int): Byte = arr(i)

  /** Drop everything written from `from` on. */
  def truncate(from: Int): Unit = len = from

  def copy(from: Int, until: Int): Array[Byte] = java.util.Arrays.copyOfRange(arr, from, until)

  def string(from: Int, until: Int): String = new String(arr, from, until - from, UTF_8)

  def toArray: Array[Byte] = java.util.Arrays.copyOf(arr, len)

  override def toString: String = string(0, len)

  // ---- message framing ----

  /** Start a backend message of type `tpe`, discarding earlier bytes. */
  def begin(tpe: Char): Unit = { reset(); byte(tpe); reserve4() }

  /** Fill in the message length, write the message and empty the
    * buffer. */
  def send(out: OutputStream): Unit = {
    putInt(1, len - 1) // the length counts itself, not the type byte
    out.write(arr, 0, len)
    reset()
  }

  /** Empty the buffer; one grown past 1 MiB by a huge value is let go. */
  def reset(): Unit = {
    len = 0
    if (arr.length > WireBuf.Retain) arr = new Array[Byte](initial)
  }
}

object WireBuf {
  private val Retain = 1 << 20
  private val local = ThreadLocal.withInitial[WireBuf](() => new WireBuf(64))

  /** This thread's scratch buffer, emptied: the per-value adapters write
    * a value here and copy out the result. Column writers never call an
    * adapter, so one value is in it at a time. */
  def scratch(): WireBuf = { val b = local.get; b.reset(); b }
}

/** Writes one non-null value of a column in its wire form (text or
  * binary). Built once per column per result; everything about the
  * column — its type, metadata and output-format settings — is
  * decided then, so writing a value is a direct append.
  */
abstract class ColWriter {
  def write(v: Any, b: WireBuf): Unit
}

/** One result's DataRow body encoder: a column writer per field, picked
  * from the schema, the per-column result formats and the session's
  * output-format settings when rows start streaming.
  */
final class RowWriter(cols: Array[ColWriter]) {

  /** int16 column count, then per column int32 length (-1 = NULL) and
    * bytes: a DataRow body, and also a binary COPY tuple. */
  def write(row: Row, b: WireBuf): Unit = {
    b.int2(cols.length)
    var i = 0
    while (i < cols.length) {
      if (row.isNullAt(i)) b.int4(-1)
      else {
        val at = b.reserve4()
        cols(i).write(row.get(i), b)
        b.lengthFrom(at)
      }
      i += 1
    }
  }
}

object RowWriter {
  /** `format(i)`: 0 text, 1 binary for column `i`. */
  def apply(schema: StructType, format: Int => Short, fmt: TextEncoder.Fmt): RowWriter =
    new RowWriter(schema.fields.zipWithIndex.map { case (f, i) =>
      if (format(i) == 1) BinaryEncoder.writer(f) else TextEncoder.writer(f, fmt)
    })
}
