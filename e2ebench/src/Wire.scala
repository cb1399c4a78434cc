package e2ebench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Protobuf writer for the wire payloads the benchmark posts. The
  * benchmark encodes its own payloads rather than borrowing the
  * program's encoder, so an encoder bug in the program cannot make the
  * benchmark's inputs agree with its decoder.
  */
final class Pb {
  private val out = new ByteArrayOutputStream()

  def varint(v: Long): Pb = {
    var x = v
    while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    out.write(x.toInt); this
  }
  private def tag(field: Int, wire: Int): Pb = varint((field.toLong << 3) | wire)
  def bytes(field: Int, b: Array[Byte]): Pb = {
    tag(field, 2); varint(b.length.toLong); out.write(b); this
  }
  def str(field: Int, s: String): Pb = bytes(field, s.getBytes(UTF_8))
  def msg(field: Int, m: Pb): Pb = bytes(field, m.toByteArray)
  def vint(field: Int, v: Long): Pb = { tag(field, 0); varint(v) }
  def fix64(field: Int, v: Long): Pb = {
    tag(field, 1)
    var i = 0
    while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    this
  }
  def double(field: Int, v: Double): Pb =
    fix64(field, java.lang.Double.doubleToLongBits(v))
  def toByteArray: Array[Byte] = out.toByteArray
}

object Pb {
  /** OTLP KeyValue with a string AnyValue. */
  def kv(k: String, v: String): Pb = new Pb().str(1, k).msg(2, new Pb().str(1, v))
  /** OTLP KeyValue with an int AnyValue. */
  def kvInt(k: String, v: Long): Pb = new Pb().str(1, k).msg(2, new Pb().vint(3, v))

  /** Snappy block format with literal elements only: valid input for any
    * snappy decoder (remote-write and Loki push bodies are snappy).
    */
  def snappy(raw: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(raw.length + raw.length / 60000 * 3 + 8)
    var n = raw.length.toLong
    while ((n & ~0x7fL) != 0) { out.write(((n & 0x7f) | 0x80).toInt); n >>>= 7 }
    out.write(n.toInt)
    var pos = 0
    while (pos < raw.length) {
      val len = math.min(65536, raw.length - pos)
      if (len <= 60) out.write((len - 1) << 2)
      else {
        out.write(61 << 2) // two little-endian length bytes follow
        out.write((len - 1) & 0xff); out.write(((len - 1) >>> 8) & 0xff)
      }
      out.write(raw, pos, len)
      pos += len
    }
    out.toByteArray
  }
}
