package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Java-friendly shim over [[Kernels]] for generated code: null instead
  * of Option, UTF8String in/out where the caller is Tungsten. Scala
  * objects emit static forwarders, so codegen can call
  * `graft.functions.JKernels.method(...)` directly.
  */
object JKernels {

  def parseDurationSeconds(s: UTF8String): java.lang.Double =
    if (s == null) null
    else Kernels.parseDurationSeconds(s.toString).map(Double.box).orNull

  def parseBytes(s: UTF8String): java.lang.Double =
    if (s == null) null
    else Kernels.parseBytes(s.toString).map(Double.box).orNull

  def ipMatches(ip: UTF8String, pattern: UTF8String): Boolean =
    ip != null && pattern != null && Kernels.ipMatches(ip.toString, pattern.toString)

  def lineIpMatches(line: UTF8String, pattern: UTF8String): Boolean =
    line != null && pattern != null && Kernels.lineIpMatches(line.toString, pattern.toString)

  def logfmtGet(line: UTF8String, key: UTF8String): UTF8String =
    if (line == null || key == null) null
    else Kernels.logfmtGet(line.toString, key.toString)
      .map(UTF8String.fromString).orNull

  def decolorize(line: UTF8String): UTF8String =
    if (line == null) null
    else UTF8String.fromString(Kernels.decolorize(line.toString))

  /** Unicode NFC normalization (combining sequences compose to their
    * canonical precomposed forms). The fast path skips the Normalizer
    * when the JDK's quick-check says the string is already NFC — true
    * for almost all real training text, so the common case is one scan.
    */
  def nfcNormalize(s: UTF8String): UTF8String = {
    if (s == null) return null
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def severityText(num: Int): UTF8String =
    UTF8String.fromString(Kernels.severityText(num))

  def deduceSeverity(text: UTF8String): Int =
    if (text == null) 0 else Kernels.deduceSeverity(text.toString)

  // Stateless and thread-safe; shaded into parquet-column (on every
  // Spark classpath) from the public-domain openhft implementation of
  // Yann Collet's XXH3. KAT-verified against the published canonical
  // vectors in KernelsSpec.
  private val Xx128 =
    shaded.parquet.net.openhft.hashing.LongTupleHashFunction.xx128()

  /** Canonical XXH3-128 digest: big-endian high64 ++ low64, the
    * XXH128_canonicalFromHash byte order — bit-compatible with the
    * reference's series hashes (otelstorage/hash.go:25-107).
    */
  def xxh3_128(b: Array[Byte]): Array[Byte] = {
    val r = Xx128.hashBytes(b) // r(0)=low64, r(1)=high64
    val out = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      out(i) = (r(1) >>> (56 - 8 * i)).toByte
      out(i + 8) = (r(0) >>> (56 - 8 * i)).toByte
      i += 1
    }
    out
  }

  def xxh3_128(s: UTF8String): Array[Byte] =
    if (s == null) null else xxh3_128(s.getBytes)

  /** `| json` flatten → catalyst map<string,string>; null when the body
    * is not one well-formed JSON object (the __error__ path).
    */
  def jsonFlatten(line: UTF8String): org.apache.spark.sql.catalyst.util.MapData =
    if (line == null) null
    else Kernels.jsonFlatten(line.toString) match {
      case None => null
      case Some(kvs) =>
        val ks = new Array[Any](kvs.length)
        val vs = new Array[Any](kvs.length)
        var i = 0
        kvs.foreach { case (k, v) =>
          ks(i) = UTF8String.fromString(k)
          vs(i) = UTF8String.fromString(v)
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(ks),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(vs))
    }

  /** cosine(a, b) in ONE fused pass (dot + both norms), widening each
    * element to double — the codegen replacement for the interpreted
    * aggregate(zip_with(...)) fold (≈µs/row/centroid, SCALE.md) that
    * dominated the IVF assignment pass.
    *
    * Edge semantics (explicit, not silent): mismatched lengths and null
    * elements RAISE — both indicate corrupt embedding data that should
    * fail the job, not skew the ranking; a zero-norm vector yields 0.0
    * ("no similarity"), keeping top-k ordering NaN-free.
    */
  def cosine(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData,
      aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_cosine_sim: length mismatch ($n vs ${b.numElements()})")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_cosine_sim: null element at index $i")
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Lossy float precision: retain `bits` significant mantissa bits
    * (reference storage-policy PrecisionTierConfig, storage_policy.go:
    * 43-49 — "Bits is the significant mantissa bits retained (1..63);
    * 0 or >=64 => lossless"). Rounds to nearest: the carry may
    * propagate into the exponent, which IS the correctly rounded IEEE
    * value; a carry that would round past the largest finite double
    * falls back to truncation instead of producing Inf. NaN/Inf pass
    * through unchanged. Zeroed low mantissa bits make the column
    * compress far better (parquet byte-stream-split / dictionary) at a
    * bounded relative error of 2^-(bits+1).
    */
  def truncateMantissa(v: Double, bits: Int): Double = {
    if (bits <= 0 || bits >= 52 ||
        java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else {
      val raw = java.lang.Double.doubleToRawLongBits(v)
      val sign = raw & 0x8000000000000000L
      val mag = raw & 0x7fffffffffffffffL
      val drop = 52 - bits
      val mask = (1L << drop) - 1L
      var r = (mag + (1L << (drop - 1))) & ~mask
      if (r >= 0x7ff0000000000000L) r = mag & ~mask
      java.lang.Double.longBitsToDouble(sign | r)
    }
  }
}
