package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** HyperLogLog registers with fixed, deterministic hashing — the counter the
  * reference's HyperBall runs on (`process_webgraph.sh:255-257`,
  * `webgraph_config.sh:14-28`: `--log2m` 10-12).
  *
  * Registers are a plain `Array[Byte]` so they travel through Spark
  * aggregations as BinaryType with zero custom serialization. The driver's
  * HyperBall keeps them packed eight to a `Long` (register j of a counter
  * is byte j % 8 of its word j / 8) and merges a word at a time
  * ([[maxBytes]]). A register is at most 64, so the top bit of every byte
  * is clear, and both forms give bit-identical estimates: they sum the
  * same table entries in the same order.
  */
object Hll {

  /** splitmix64 — deterministic 64-bit mix (public-domain constant set). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def emptyRegisters(log2m: Int): Array[Byte] = new Array[Byte](1 << log2m)

  /** Registers for a single element (a node id). */
  def singleton(value: Long, log2m: Int): Array[Byte] = {
    val regs = emptyRegisters(log2m)
    add(regs, value, log2m)
    regs
  }

  def add(regs: Array[Byte], value: Long, log2m: Int): Unit = {
    val h = mix64(value)
    val idx = index(h, log2m)
    val rho = rank(h, log2m)
    if (rho > regs(idx)) regs(idx) = rho.toByte
  }

  /** The register a hash goes to: its top `log2m` bits. */
  private def index(h: Long, log2m: Int): Int = (h >>> (64 - log2m)).toInt

  /** The register value of a hash: 1 + the leading zeros of its other
    * bits, at most 64.
    */
  private def rank(h: Long, log2m: Int): Int = {
    val w = h << log2m
    (if (w == 0) 64 - log2m else java.lang.Long.numberOfLeadingZeros(w)) + 1
  }

  /** In-place register-max merge of b into a; returns a. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  /** 2^-r for every register value r: exact powers of two, as
    * `Math.pow(2.0, -r)` gives them, without its cost per register.
    */
  private val PowNeg: Array[Double] = Array.tabulate(65)(r => java.lang.Math.scalb(1.0, -r))

  /** Standard HLL estimate with linear-counting small-range correction. */
  def estimate(regs: Array[Byte]): Double = {
    val m = regs.length
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = regs(i)
      sum += PowNeg(r)
      if (r == 0) zeros += 1
      i += 1
    }
    finish(m, sum, zeros)
  }

  /** Words per counter of `2^log2m` packed registers, padded to whole
    * words.
    */
  def packedWords(log2m: Int): Int = ((1 << log2m) + 7) / 8

  /** Adds `value` to the packed counter at word `at` of `words`. */
  def addPacked(words: Array[Long], at: Int, value: Long, log2m: Int): Unit = {
    val h = mix64(value)
    val idx = index(h, log2m)
    val k = at + (idx >>> 3)
    words(k) = maxBytes(words(k), rank(h, log2m).toLong << ((idx & 7) << 3))
  }

  private val TopBits = 0x8080808080808080L

  /** The bytewise max of two words whose bytes all have their top bit
    * clear. `(a | TopBits) - b` subtracts byte by byte without a borrow
    * crossing bytes, and keeps a byte's top bit where a's byte is at least
    * b's; that bit is then widened to a byte mask.
    */
  def maxBytes(a: Long, b: Long): Long = {
    val ge = ((a | TopBits) - b) & TopBits
    val mask = (ge - (ge >>> 7)) | ge
    (a & mask) | (b & ~mask)
  }

  /** [[estimate]] of the `2^log2m` packed registers at word `at` of
    * `words`, bit-identical to it on the same registers as bytes.
    */
  def estimatePacked(words: Array[Long], at: Int, log2m: Int): Double = {
    val m = 1 << log2m
    var sum = 0.0
    var zeros = 0
    var j = 0
    while (j < m) {
      var word = words(at + (j >>> 3))
      val end = math.min(m, j + 8)
      while (j < end) {
        val r = (word & 0xFF).toInt
        sum += PowNeg(r)
        if (r == 0) zeros += 1
        word >>>= 8
        j += 1
      }
    }
    finish(m, sum, zeros)
  }

  /** The estimate of `m` registers from the sum of 2^-r over them and the
    * count of zero registers.
    */
  private def finish(m: Int, sum: Double, zeros: Int): Double = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val e = alpha * m * m / sum
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
  }
}

/** Register-max merge aggregator (`TypedImperativeAggregate` capability via
  * the typed `Aggregator` API): merges HLL register arrays column-wise.
  */
class HllMergeAgg(log2m: Int) extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  override def zero: Array[Byte] = Hll.emptyRegisters(log2m)
  override def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] =
    if (in == null) buf else Hll.merge(buf, in)
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Hll.merge(a, b)
  override def finish(r: Array[Byte]): Array[Byte] = r
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
