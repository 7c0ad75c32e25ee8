package graft.sources

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic per-file BLOOM FILTER for manifest-level point-lookup
  * skipping — the "beyond min/max" index class real formats ship as
  * SIDECAR files (Iceberg's puffin, Delta's bloom index directories,
  * parquet's own column blooms): range stats prune on the CLUSTERED
  * column(s), but a point lookup on an UNclustered column intersects
  * every file's [min, max] and range stats prune nothing — a bloom
  * answers "definitely absent" per file instead.
  *
  * Self-authored double hashing (two splitmix64 finalizers) so both
  * the build and the membership test are bit-deterministic across
  * engines and JVMs: position_i = (h1 + i·h2) mod m. False positives
  * cost a wasted read, never a wrong answer (the exact row predicate
  * still applies); false negatives cannot occur for inserted values. */
object FileBloom {

  /** splitmix64 finalizer (Steele et al., public constants). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Bit positions of `v` in an m-bit filter (m a power of two), k
    * probes by double hashing; h2 forced odd so all k positions are
    * distinct mod m. */
  def positions(v: Long, m: Int, k: Int): Array[Int] = {
    val h1 = mix(v)
    val h2 = mix(h1) | 1L
    Array.tabulate(k)(i => (((h1 + i * h2) % m + m) % m).toInt)
  }

  /** Smallest power-of-two bit count giving ~16 bits per distinct
    * value (fp ≈ 0.2% at k = 4), floored at 1024. */
  def sizeFor(ndv: Long): Int = {
    var m = 1024
    while (m < ndv * 16 && m < (1 << 28)) m <<= 1
    m
  }

  /** Canonical LONG key of a STRING bloom value (r17): FNV-1a 64 over
    * the UTF-8 bytes — self-authored and bit-deterministic across
    * JVMs, like the probe hashing above. Both the writer's fold and
    * the read-side membership test key strings through here, so the
    * bloom contract (no false negatives for inserted values) holds
    * for string columns exactly as for longs. */
  def strKey(s: String): Long = utf8Key(UTF8String.fromString(s))

  /** [[strKey]] over a Spark string's own UTF-8 bytes, read in place. */
  def utf8Key(s: UTF8String): Long = {
    var h = 0xcbf29ce484222325L
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i < s.numBytes) {
      h ^= Platform.getByte(base, off + i) & 0xffL
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def build(values: Iterator[Long], m: Int, k: Int): Array[Byte] = {
    val bits = new Array[Byte](m / 8)
    values.foreach { v =>
      positions(v, m, k).foreach(p => bits(p >> 3) =
        (bits(p >> 3) | (1 << (p & 7))).toByte)
    }
    bits
  }

  def mightContain(bits: Array[Byte], m: Int, k: Int, v: Long): Boolean =
    positions(v, m, k).forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0)

  /** DISTRIBUTED bloom build as a Spark typed Aggregator: executors
    * fold values into per-partition bit arrays and merge by OR, so the
    * driver receives only each group's FINAL m/8 bytes — never the
    * values (the production writer shape; the earlier build collected
    * per-file distinct values, bounded but value-sized). The filter
    * size `m` rides as the second input column so one aggregation can
    * build differently-sized blooms per group; the buffer sizes itself
    * lazily from the first row and merge checks the sizes agree. */
  final class BitsAgg extends org.apache.spark.sql.expressions
      .Aggregator[(Long, Int), Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = Array.emptyByteArray
    override def reduce(buf: Array[Byte],
        in: (Long, Int)): Array[Byte] = {
      val (v, m) = in
      val b = if (buf.isEmpty) new Array[Byte](m / 8) else buf
      require(b.length == m / 8,
        s"bloom size mismatch within one group: ${b.length * 8} vs $m")
      positions(v, m, 4).foreach(p =>
        b(p >> 3) = (b(p >> 3) | (1 << (p & 7))).toByte)
      b
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (a.isEmpty) b else if (b.isEmpty) a
      else {
        require(a.length == b.length, "bloom size mismatch across partitions")
        val out = new Array[Byte](a.length)
        var i = 0
        while (i < a.length) { out(i) = (a(i) | b(i)).toByte; i += 1 }
        out
      }
    override def finish(buf: Array[Byte]): Array[Byte] = buf
    override def bufferEncoder
        : org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    override def outputEncoder
        : org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** The [[BitsAgg]] as an untyped column function: bits(value, m). */
  def bitsAgg: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new BitsAgg,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaInt))
}
