package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The v2 deletion-vector codec (SURVEY §8.3.2-1): roaring-style
  * containers — array ≤4096 dead rows, 8 KB bitmap above — with
  * canonical, idempotent bytes; pre-v2 bytes are refused. */
class DvCodecSpec extends AnyFunSuite {
  import ManifestLog.{decodeDv, encodeDv}

  private def roundTrip(xs: Array[Long]): Unit = {
    val back = decodeDv(encodeDv(xs), "t.dv")
    assert(back.toSeq == xs.distinct.sorted.toSeq, xs.take(10).toSeq)
  }

  test("round trip: sparse, dense, container boundaries, multi-" +
      "container, high indexes, empty") {
    roundTrip(Array.empty[Long])
    roundTrip(Array(0L))
    roundTrip(Array(65535L, 0L, 65535L)) // dedup + edges of container 0
    roundTrip(Array(65536L, 65535L))     // straddles two containers
    roundTrip((0L until 4096L).toArray)          // largest array container
    roundTrip((0L until 4097L).toArray)          // smallest bitmap container
    roundTrip((0L until 65536L).toArray)         // full container
    roundTrip(Array.tabulate(5000)(i => i * 37L))  // spans containers
    roundTrip(Array(1L << 40, (1L << 40) + 65535L, 123L)) // high rows
  }

  test("sizes: sparse pays ~2 B/row, dense is bounded at 8 KB per " +
      "65,536-row container (v1 paid 8 B/row unconditionally)") {
    val sparse = encodeDv(Array.tabulate(100)(i => i * 500L))
    assert(sparse.length < 100 * 8, s"sparse v2 ${sparse.length}")
    val dense = encodeDv((0L until 65536L).toArray)
    assert(dense.length < 8192 + 64, s"dense v2 ${dense.length}")
    assert(65536 * 8 / dense.length > 60, "≥60x smaller than raw longs")
  }

  test("bytes are canonical (idempotent under retry) and the 4096 " +
      "threshold picks the smaller layout on both sides") {
    val xs = Array.tabulate(9000)(i => (i * 13L) % 70000L)
    assert(encodeDv(xs).toSeq == encodeDv(xs.reverse).toSeq)
    // at exactly 4096 the array layout (2 B x 4096 = 8 KB) ties the
    // bitmap; one more row and the array WOULD grow past it while the
    // bitmap stays fixed — the canonical roaring switch point
    assert(encodeDv((0L until 4096L).toArray).length <=
      encodeDv((0L until 4097L).toArray).length)
    assert(encodeDv((0L until 8000L).toArray).length <
      8000 * 2, "bitmap must beat the array layout above the threshold")
  }

  test("v1 sidecars (raw big-endian longs) and tagless bytes are " +
      "refused as below the format floor, naming the sidecar") {
    val v1 = java.nio.ByteBuffer.allocate(3 * 8)
    Seq(3L, 9L, 70000L).foreach(v1.putLong)
    Seq(v1.array(), Array.empty[Byte]).foreach { bytes =>
      val e = intercept[ManifestLog.BelowFormatFloor](
        decodeDv(bytes, "data/f.parquet.v1-0.dv"))
      assert(e.file == "data/f.parquet.v1-0.dv" &&
        e.getMessage.contains("format floor"), e.getMessage)
    }
  }
}
