package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import CheckpointCodec.{Partial, PerFileState}
import ManifestLog.{BloomRef, DvRef, FileStat, NullStat, StrStat}

/** The columnar checkpoint sidecar round-trips through its parallel
  * row-group decode. */
class CheckpointCodecSpec extends AnyFunSuite {

  /** `n` files, each with 7 or 8 sidecar rows: the file, its stat, two
    * named column stats, a string bound, a null count, a bloom ref,
    * and a deletion vector on every third file. */
  private def state(n: Int): PerFileState = {
    val files = (0 until n).map(i => f"data/b${i % 7}/part-$i%06d.parquet")
    def per[V](f: (Int, String) => V): Map[String, V] =
      files.zipWithIndex.map { case (p, i) => p -> f(i, p) }.toMap
    PerFileState(files,
      stats = per((i, _) => FileStat(i.toLong, i + 10L)),
      colStats = per((i, _) => Map(
        "a" -> FileStat(-i.toLong, i.toLong),
        "x" -> FileStat(i.toLong, 2L * i, dbl = i % 2 == 0))),
      strColStats = per((i, _) => Map("s" -> StrStat(s"k$i", s"k${i}z"))),
      nullStats = per((i, _) => Map("a" -> NullStat(i % 3L, 100L + i))),
      blooms = per((i, p) => Map("id" ->
        BloomRef("id", s"$p.bloom", 1024 + i, 3, str = i % 5 == 0))),
      dvs = files.zipWithIndex.collect {
        case (p, i) if i % 3 == 0 => p -> DvRef(s"$p.dv", i.toLong)
      }.toMap)
  }

  /** The partials merged the way a snapshot fold merges them: a file's
    * column maps may straddle a row-group boundary. */
  private def merged(parts: Seq[Partial]): PerFileState = {
    def mergeMaps[V](get: Partial => scala.collection.Map[String,
        Map[String, V]]): Map[String, Map[String, V]] =
      parts.foldLeft(Map.empty[String, Map[String, V]]) { (acc, p) =>
        get(p).foldLeft(acc) { case (a, (f, m)) =>
          a.updated(f, a.getOrElse(f, Map.empty[String, V]) ++ m)
        }
      }
    PerFileState(parts.flatMap(_.files),
      parts.flatMap(_.stats).toMap,
      mergeMaps(_.colStats), mergeMaps(_.strColStats),
      mergeMaps(_.nullStats), mergeMaps(_.blooms),
      parts.flatMap(_.dvs).toMap)
  }

  test("a multi-row-group sidecar whose file entries straddle a group " +
      "boundary decodes, merged, to exactly the encoded state") {
    // ~7.3 rows per file: 40k files exceed one 256k-row group
    val in = state(40000)
    val parts = CheckpointCodec.decodeParts(CheckpointCodec.encode(in),
      "00000000000000000005.checkpoint.parquet").toSeq
    assert(parts.size >= 2, s"expected several row groups, got ${parts.size}")
    // some file has its entry row in one group and entries in the next
    val straddles = parts.tail.exists { p =>
      val own = p.files.toSet
      (p.stats.keySet ++ p.colStats.keySet ++ p.strColStats.keySet ++
        p.nullStats.keySet ++ p.blooms.keySet ++ p.dvs.keySet)
        .exists(f => !own(f))
    }
    assert(straddles, "no file straddles a row-group boundary")
    assert(merged(parts) == in)
  }
}
