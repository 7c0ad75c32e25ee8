package graft.sources

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import ManifestLog.{AddFile, BloomRef, DvRef, FileStat, NullStat, StrStat}

/** The columnar checkpoint sidecar round-trips through its parallel
  * row-group decode. */
class CheckpointCodecSpec extends AnyFunSuite {

  /** `n` files, each with 7 or 8 sidecar rows: the file, its stat, two
    * named column stats, a string bound, a null count, a bloom ref,
    * and a deletion vector on every third file. */
  private def files(n: Int): Seq[AddFile] =
    (0 until n).map { i =>
      val p = f"data/b${i % 7}/part-$i%06d.parquet"
      AddFile(p, Some(FileStat(i.toLong, i + 10L)),
        colStats = Map("a" -> FileStat(-i.toLong, i.toLong),
          "x" -> FileStat(i.toLong, 2L * i, dbl = i % 2 == 0)),
        strColStats = Map("s" -> StrStat(s"k$i", s"k${i}z")),
        nullStats = Map("a" -> NullStat(i % 3L, 100L + i)),
        blooms = Map("id" ->
          BloomRef("id", s"$p.bloom", 1024 + i, 3, str = i % 5 == 0)),
        dv = if (i % 3 == 0) Some(DvRef(s"$p.dv", i.toLong)) else None)
    }

  test("a multi-row-group sidecar whose file entries straddle a group " +
      "boundary decodes, merged, to exactly the encoded state") {
    // ~7.3 rows per file: 40k files exceed one 256k-row group
    val in = files(40000)
    val bytes = CheckpointCodec.encode(in)
    val input = new org.apache.parquet.io.LocalInputFile(
      java.nio.file.Files.write(graft.TempDirs.deleteOnExit(java.nio.file
        .Files.createTempFile("graft_ckpt", ".parquet")), bytes))
    val groups = org.apache.parquet.hadoop.ParquetFileReader
      .open(input).getFooter.getBlocks.asScala.map(_.getRowCount).toSeq
    assert(groups.size >= 2, s"expected several row groups, got $groups")
    // some group boundary falls inside one file's rows
    val fileStarts = in.scanLeft(0L)((at, a) =>
      at + (if (a.dv.isDefined) 8 else 7)).toSet
    val boundaries = groups.scanLeft(0L)(_ + _).tail.init
    assert(boundaries.exists(b => !fileStarts(b)),
      "no file straddles a row-group boundary")
    assert(CheckpointCodec.decode(bytes,
      "00000000000000000005.checkpoint.parquet") == in)
  }
}
