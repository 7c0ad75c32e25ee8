package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

/** The writer's output is pinned byte for byte: `writer_fixture/` holds
  * one file per supported column shape, written by the Group-API writer
  * (`tools/make_writer_fixture.scala`), with its `.bloom` sidecars and
  * summaries. Rewriting each case must give the same data pages, the
  * same footer facts, the same sidecars and the same summaries. */
class WriterFixtureSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private val fixture: Path =
    Paths.get(getClass.getResource("/writer_fixture").toURI)

  private def lines(name: String): Seq[String] =
    Files.readAllLines(fixture.resolve(name)).asScala.toSeq.filter(_.nonEmpty)

  private def cols(s: String): Seq[String] =
    if (s == "-") Seq.empty else s.split(",").toSeq

  /** The generator's normalisation: the per-call token leaves the name
    * and every sequence prints as a List. */
  private def normalised(s: SinglePassWriter.FileSummary): String =
    s.copy(rel = s.rel.replaceAll("-[0-9a-f]{8}\\.parquet$", ".parquet"),
      los = s.los.toList, his = s.his.toList, viols = s.viols.toList,
      sLos = s.sLos.toList, sHis = s.sHis.toList, sSeen = s.sSeen.toList,
      dbl = s.dbl.toList, nulls = s.nulls.toList, sNulls = s.sNulls.toList)
      .toString

  /** Offset of the footer: the file ends with the footer, its 4-byte
    * little-endian length and the magic. */
  private def footerStart(b: Array[Byte]): Int =
    b.length - 8 - ByteBuffer.wrap(b, b.length - 8, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt

  private def footer(p: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), new Configuration()))
    try r.getFooter finally r.close()
  }

  /** Schema, row groups and per-chunk layout and statistics. */
  private def facts(m: ParquetMetadata): Seq[Any] =
    m.getFileMetaData.getSchema +: m.getBlocks.asScala.toSeq.map { b =>
      (b.getRowCount, b.getTotalByteSize, b.getStartingPos,
        b.getColumns.asScala.toSeq.map { c =>
          (c.getPath.toDotString, c.getPrimitiveType, c.getCodec,
            c.getEncodings.asScala.toSet, c.getFirstDataPageOffset,
            c.getDictionaryPageOffset, c.getValueCount, c.getTotalSize,
            c.getTotalUncompressedSize, c.getStatistics)
        })
    }

  test("every column shape writes the fixture's bytes, sidecars and " +
      "summaries") {
    val cases = lines("cases.tsv").map(_.split("\t").toSeq)
    val expected = lines("summaries.txt").map(_.split("\t", 2))
      .groupBy(_(0)).view.mapValues(_.map(_(1))).toMap
    assert(cases.size == 15 && expected.values.map(_.size).sum == 16)
    val root = graft.TempDirs.deleteOnExit(
      Files.createTempDirectory("graft_wfix"))
    cases.foreach { case Seq(name, sql, stats, bloom, strStats, checks) =>
      val summaries = SinglePassWriter.writeFiles(spark.sql(sql),
        root.toString, name, statsCols = cols(stats),
        bloomCol = cols(bloom).headOption, checkCols = cols(checks),
        strStatsCols = cols(strStats))
      assert(summaries.map(normalised) == expected(name), name)
      summaries.foreach { s =>
        val want = fixture.resolve(
          s.rel.replaceAll("-[0-9a-f]{8}\\.parquet$", ".parquet"))
        val got = root.resolve(s.rel)
        val (g, w) = (Files.readAllBytes(got), Files.readAllBytes(want))
        assert(footerStart(g) == footerStart(w), s.rel)
        assert(java.util.Arrays.equals(g.take(footerStart(g)),
          w.take(footerStart(w))), s"${s.rel}: data pages differ")
        assert(facts(footer(got)) == facts(footer(want)), s.rel)
        val wantBloom = Paths.get(s"$want.bloom")
        assert(Files.exists(wantBloom) == (s.bloomM > 0), s.rel)
        if (s.bloomM > 0)
          assert(java.util.Arrays.equals(
            Files.readAllBytes(Paths.get(s"$got.bloom")),
            Files.readAllBytes(wantBloom)), s"${s.rel}.bloom")
      }
    }
  }
}
