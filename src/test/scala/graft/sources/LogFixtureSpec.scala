package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import ManifestLog.{AddFile, BloomRef, CheckpointPolicy, Commit, DvRef,
  FileStat, NullStat, StrStat}

/** The log's writers emit the bytes of the checked-in fixture under
  * `log_fixture/`, written by `tools/make_log_fixture.scala` with the
  * build that still committed through per-file path-keyed maps: every
  * manifest, checkpoint JSON and meta sibling byte for byte, and every
  * checkpoint sidecar's pages byte for byte with a footer equal up to
  * the order parquet lists a column chunk's encodings in (that order
  * follows a hash set, so it differs between two JVM runs of the same
  * build). The commit set below is the tool's. */
class LogFixtureSpec extends AnyFunSuite {

  private def at(v: Long) = Some(1700000000000L + v * 1000L)
  private val img = ManifestFileIndex.dblKey _

  private def build(root: String, policy: Option[CheckpointPolicy]): Unit = {
    // restoreTo checks that the files it re-adds are still on disk
    Seq("data/b.parquet", "data/b.c.bloom", "data/c.parquet").foreach { f =>
      val p = Paths.get(root, f)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.emptyByteArray)
    }
    def commit(v: Long, c: Commit) = ManifestLog.commit(root, v, c, policy)
    commit(0, Commit("init", schemaDdl = Some("k BIGINT, p DOUBLE, c STRING"),
      checks = Some(Seq("k_pos" -> "k >= 0", "k_set" -> "k IS NOT NULL")),
      commitMs = at(0)))
    commit(1, Commit("write", Seq(
      AddFile("data/a.parquet", stat = Some(FileStat(0, 9)),
        colStats = Map("k" -> FileStat(0, 9),
          "p" -> FileStat(img(-1.5), img(2.25), dbl = true)),
        nullStats = Map("k" -> NullStat(0, 10)),
        blooms = Map("k" -> BloomRef("k", "data/a.k.bloom", 64, 4))),
      AddFile("data/b.parquet", colStats = Map("k" -> FileStat(10, 19)),
        strColStats = Map("c" -> StrStat("a,b]\"|x", "zz é")),
        nullStats = Map("k" -> NullStat(0, 10), "c" -> NullStat(3, 10)),
        blooms = Map("c" ->
          BloomRef("c", "data/b.c.bloom", 128, 3, str = true)))),
      txn = Some(("w", 1L)), commitMs = at(1)))
    commit(2, Commit("delete",
      dvs = Map("data/a.parquet" -> DvRef("data/a.parquet.v2.dv", 3)),
      txn = Some(("w", 2L)), commitMs = at(2)))
    commit(3, Commit("append", Seq(AddFile("data/c.parquet",
      colStats = Map("k" -> FileStat(1, 5)),
      nullStats = Map("k" -> NullStat(0, 5)))), commitMs = at(3)))
    commit(4, Commit("merge", Seq(AddFile("data/d.parquet",
      colStats = Map("k" -> FileStat(10, 19)),
      nullStats = Map("k" -> NullStat(0, 10)))),
      removes = Seq("data/b.parquet"),
      dvs = Map("data/c.parquet" -> DvRef("data/c.parquet.v4.dv", 1)),
      commitMs = at(4)))
    commit(5, Commit("alter",
      schemaDdl = Some("k BIGINT, p DOUBLE, c STRING, e BIGINT"),
      checks = Some(Seq.empty), commitMs = at(5)))
    ManifestLog.restoreTo(root, 3, policy = policy, commitMs = at(6))
    commit(7, Commit("append", Seq(AddFile("data/e.parquet",
      stat = Some(FileStat(-5, 5)))), txn = Some(("w2", 0L)),
      commitMs = at(7)))
  }

  private def buildSrc(root: String): Unit = {
    val s1 = "/warehouse/src/s1.parquet"
    val s2 = "/warehouse/src/s2.parquet"
    ManifestLog.commit(root, 0, Commit("write", Seq(
      AddFile(s1, stat = Some(FileStat(0, 4)),
        colStats = Map("k" -> FileStat(0, 4)),
        nullStats = Map("k" -> NullStat(0, 5))),
      AddFile(s2, colStats = Map("k" -> FileStat(5, 9)),
        strColStats = Map("c" -> StrStat("m", "q")),
        blooms = Map("k" -> BloomRef("k", s"$s2.bloom", 32, 2)))),
      schemaDdl = Some("k BIGINT, c STRING"),
      checks = Some(Seq("k_pos" -> "k >= 0")), commitMs = at(0)))
    ManifestLog.commit(root, 1, Commit("delete",
      dvs = Map(s1 -> DvRef(s"$s1.v1.dv", 2)), commitMs = at(1)))
  }

  private def logFiles(log: Path): Map[String, Array[Byte]] =
    scala.util.Using.resource(Files.list(log))(_.iterator().asScala
      .map(p => p.getFileName.toString -> Files.readAllBytes(p)).toMap)

  /** A parquet file's footer with each column chunk's encoding list
    * (and page encoding stats) sorted. */
  private def canonicalFooter(bytes: Array[Byte]): (Int, Seq[Byte]) = {
    import org.apache.parquet.format.Util
    val len = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val start = bytes.length - 8 - len
    val meta = Util.readFileMetaData(
      new java.io.ByteArrayInputStream(bytes, start, len))
    meta.getRow_groups.asScala.flatMap(_.getColumns.asScala).foreach { c =>
      val m = c.getMeta_data
      m.setEncodings(m.getEncodings.asScala.sortBy(_.getValue).asJava)
      Option(m.getEncoding_stats).foreach(s => m.setEncoding_stats(
        s.asScala.sortBy(e => (e.getPage_type.getValue,
          e.getEncoding.getValue)).asJava))
    }
    val out = new java.io.ByteArrayOutputStream()
    Util.writeFileMetaData(meta, out)
    (start, out.toByteArray.toSeq)
  }

  test("the log's writers reproduce the checked-in fixture: manifests, " +
      "checkpoint JSONs and meta siblings byte for byte, sidecar pages " +
      "byte for byte and sidecar footers up to encoding-list order — " +
      "with and without a checkpoint policy, through a restore and a " +
      "clone") {
    val dir = graft.TempDirs.deleteOnExit(
      Files.createTempDirectory("graft_log_fixture"))
    build(s"$dir/plain", None)
    build(s"$dir/ckpt", Some(CheckpointPolicy(every = 2)))
    buildSrc(s"$dir/src")
    ManifestLog.cloneShallow(s"$dir/src", s"$dir/clone", 1,
      commitMs = at(2), txn = Some(("replica", 1L)))
    for (table <- Seq("plain", "ckpt", "src", "clone")) {
      val want = logFiles(Paths.get(getClass
        .getResource(s"/log_fixture/$table/_log").toURI))
      val got = logFiles(Paths.get(s"$dir/$table/_log"))
      assert(got.keySet == want.keySet, s"[$table] log file names")
      for ((name, w) <- want.toSeq.sortBy(_._1)) {
        val g = got(name)
        if (name.endsWith(".parquet")) {
          val (start, footer) = canonicalFooter(w)
          assert(g.length == w.length &&
            g.take(start).sameElements(w.take(start)) &&
            canonicalFooter(g) == ((start, footer)),
            s"[$table] $name differs from the fixture")
        } else assert(new String(g, "UTF-8") == new String(w, "UTF-8"),
          s"[$table] $name differs from the fixture")
      }
    }
    // the checkpoints cover three tail shapes
    assert(logFiles(Paths.get(s"$dir/ckpt/_log")).keySet
      .count(_.endsWith(".checkpoint.parquet")) == 3)
  }

  test("decoding a fixture manifest and encoding it again gives its " +
      "bytes back, for every manifest of every table") {
    for (table <- Seq("plain", "ckpt", "src", "clone");
         (name, bytes) <- logFiles(Paths.get(getClass
           .getResource(s"/log_fixture/$table/_log").toURI))
         if name.matches("\\d{20}\\.json")) {
      val json = new String(bytes, "UTF-8")
      assert(Commit.decode(json, name).encode(name.take(20).toLong) == json,
        s"[$table] $name")
    }
  }
}
