// MANIFEST-LOG BYTE FIXTURE: writes a deterministic set of commits that
// uses every field the log's writers emit, so LogFixtureSpec can prove a
// later writer produces the same bytes. The checked-in copy under
// src/test/resources/log_fixture/ was written by the last build that
// committed through per-file path-keyed maps; its `_log/` directories
// are the fixture.
//
// Four tables, every commit with an explicit timestamp:
//   plain  - v0 schema + two CHECKs; v1 unnamed, named and double stats,
//            string bounds, null counts, long and string blooms, a txn;
//            v2 a DV; v3 an append the CHECKs are proved for; v4 a merge
//            that also vectors a live file; v5 a schema change and the
//            `-` drop-all CHECK sentinel; v6 restoreTo(3) (re-adds a
//            removed file with its stats, clears a vector by remove +
//            re-add); v7 an append with unnamed stats and a second txn
//   ckpt   - the same commits under CheckpointPolicy(every = 2):
//            checkpoints at 2, 4, 6 and the manifests retention keeps
//   src    - a table whose files and sidecars are absolute references
//   clone  - cloneShallow(src, 1), so its manifest names the same
//            absolute paths wherever the fixture is written
//
// Run (classes compiled; writes only under FIXTURE_DIR):
//   FIXTURE_DIR=/tmp/log_fixture SPARK_SUBMIT_OPTS="-Dfile.encoding=UTF-8" \
//     "$SPARK_HOME"/bin/spark-shell --master "local[2]" \
//     --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false -i tools/make_log_fixture.scala
// then copy each $FIXTURE_DIR/<table>/_log into the resource directory.
import java.nio.file.{Files, Paths}
import graft.sources.{ManifestFileIndex, ManifestLog}
import graft.sources.ManifestLog.{AddFile, BloomRef, CheckpointPolicy,
  Commit, DvRef, FileStat, NullStat, StrStat}

val dir = sys.env("FIXTURE_DIR")
def at(v: Long) = Some(1700000000000L + v * 1000L)
val img = ManifestFileIndex.dblKey _

def build(root: String, policy: Option[CheckpointPolicy]): Unit = {
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
      blooms = Map("c" -> BloomRef("c", "data/b.c.bloom", 128, 3, str = true)))),
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

def buildSrc(root: String): Unit = {
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

build(s"$dir/plain", None)
build(s"$dir/ckpt", Some(CheckpointPolicy(every = 2)))
buildSrc(s"$dir/src")
ManifestLog.cloneShallow(s"$dir/src", s"$dir/clone", 1, commitMs = at(2),
  txn = Some(("replica", 1L)))
System.exit(0)
