// LOG-SCALE probe (r18; the r17 verdict's task 6): the data-side 100x
// ladders never exercise the MANIFEST LOG's own scale axis — version
// count and live-file count. This probe drives the log alone (no data
// IO: commits reference synthetic paths) at 10k versions x 100 adds
// per version = 1M live files, checkpoint every 1000 commits, and
// times the operations whose cost could cliff with table age:
//
//   - commit throughput, early vs late (the CHECK gate's per-commit
//     metadata fold must stay flat — the r18 metaAsOf fix);
//   - full replay (snapshotIn) at 1M files: checkpoint + tail parse;
//   - checkpoint write cost and on-disk size at 1M files;
//   - versionAtTimestamp resolution over the surviving manifests;
//   - expireVersionsBefore at the final horizon.
//
// Run (parallel-safe with a running sbt; classes must be compiled):
//   SPARK_SUBMIT_OPTS="-Dfile.encoding=UTF-8" /opt/spark/bin/spark-shell \
//     --master "local[4]" --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false -i tools/probe_log_scale.scala
import graft.sources.ManifestLog

val root = java.nio.file.Files.createTempDirectory("graft_logscale").toString
val store = ManifestLog.storeFor(root)
val policy = Some(ManifestLog.CheckpointPolicy(1000))
val nVersions = 10000
val addsPer = 100

def ms[A](f: => A): (A, Long) = {
  val t0 = System.nanoTime(); val a = f
  (a, (System.nanoTime() - t0) / 1000000L)
}

// a declared schema + one CHECK so every commit exercises the gate's
// metadata fold (the production shape; an unconstrained log would
// skip the fold entirely and hide the cliff)
ManifestLog.commitIn(store, 0, ManifestLog.Commit("init",
  schemaDdl = Some("k BIGINT, v BIGINT"),
  checks = Some(Seq("k_nonneg" -> "k >= 0"))))

var earlyMs = 0L; var lateMs = 0L
val (_, totalCommitMs) = ms {
  var v = 1L
  while (v <= nVersions) {
    val adds = (0 until addsPer).map(i => ManifestLog.AddFile(
      f"data/v$v%05d/part-$i%03d.parquet", colStats = Map(
        "k" -> ManifestLog.FileStat(v * 1000L, v * 1000L + 999L))))
    val (_, t) = ms {
      ManifestLog.commitIn(store, v, ManifestLog.Commit("append", adds,
        commitMs = Some(1700000000000L + v * 1000L)), policy)
    }
    if (v <= 100) earlyMs += t
    if (v > nVersions - 100) lateMs += t
    v += 1
  }
}
println(s"PROBE commits: total ${totalCommitMs} ms for $nVersions " +
  s"commits (${totalCommitMs / nVersions} ms/commit); first-100 " +
  s"${earlyMs / 100} ms/commit, last-100 ${lateMs / 100} ms/commit")

val (files, replayMs) = ms { ManifestLog.snapshotIn(store, nVersions).files }
println(s"PROBE replay: snapshotIn($nVersions) = ${files.size} files " +
  s"in ${replayMs} ms")
val (files2, replay2Ms) = ms { ManifestLog.snapshotIn(store, nVersions).files }
println(s"PROBE replay(2nd): ${replay2Ms} ms (${files2.size} files)")

val (_, ckptMs) = ms { ManifestLog.writeCheckpointIn(store, nVersions.toLong) }
val ckptBytes = java.nio.file.Files.size(java.nio.file.Paths.get(
  root, "_log", f"${nVersions.toLong}%020d.checkpoint.json"))
// the columnar sidecar (r19) carries the per-file state; the JSON is
// scalar-only — report both so the size/parse comparison vs the r18
// flat-JSON numbers (76 MiB / 4.5 s replay) is direct
val pqPath = java.nio.file.Paths.get(
  root, "_log", f"${nVersions.toLong}%020d.checkpoint.parquet")
val pqBytes = if (java.nio.file.Files.exists(pqPath))
  java.nio.file.Files.size(pqPath) else 0L
println(s"PROBE checkpoint: write ${ckptMs} ms, " +
  s"json ${ckptBytes} B + sidecar ${pqBytes / 1048576} MiB " +
  s"(${pqBytes} B) at ${files.size} files")
val (filesPq, replayPqMs) = ms { ManifestLog.snapshotIn(store, nVersions).files }
println(s"PROBE replay(via columnar ckpt): ${replayPqMs} ms " +
  s"(${filesPq.size} files)")

val (tsV, tsMs) = ms {
  ManifestLog.versionAtTimestampIn(store, 1700000000000L + 9500L * 1000L)
}
println(s"PROBE timestamp-resolve: v$tsV in ${tsMs} ms")

// the image feed's unresolvable-baseline probe (r19): the dvs-ever
// bit makes it one KB sibling read + the post-checkpoint tail,
// instead of a dvs-field scan over every surviving manifest
val (everBit, everMs) = ms { ManifestLog.dvsEverThrough(store, nVersions.toLong) }
println(s"PROBE dvs-ever feed-open probe: $everBit in ${everMs} ms " +
  s"(O(tail); was O(${nVersions} manifest reads))")

val (expired, expMs) = ms {
  ManifestLog.expireVersionsBefore(root, nVersions - 500L)
}
println(s"PROBE expire: ${expired.size} versions expired in ${expMs} ms")
val (files3, replay3Ms) = ms {
  ManifestLog.snapshotIn(store, nVersions.toLong).files
}
println(s"PROBE replay(post-expire): ${replay3Ms} ms (${files3.size} files)")

val logCount = java.nio.file.Files.list(
  java.nio.file.Paths.get(root, "_log")).count()
println(s"PROBE log dir: $logCount surviving files")

// vacuum's keep-set fold over EVERY resolvable version (the walk
// itself finds no data files — synthetic paths — so this times the
// decision, which is the scale axis)
val (orphans, vacMs) = ms { ManifestLog.vacuum(root, dryRun = true) }
println(s"PROBE vacuum(dry): keep-set over all resolvable versions " +
  s"in ${vacMs} ms (${orphans.size} orphans)")

// cleanup: the probe writes only the _log dir
import scala.jdk.CollectionConverters._
java.nio.file.Files.walk(java.nio.file.Paths.get(root))
  .sorted(java.util.Comparator.reverseOrder())
  .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists)
System.exit(0)
