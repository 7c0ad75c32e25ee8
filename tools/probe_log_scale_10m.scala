// LOG-SCALE probe, 10M-FILE DECADE (r20; the r19 verdict's
// what's-missing #3): the r18/r19 probe stops at 1M live files — one
// 100 TB year at ~128 MiB/file. A multi-year table is 10M+, and the
// columnar replay's serial live-set fold grows linearly with no
// measured rung beyond 1M. Same drive as probe_log_scale.scala, one
// decade up: 10k versions x 1000 adds per version = 10M live files,
// checkpoint every 1000 commits. Times the same operations (commit
// early/late, replay cold + via-columnar-checkpoint, checkpoint
// write/size, timestamp resolve, dvs-ever probe, expire, vacuum
// keep-set) so the 1M -> 10M scaling of each is a direct row in
// SURVEY §6.16.
//
// Run (parallel-safe with a running sbt; classes must be compiled;
// the 10M-path live set plus per-file stat maps need a real heap):
//   SPARK_SUBMIT_OPTS="-Dfile.encoding=UTF-8" /opt/spark/bin/spark-shell \
//     --master "local[4]" --driver-memory 48g \
//     --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false \
//     -i tools/probe_log_scale_10m.scala < /dev/null
import graft.sources.ManifestLog

val root = java.nio.file.Files.createTempDirectory("graft_logscale10m").toString
val store = ManifestLog.storeFor(root)
val policy = Some(ManifestLog.CheckpointPolicy(1000))
val nVersions = 10000
val addsPer = 1000

def ms[A](f: => A): (A, Long) = {
  val t0 = System.nanoTime(); val a = f
  (a, (System.nanoTime() - t0) / 1000000L)
}

ManifestLog.commitIn(store, 0, ManifestLog.Commit("init",
  schemaDdl = Some("k BIGINT, v BIGINT"),
  checks = Some(Seq("k_nonneg" -> "k >= 0"))))

var earlyMs = 0L; var lateMs = 0L
val (_, totalCommitMs) = ms {
  var v = 1L
  while (v <= nVersions) {
    val adds = (0 until addsPer).map(i => ManifestLog.AddFile(
      f"data/v$v%05d/part-$i%04d.parquet", colStats = Map(
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
println(s"PROBE10M commits: total ${totalCommitMs} ms for $nVersions " +
  s"commits (${totalCommitMs / nVersions} ms/commit); first-100 " +
  s"${earlyMs / 100} ms/commit, last-100 ${lateMs / 100} ms/commit")

// keep only SIZES across steps: retaining three full 10M-entry
// replays inflates every later step with GC pressure (first-run
// artifact: the via-ckpt replay read 173 s contended/retained, then
// 25.7 s clean post-expire on the same path)
val (nF, replayMs) = ms { ManifestLog.snapshotIn(store, nVersions).files.size }
println(s"PROBE10M replay: snapshotIn($nVersions) = ${nF} files " +
  s"in ${replayMs} ms")
val (nF2, replay2Ms) = ms { ManifestLog.snapshotIn(store, nVersions).files.size }
println(s"PROBE10M replay(2nd): ${replay2Ms} ms (${nF2} files)")

val (_, ckptMs) = ms { ManifestLog.writeCheckpointIn(store, nVersions.toLong) }
val ckptBytes = java.nio.file.Files.size(java.nio.file.Paths.get(
  root, "_log", f"${nVersions.toLong}%020d.checkpoint.json"))
val pqPath = java.nio.file.Paths.get(
  root, "_log", f"${nVersions.toLong}%020d.checkpoint.parquet")
val pqBytes = if (java.nio.file.Files.exists(pqPath))
  java.nio.file.Files.size(pqPath) else 0L
println(s"PROBE10M checkpoint: write ${ckptMs} ms, " +
  s"json ${ckptBytes} B + sidecar ${pqBytes / 1048576} MiB " +
  s"(${pqBytes} B) at ${nF} files")
val (nFpq, replayPqMs) = ms { ManifestLog.snapshotIn(store, nVersions).files.size }
println(s"PROBE10M replay(via columnar ckpt): ${replayPqMs} ms " +
  s"(${nFpq} files)")

val (tsV, tsMs) = ms {
  ManifestLog.versionAtTimestampIn(store, 1700000000000L + 9500L * 1000L)
}
println(s"PROBE10M timestamp-resolve: v$tsV in ${tsMs} ms")

val (everBit, everMs) = ms { ManifestLog.dvsEverThrough(store, nVersions.toLong) }
println(s"PROBE10M dvs-ever feed-open probe: $everBit in ${everMs} ms")

val (expired, expMs) = ms {
  ManifestLog.expireVersionsBefore(root, nVersions - 500L)
}
println(s"PROBE10M expire: ${expired.size} versions expired in ${expMs} ms")
val (nF3, replay3Ms) = ms {
  ManifestLog.snapshotIn(store, nVersions.toLong).files.size
}
println(s"PROBE10M replay(post-expire): ${replay3Ms} ms (${nF3} files)")

val logCount = java.nio.file.Files.list(
  java.nio.file.Paths.get(root, "_log")).count()
println(s"PROBE10M log dir: $logCount surviving files")

val (orphans, vacMs) = ms { ManifestLog.vacuum(root, dryRun = true) }
println(s"PROBE10M vacuum(dry): keep-set over all resolvable versions " +
  s"in ${vacMs} ms (${orphans.size} orphans)")

// cleanup: the probe writes only the _log dir
import scala.jdk.CollectionConverters._
java.nio.file.Files.walk(java.nio.file.Paths.get(root))
  .sorted(java.util.Comparator.reverseOrder())
  .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists)
System.exit(0)
