package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import LogKit.ReplayMaps

/** The snapshot resolver: one listing and one read per log file per
  * resolve, and no caching across resolves — a commit by any other
  * writer is visible to the next snapshot. */
class ManifestSnapshotSpec extends AnyFunSuite {

  /** Counts the store calls a resolve makes. */
  private def newLogDir() = graft.TempDirs.deleteOnExit(
    Files.createTempDirectory("graft_snap")).resolve("_log")

  test("snapshotIn lists the log ONCE and reads the checkpoint and each " +
      "tail manifest once") {
    val posix = new PosixLogStore(newLogDir())
    (0L to 7L).foreach { v =>
      LogKit.commitIn(posix, v, Seq(s"data/v$v.parquet"), Seq.empty,
        "append", policy = Some(ManifestLog.CheckpointPolicy(every = 5)),
        txn = Some(("w", v)))
    }
    val store = new CountingStore(posix)
    val r = ManifestLog.snapshotIn(store, 7)
    assert(r.version == 7L &&
      r.files == (0L to 7L).map(v => s"data/v$v.parquet"))
    assert(r.txns == Map("w" -> 7L))
    assert(store.lists.get == 1, "one listing serves membership and fold")
    assert(store.reads.toMap == Map(
      f"${5L}%020d.checkpoint.json" -> 1,
      f"${5L}%020d.checkpoint.parquet" -> 1,
      f"${6L}%020d.json" -> 1,
      f"${7L}%020d.json" -> 1),
      s"each log file read once, nothing below the checkpoint: ${store.reads}")
    // the membership check rides the same listing and stays loud
    val miss = new CountingStore(posix)
    val e = intercept[IllegalArgumentException](ManifestLog.snapshotIn(miss, 9))
    assert(e.getMessage.contains("not in manifest log"))
    assert(miss.lists.get == 1 && miss.reads.isEmpty)
  }

  test("a second writer with its own LogStore commits between two " +
      "snapshots of a first handle: the second snapshot sees it") {
    val root = graft.TempDirs.deleteOnExit(
      Files.createTempDirectory("graft_snap2")).toString
    val first = ManifestLog.storeFor(root)
    val second = new PosixLogStore(Paths.get(root, "_log"))
    LogKit.commitIn(first, 0, Seq("data/a.parquet"), Seq.empty, "write")
    assert(ManifestLog.snapshotIn(first, 0).files == Seq("data/a.parquet"))
    assert(ManifestLog.latestSnapshot(root).map(_.version).contains(0L))
    LogKit.commitIn(second, 1, Seq("data/b.parquet"), Seq.empty,
      "append")
    val r1 = ManifestLog.snapshotIn(first, 1)
    assert(r1.files == Seq("data/a.parquet", "data/b.parquet"))
    assert(ManifestLog.latestSnapshot(root).map(_.version).contains(1L),
      "the latest snapshot must move with the other writer's commit")
    assert(ManifestLog.snapshot(root, 0).files == Seq("data/a.parquet"),
      "time travel to the earlier version still resolves exactly")
  }
}
