package graft.sources.cdc

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CountingStore, LogStore, ManifestLog}
import graft.sources.ManifestLog.{AddFile, CheckpointPolicy, Commit}

/** Planning one micro-batch of the row feed reads the log once: one
  * listing, one read per manifest in the batch's range, and the
  * metadata-only fold of the start version. */
class CdcPlanningSpec extends AnyFunSuite {

  test("planning a micro-batch takes one listing and one read per " +
      "manifest in (from, to], plus the start's metadata-fold reads") {
    val root = graft.TempDirs.deleteOnExit(java.nio.file.Files
      .createTempDirectory("graft_cdc_plan")).toString
    val posix = ManifestLog.storeFor(root)
    (0L to 7L).foreach { v =>
      ManifestLog.commitIn(posix, v, Commit("append",
        Seq(AddFile(s"data/v$v.parquet")),
        schemaDdl = if (v == 0) Some("id BIGINT") else None),
        Some(CheckpointPolicy(every = 3)))
    }
    // checkpoints at 3 and 6; retention pruned the manifests <= 3
    assert(ManifestLog.checkpointVersionsIn(posix) == Seq(3L, 6L))
    assert(ManifestLog.versionsIn(posix) == (4L to 7L))
    val counting = new CountingStore(posix)
    val stream = new ManifestCdcStream(root, 4L, None) {
      override private[cdc] lazy val store: LogStore = counting
    }
    val parts = stream.planInputPartitions(VersionOffset(4L),
      VersionOffset(7L))
    assert(parts.toSeq.map(_.asInstanceOf[CdcInputPartition].version) ==
      Seq(5L, 6L, 7L))
    assert(counting.lists.get == 1, "one listing plans the batch")
    // the start (v4) resolves through checkpoint 3's meta sibling and
    // manifest 4; each manifest of (4, 7] is read once
    assert(counting.reads.toMap == Map(
      f"${3L}%020d.checkpoint.meta.json" -> 1,
      f"${4L}%020d.json" -> 1,
      f"${5L}%020d.json" -> 1,
      f"${6L}%020d.json" -> 1,
      f"${7L}%020d.json" -> 1), s"reads: ${counting.reads}")
  }
}
