package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The change-image feed over MERGE-ON-READ commits (r16): DV-only
  * commits emit delete images (the vector delta), MOR merges emit
  * update pairs (DV kill ⟗ appended post-row), compaction emits
  * NOTHING (pre-images exclude already-dead rows), and the baseline
  * version must be resolvable (loud otherwise). Copy-on-write
  * behavior is pinned separately in ManifestChangeImagesSpec — this
  * suite covers what DVs change. */
class ManifestDvFeedSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** v0: 10 rows (k, k*10) in one file. v1: MOR-delete k in {2, 5}.
    * v2: MOR-merge k in {5-dead?no: 7, 8} → value += 1. v3: compact. */
  private def ladder(): String = {
    import spark.implicits._
    val root = graft.TempDirs.deleteOnExit(
      Files.createTempDirectory("graft_dvfeed")).toString
    (0L until 10L).map(k => (k, k * 10L)).toDF("k", "v").coalesce(1)
      .write.parquet(s"$root/data/v0")
    ManifestLog.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, op = "write")
    ManifestLog.deleteWhereMor(spark, root, 0, 1,
      col("k") === 2L || col("k") === 5L)
    // MOR merge: kill 7 and 8 by vector, append post-images v+1
    ManifestLog.readVersion(spark, root, 1)
      .filter(col("k").isin(7L, 8L))
      .withColumn("v", col("v") + 1L).coalesce(1)
      .write.parquet(s"$root/data/v2")
    val r1 = ManifestLog.snapshot(root, 1)
    val dvs = ManifestLog.buildDvs(spark, root, r1, 2, r1.files,
      _.filter(col("k").isin(7L, 8L)))
    ManifestLog.commit(root, 2, ManifestLog.partFiles(root, "data/v2"),
      Seq.empty, op = "merge", dvs = dvs)
    assert(ManifestLog.compactDvs(spark, root, 2, 3).nonEmpty)
    root
  }

  private def feed(root: String, from: Long, to: Long) =
    ManifestLog.readChangeImages(spark, root, from, to, Seq("k"))
      .select("k", "v", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq.sorted

  test("DV-only delete emits delete images; MOR merge emits update " +
      "pairs; compaction emits nothing; fold equals the snapshot") {
    val root = ladder()
    assert(feed(root, 0, 1) ==
      Seq((2L, 20L, "delete", 1L), (5L, 50L, "delete", 1L)))
    assert(feed(root, 1, 2) == Seq(
      (7L, 70L, "update_preimage", 2L),
      (7L, 71L, "update_postimage", 2L),
      (8L, 80L, "update_preimage", 2L),
      (8L, 81L, "update_postimage", 2L)))
    // the compaction rung: a pure layout change, zero images — the
    // retired file's dead rows must NOT resurface as deletes
    assert(feed(root, 2, 3).isEmpty)
    // folding the whole feed onto v0 reproduces the latest snapshot
    val full = feed(root, 0, 3)
    assert(full.size == 6)
    val v3 = ManifestLog.readVersion(spark, root, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(v3 == Seq((0L, 0L), (1L, 10L), (3L, 30L), (4L, 40L),
      (6L, 60L), (7L, 71L), (8L, 81L), (9L, 90L)))
  }

  test("a second delete's feed delta contains only the NEW dead rows") {
    val root = ladder()
    ManifestLog.deleteWhereMor(spark, root, 3, 4, col("k") === 9L)
    assert(feed(root, 3, 4) == Seq((9L, 90L, "delete", 4L)))
  }

  test("an unresolvable baseline fails loud instead of mis-classifying") {
    val root = ladder()
    // version 7 was never committed — the feed cannot know its state
    intercept[IllegalArgumentException] {
      ManifestLog.readChangeImages(spark, root, 7, 8, Seq("k"))
    }
  }
}
