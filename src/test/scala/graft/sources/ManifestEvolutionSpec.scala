package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import LogKit.ReplayMaps

/** Log-carried schema evolution + timestamp time travel (r16). Pins:
  * declared-schema reads (old files null-fill new columns; version
  * reads resurrect the era's schema), schema fold through replay AND
  * checkpoints, timestamp→version floor resolution with loud
  * before-first-commit and untimestamped-commit handling, and the
  * retention interaction (pruned manifests fall out of the
  * time-addressable set without breaking later timestamps). */
class ManifestEvolutionSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def newRoot(): String = graft.TempDirs.deleteOnExit(
    Files.createTempDirectory("graft_evo")).toString

  test("declared schema: v1 widens, gen-1 files null-fill; v0 reads " +
      "keep the narrow era schema; fold survives a checkpoint") {
    import spark.implicits._
    val root = newRoot()
    Seq((1L, 10L), (2L, 20L)).toDF("k", "a").coalesce(1)
      .write.parquet(s"$root/data/v0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, op = "write", commitMs = Some(100L),
      schemaDdl = Some("k BIGINT, a BIGINT"))
    Seq((3L, 30L, 3.5)).toDF("k", "a", "b").coalesce(1)
      .write.parquet(s"$root/data/v1")
    LogKit.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      Seq.empty, op = "evolve", commitMs = Some(200L),
      schemaDdl = Some("k BIGINT, a BIGINT, b DOUBLE"))

    val v1 = ManifestLog.readVersion(spark, root, 1).orderBy("k")
    assert(v1.columns.toSeq == Seq("k", "a", "b"))
    assert(v1.collect().map(r =>
        (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSeq ==
      Seq((1L, 10L, None), (2L, 20L, None), (3L, 30L, Some(3.5))))
    // time travel resurrects the era's schema, not just its rows
    assert(ManifestLog.readVersion(spark, root, 0).columns.toSeq ==
      Seq("k", "a"))
    // the declared schema folds through a checkpoint seed
    ManifestLog.writeCheckpoint(root, 1)
    assert(ManifestLog.readVersion(spark, root, 1).columns.toSeq ==
      Seq("k", "a", "b"))
  }

  test("timestamp resolution: floor semantics, loud before-first, " +
      "untimestamped commits unaddressable, latest after last") {
    import spark.implicits._
    val root = newRoot()
    def land(v: Int): Unit = {
      Seq((v.toLong, v.toLong)).toDF("k", "a").coalesce(1)
        .write.parquet(s"$root/data/v$v")
    }
    land(0)
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, op = "write", commitMs = Some(1000L))
    land(1) // an untimestamped commit: version-addressable only
    LogKit.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      Seq.empty, op = "write")
    land(2)
    LogKit.commit(root, 2, ManifestLog.partFiles(root, "data/v2"),
      Seq.empty, op = "write", commitMs = Some(3000L))

    assert(ManifestLog.versionAtTimestamp(root, 1000L) == 0L)
    assert(ManifestLog.versionAtTimestamp(root, 2999L) == 0L)
    assert(ManifestLog.versionAtTimestamp(root, 3000L) == 2L)
    // after the last commit: latest (the table as it is now)
    assert(ManifestLog.versionAtTimestamp(root, Long.MaxValue) == 2L)
    // before anything existed: loud, never a silent earliest read
    intercept[IllegalArgumentException] {
      ManifestLog.versionAtTimestamp(root, 999L)
    }
  }

  test("check constraints: declaration round-trips, latest set wins, " +
      "empty-set drop survives the parser, fold through checkpoints, " +
      "and validation obeys SQL CHECK null semantics") {
    import spark.implicits._
    val root = newRoot()
    Seq((1L, Some(5L))).toDF("k", "v").coalesce(1)
      .write.parquet(s"$root/data/v0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, op = "write",
      checks = Some(Seq("v_pos" -> "v > 0", "k_pos" -> "k > 0")))
    assert(ManifestLog.snapshot(root, 0).checks ==
      Map("v_pos" -> "v > 0", "k_pos" -> "k > 0"))
    // a non-declaring commit leaves the set untouched — but since r17
    // a stats-less add on a constrained table must attest (the
    // commit-time gate would otherwise refuse it; CommitProtocolSpec
    // pins the refusal itself)
    Seq((2L, Some(6L))).toDF("k", "v").coalesce(1)
      .write.parquet(s"$root/data/v1")
    intercept[IllegalArgumentException] {
      LogKit.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
        Seq.empty, op = "append")
    }
    LogKit.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      Seq.empty, op = "append", attest = true)
    assert(ManifestLog.snapshot(root, 1).checks.keySet == Set("v_pos", "k_pos"))
    // the set folds through a checkpoint seed
    ManifestLog.writeCheckpoint(root, 1)
    assert(ManifestLog.snapshot(root, 1).checks.keySet == Set("v_pos", "k_pos"))
    // SQL CHECK: NULL passes, FALSE violates
    ManifestLog.requireSatisfies(
      Seq((3L, Option.empty[Long])).toDF("k", "v"),
      ManifestLog.snapshot(root, 1).checks)
    val e = intercept[IllegalArgumentException](
      ManifestLog.requireSatisfies(
        Seq((3L, Some(-1L)), (0L, Some(2L))).toDF("k", "v"),
        ManifestLog.snapshot(root, 1).checks))
    assert(e.getMessage.contains("v_pos") && e.getMessage.contains("k_pos"))
    // dropping ALL constraints is a real declaration, not an absence
    Seq((4L, Some(7L))).toDF("k", "v").coalesce(1)
      .write.parquet(s"$root/data/v2")
    LogKit.commit(root, 2, ManifestLog.partFiles(root, "data/v2"),
      Seq.empty, op = "drop-checks", checks = Some(Seq.empty))
    assert(ManifestLog.snapshot(root, 2).checks.isEmpty)
    assert(ManifestLog.snapshot(root, 1).checks.nonEmpty)
  }

  test("retention: pruned manifests leave the time-addressable set; " +
      "surviving timestamps still resolve") {
    import spark.implicits._
    val root = newRoot()
    (0 to 4).foreach { v =>
      Seq((v.toLong, v.toLong)).toDF("k", "a").coalesce(1)
        .write.parquet(s"$root/data/v$v")
      val removes = if (v == 0) Seq.empty[String]
        else ManifestLog.partFiles(root, s"data/v${v - 1}")
      LogKit.commit(root, v,
        ManifestLog.partFiles(root, s"data/v$v"), removes, op = "merge",
        policy = Some(ManifestLog.CheckpointPolicy(every = 2)),
        commitMs = Some(1000L * (v + 1)))
    }
    // v4's policy fold pruned manifests 0..2 (behind checkpoint 2)
    assert(ManifestLog.versions(root) == Seq(3L, 4L))
    // a timestamp BEFORE the earliest surviving stamp is loud — the
    // pre-checkpoint era is gone from the time-addressable set
    intercept[IllegalArgumentException] {
      ManifestLog.versionAtTimestamp(root, 1500L)
    }
    // but the CHECKPOINTED era survives pruning time-addressably:
    // checkpoint 2 folded its version's stamp (t=3000), so a
    // timestamp between it and v3 resolves to the checkpoint — and
    // the resolved version is readable
    assert(ManifestLog.versionAtTimestamp(root, 3500L) == 2L)
    assert(ManifestLog.readVersion(spark, root, 2L).count() == 1)
    // the surviving tail stays addressable
    assert(ManifestLog.versionAtTimestamp(root, 4500L) == 3L)
    assert(ManifestLog.versionAtTimestamp(root, 5000L) == 4L)
  }
}
