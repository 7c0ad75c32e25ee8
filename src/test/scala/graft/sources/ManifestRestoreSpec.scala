package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RESTORE TO VERSION (r17): one metadata-sized commit rolls the
  * table's data state back to a target version — removed files
  * re-add WITH their target-time stats, since-appended files drop,
  * deletion vectors re-assert or clear, history stays intact. Pins
  * the full ladder, DV re-assertion/clearing, the loud refusals
  * (unknown target, already-latest, vacuumed bytes), the
  * deterministic commit-race re-derivation, and the constraint
  * scope (a since-declared CHECK still gates the re-adds). */
class ManifestRestoreSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def newRoot(): String = graft.TempDirs.deleteOnExit(
    Files.createTempDirectory("graft_restore_spec")).toString

  /** v0: 3 stats-bearing files; v1: COW-rewrite of the low file
    * (remove+add); v2: MOR delete by DV. Returns the root. */
  private def ladder(): String = {
    import spark.implicits._
    val root = newRoot()
    SinglePassWriter.writeCommit(
      (0L until 30L).map(k => (k, k * 10L)).toDF("k", "amount")
        .repartitionByRange(3, col("k")),
      root, "data/v0", 0, statsCols = Seq("k"))
    // v1: copy-on-write rewrite of the file holding k < 10 — its
    // rows' amounts double
    val doomed = ManifestLog.filesMatchingCols(ManifestLog.snapshot(root, 0),
      Seq(("k", 0L, 5L)))
    assert(doomed.size == 1)
    spark.read.parquet(s"$root/${doomed.head}")
      .withColumn("amount", col("amount") * 2)
      .coalesce(1).write.parquet(s"$root/data/v1")
    ManifestLog.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      removes = doomed, op = "rewrite")
    // v2: MOR delete — every k % 3 == 0 row dies by vector
    val dvs = ManifestLog.deleteWhereMor(spark, root, 1, 2,
      col("k") % 3 === 0)
    assert(dvs.nonEmpty)
    root
  }

  test("restore re-adds removed files with their stats, drops " +
      "since-added files, clears since-added vectors, and preserves " +
      "history — all in one metadata-only commit") {
    val root = ladder()
    val onDisk = ManifestLog.partFilesRecursive(root, "data").size
    val v = ManifestLog.restoreTo(root, 0)
    assert(v == 3)
    // live state == v0 exactly
    assert(ManifestLog.filesAsOf(root, 3).toSet ==
      ManifestLog.filesAsOf(root, 0).toSet)
    assert(ManifestLog.snapshot(root, 3).colStats ==
      ManifestLog.snapshot(root, 0).colStats)
    assert(ManifestLog.snapshot(root, 3).dvs.isEmpty)
    // rows == v0's rows
    assert(ManifestLog.readVersion(spark, root, 3).orderBy("k")
      .collect().toSeq ==
      ManifestLog.readVersion(spark, root, 0).orderBy("k")
        .collect().toSeq)
    // metadata-only: zero data files moved
    assert(ManifestLog.partFilesRecursive(root, "data").size == onDisk)
    // history intact: v1 still reads the rewrite, v2 the delete
    assert(ManifestLog.readVersion(spark, root, 1)
      .filter(col("k") === 2L).select("amount")
      .head().getLong(0) == 40L)
    assert(ManifestLog.readVersion(spark, root, 2)
      .filter(col("k") % 3 === 0).count() == 0)
    // IDEMPOTENT: the live state already equals the target's — a
    // retrying wrapper must not append empty restore commits
    assert(ManifestLog.restoreTo(root, 0) == 3)
    assert(ManifestLog.latestVersion(root).contains(3L))
    // and the restored state can be restored FROM: roll forward to
    // the v2 state again (restore is just another version)
    val v2 = ManifestLog.restoreTo(root, 2)
    assert(v2 == 4)
    assert(ManifestLog.readVersion(spark, root, 4).orderBy("k")
      .collect().toSeq ==
      ManifestLog.readVersion(spark, root, 2).orderBy("k")
        .collect().toSeq)
  }

  test("a vector that GREW after the target is re-asserted back to " +
      "the target's vector, not cleared") {
    import spark.implicits._
    val root = newRoot()
    SinglePassWriter.writeCommit(
      (0L until 20L).map(k => (k, k)).toDF("k", "v").coalesce(1),
      root, "data/v0", 0, statsCols = Seq("k"))
    ManifestLog.deleteWhereMor(spark, root, 0, 1, col("k") % 5 === 0)
    ManifestLog.deleteWhereMor(spark, root, 1, 2, col("k") % 7 === 0)
    assert(ManifestLog.snapshot(root, 2).dvs.values.head.nDeleted >
      ManifestLog.snapshot(root, 1).dvs.values.head.nDeleted)
    val v = ManifestLog.restoreTo(root, 1)
    assert(ManifestLog.snapshot(root, v).dvs ==
      ManifestLog.snapshot(root, 1).dvs)
    assert(ManifestLog.readVersion(spark, root, v).orderBy("k")
      .collect().toSeq ==
      ManifestLog.readVersion(spark, root, 1).orderBy("k")
        .collect().toSeq)
  }

  test("restore under a LATER schema declaration keeps the current " +
      "schema in force: restored pre-evolution files read with NULL " +
      "for the new column, never under the old shape") {
    import spark.implicits._
    val root = newRoot()
    SinglePassWriter.writeCommit(
      (0L until 6L).map(k => (k, k * 2L)).toDF("k", "v").coalesce(1),
      root, "data/v0", 0, statsCols = Seq("k"))
    ManifestLog.commit(root, 1, Seq.empty, Seq.empty, op = "alter",
      schemaDdl = Some("k BIGINT, v BIGINT"))
    // v2: evolve + rewrite everything under the widened schema
    val gen1 = ManifestLog.filesAsOf(root, 0)
    Seq[(Long, Long, java.lang.Long)]((0L, 0L, 100L))
      .toDF("k", "v", "w").coalesce(1).write.parquet(s"$root/data/v2")
    ManifestLog.commit(root, 2, ManifestLog.partFiles(root, "data/v2"),
      removes = gen1, op = "evolve",
      schemaDdl = Some("k BIGINT, v BIGINT, w BIGINT"), attest = true)
    // restore the DATA to v0 — the current (widened) declaration
    // stays in force, so the restored rows surface NULL w
    val v = ManifestLog.restoreTo(root, 0, attest = true)
    val back = ManifestLog.readVersion(spark, root, v)
    assert(back.columns.toSeq == Seq("k", "v", "w"))
    assert(back.count() == 6 && back.filter(col("w").isNull).count() == 6)
  }

  test("restoreToTimestamp resolves the target by wall-clock under " +
      "the timestamp-travel contract, then restores exactly") {
    import spark.implicits._
    val root = newRoot()
    SinglePassWriter.writeCommit(
      (0L until 10L).map(k => (k, k)).toDF("k", "v").coalesce(1),
      root, "data/v0", 0, statsCols = Seq("k"))
    // stamp v0 by re-publication? no — stamps ride the commit; v0 was
    // unstamped, so stamp v1 and v2 and restore between them
    (10L until 15L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/data/v1")
    ManifestLog.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      Seq.empty, op = "write", commitMs = Some(1000L))
    (20L until 25L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/data/v2")
    ManifestLog.commit(root, 2, ManifestLog.partFiles(root, "data/v2"),
      Seq.empty, op = "write", commitMs = Some(2000L))
    // 1500 resolves to v1 (latest stamped <= 1500)
    val v = ManifestLog.restoreToTimestamp(root, 1500L)
    assert(v == 3)
    assert(ManifestLog.filesAsOf(root, 3).toSet ==
      ManifestLog.filesAsOf(root, 1).toSet)
    // a timestamp before every stamped commit refuses loudly
    intercept[IllegalArgumentException] {
      ManifestLog.restoreToTimestamp(root, 500L)
    }
  }

  test("refusals are loud: unknown target, already-latest target, " +
      "and a restore whose bytes were vacuumed") {
    val root = ladder()
    intercept[IllegalArgumentException] {
      ManifestLog.restoreTo(root, 99)
    }
    intercept[IllegalArgumentException] {
      ManifestLog.restoreTo(root, 2) // 2 IS the latest
    }
    // vacuum the v0 file the restore would need to re-add: the v1
    // rewrite removed it, so once its manifest reference is the only
    // thing left, deleting the bytes models a retention sweep
    val removed = (ManifestLog.filesAsOf(root, 0).toSet --
      ManifestLog.filesAsOf(root, 2).toSet).head
    Files.delete(java.nio.file.Paths.get(root, removed))
    val e = intercept[IllegalArgumentException] {
      ManifestLog.restoreTo(root, 0)
    }
    assert(e.getMessage.contains("no longer exists"))
  }

  test("the vacuum check covers BLOOM sidecars too (r18; r17 advice): " +
      "a restore whose re-add would re-commit a reclaimed bloom ref " +
      "refuses loudly instead of landing a point prune that fails " +
      "deep inside a later scan") {
    import spark.implicits._
    val root = newRoot()
    SinglePassWriter.writeCommit(
      (0L until 20L).map(k => (k, k * 10L)).toDF("k", "amount")
        .repartitionByRange(2, col("k")),
      root, "data/v0", 0, statsCols = Seq("k"), bloomCol = Some("k"))
    // v1 rewrites everything (removes the bloom-bearing files)
    ManifestLog.readVersion(spark, root, 0)
      .coalesce(1).write.parquet(s"$root/data/v1")
    ManifestLog.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      removes = ManifestLog.filesAsOf(root, 0), op = "rewrite")
    // reclaim ONE removed file's bloom sidecar (the data file stays —
    // the old check, which only looked at adds + DV sidecars, passes)
    val bloomSc = ManifestLog.snapshot(root, 0).blooms.values
      .flatMap(_.values.map(_.sidecar)).head
    Files.delete(java.nio.file.Paths.get(root, bloomSc))
    val e = intercept[IllegalArgumentException] {
      ManifestLog.restoreTo(root, 0)
    }
    assert(e.getMessage.contains("no longer exists"),
      s"expected the vacuum refusal, got: ${e.getMessage}")
  }

  test("a commit race re-derives the WHOLE restore from the fresh " +
      "snapshot: the racing writer's appended file is removed too") {
    import spark.implicits._
    val root = newRoot()
    SinglePassWriter.writeCommit(
      (0L until 10L).map(k => (k, k)).toDF("k", "v").coalesce(1),
      root, "data/v0", 0, statsCols = Seq("k"))
    // v1: a bad batch the restore exists to undo
    (100L until 105L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/data/v1")
    ManifestLog.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      Seq.empty, op = "write")
    // the intruder's file must exist (restore never re-adds it, but
    // the post-race live read scans it before the re-derived restore)
    (200L until 203L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/data/intruder")
    val intruder = ManifestLog.partFiles(root, "data/intruder").head
    val inner = ManifestLog.storeFor(root)
    // fires ONCE: just before the restore publishes version 2, a
    // competing writer lands version 2 first — deterministic race
    val racing = new LogStore {
      private var fired = false
      override def publish(name: String, content: String): Boolean = {
        if (!fired && name == f"${2L}%020d.json") {
          fired = true
          ManifestLog.commitIn(inner, 2, adds = Seq(intruder),
            removes = Seq.empty, op = "write")
        }
        inner.publish(name, content)
      }
      override def list(): Seq[String] = inner.list()
      override def read(name: String): String = inner.read(name)
      override def delete(name: String): Unit = inner.delete(name)
    }
    val v = ManifestLog.restoreToIn(racing, root, 0)
    // the restore lost version 2, re-derived against the intruder's
    // state, and committed at 3 — removing BOTH the bad batch and
    // the intruder's append (restore means state == target)
    assert(v == 3)
    assert(ManifestLog.filesAsOf(root, 3).toSet ==
      ManifestLog.filesAsOf(root, 0).toSet)
    assert(ManifestLog.readVersion(spark, root, 3).count() == 10)
    // the intruder's commit itself stays readable (history intact)
    assert(ManifestLog.filesAsOf(root, 2).contains(intruder))
  }

  test("scope: a CHECK declared AFTER the target still gates the " +
      "restore's re-adds — unprovable stats refuse loudly, attest " +
      "overrides after row validation") {
    import spark.implicits._
    val root = newRoot()
    SinglePassWriter.writeCommit(
      (0L until 10L).map(k => (k, k)).toDF("k", "v").coalesce(1),
      root, "data/v0", 0, statsCols = Seq("k"))
    val f0 = ManifestLog.filesAsOf(root, 0).head
    // v1: the file is removed (stats ride only in v0's manifest)
    ManifestLog.commit(root, 1, Seq.empty, Seq(f0), op = "delete",
      attest = true)
    // v2: a constraint the v0 stats [0, 9] cannot prove
    ManifestLog.commit(root, 2, Seq.empty, Seq.empty, op = "alter",
      checks = Some(Seq("k_small" -> "k <= 5")))
    val e = intercept[IllegalArgumentException] {
      ManifestLog.restoreTo(root, 0)
    }
    assert(e.getMessage.contains("k_small"))
    // the caller that row-validated may attest past the stats proof
    val v = ManifestLog.restoreTo(root, 0, attest = true)
    assert(ManifestLog.filesAsOf(root, v) == Seq(f0))
  }
}
