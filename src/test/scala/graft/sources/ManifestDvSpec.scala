package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import ManifestLog.{DvRef, FileStat}

/** DELETION VECTORS / merge-on-read (r16): a delete commits per-file
  * sidecars of dead row indexes instead of rewriting data files
  * (Delta's deletion vectors / Iceberg's position deletes). Pins:
  * MOR delete correctness + time travel, stats-pruned candidate
  * selection (untouched files never sidecared), union-on-redelete
  * (last-wins replacement is exact), checkpoint fold, DV compaction
  * (rewrite drops the vectors), vacuum keep/sweep of `.dv` sidecars,
  * the broadcast-anti-join read shape, and commit-time validation. */
class ManifestDvSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** A 3-file table of (user_id, v): user_id 0..29, range-partitioned
    * so each file holds one decade, committed with user_id colstats. */
  private def freshRoot(): String = {
    import spark.implicits._
    val root = graft.TempDirs.deleteOnExit(
      Files.createTempDirectory("graft_dv")).toString
    (0L until 30L).map(u => (u, u * 100L)).toDF("user_id", "v")
      .repartitionByRange(3, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.parquet(s"$root/data/v0")
    val stats = spark.read.parquet(s"$root/data/v0")
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("lo"), max("user_id").as("hi"))
      .collect()
      .map(r => s"data/v0/${r.getString(0).split('/').last}" ->
        Map("user_id" -> FileStat(r.getLong(1), r.getLong(2)))).toMap
    ManifestLog.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, op = "write", colStats = stats)
    root
  }

  private def users(df: DataFrame): Seq[Long] =
    df.select("user_id").collect().map(_.getLong(0)).sorted.toSeq

  test("MOR delete: rows gone at the new version, intact at the old, " +
      "data files byte-identical, untouched files never sidecared") {
    val root = freshRoot()
    val before = ManifestLog.filesAsOf(root, 0).map(f =>
      f -> Files.getLastModifiedTime(Paths.get(root, f)).toMillis).toMap
    val dvs = ManifestLog.deleteWhereMor(spark, root, 0, 1,
      col("user_id").between(3, 6))
    // stats prune: only the 0-9 file can contain the band
    assert(dvs.size == 1 && dvs.head._2.nDeleted == 4, dvs)
    assert(users(ManifestLog.readVersion(spark, root, 1)) ==
      ((0L to 2L) ++ (7L to 29L)))
    // time travel: v0 sees every row (its replay carries no dvs)
    assert(users(ManifestLog.readVersion(spark, root, 0)) == (0L to 29L))
    // merge-on-read means the data files never moved
    val after = ManifestLog.filesAsOf(root, 1).map(f =>
      f -> Files.getLastModifiedTime(Paths.get(root, f)).toMillis).toMap
    assert(after == before, "a MOR delete must not touch data files")
    // non-extractable predicates fall back to scanning every file but
    // still delete exactly the matching rows
    val dvs2 = ManifestLog.deleteWhereMor(spark, root, 1, 2,
      col("user_id") % 10 === 9)
    // nDeleted is the vector's TOTAL size: the 0-9 file's new vector
    // unions its 4 earlier dead rows with the fresh one (4+1), the
    // other two files carry 1 fresh dead row each
    assert(dvs2.size == 3 && dvs2.values.map(_.nDeleted).sum == 7, dvs2)
    assert(users(ManifestLog.readVersion(spark, root, 2)) ==
      ((0L to 2L) ++ (7L to 29L)).filterNot(_ % 10 == 9))
  }

  test("re-delete unions into one vector per file; the superseded " +
      "sidecar still serves the older version") {
    val root = freshRoot()
    ManifestLog.deleteWhereMor(spark, root, 0, 1,
      col("user_id").between(12, 13))
    val dvs2 = ManifestLog.deleteWhereMor(spark, root, 1, 2,
      col("user_id").between(13, 15))
    // one file (the 10-19 decade), one vector: union of both deletes
    assert(dvs2.size == 1 && dvs2.head._2.nDeleted == 4, dvs2)
    assert(ManifestLog.snapshot(root, 2).dvs == dvs2)
    assert(users(ManifestLog.readVersion(spark, root, 2)) ==
      (0L to 29L).filterNot(u => u >= 12 && u <= 15))
    assert(users(ManifestLog.readVersion(spark, root, 1)) ==
      (0L to 29L).filterNot(u => u == 12 || u == 13))
    // the replaced v1 sidecar and the live v2 sidecar both exist
    // (immutable, never-reuse naming) until vacuum decides
    val v1dv = ManifestLog.snapshot(root, 1).dvs.head._2.sidecar
    assert(v1dv != dvs2.head._2.sidecar)
    assert(Files.exists(Paths.get(root, v1dv)))
  }

  test("dvs fold through checkpoints and die with their file's remove " +
      "(compaction rewrite)") {
    val root = freshRoot()
    ManifestLog.deleteWhereMor(spark, root, 0, 1,
      col("user_id").between(0, 4))
    ManifestLog.writeCheckpoint(root, 1)
    // checkpoint-seeded resolution must still apply the vector
    assert(users(ManifestLog.readVersion(spark, root, 1)) == (5L to 29L))
    // compaction rewrites the dv'd file without its dead rows and
    // drops the vector from the live state
    val added = ManifestLog.compactDvs(spark, root, 1, 2)
    assert(added.nonEmpty)
    assert(ManifestLog.snapshot(root, 2).dvs.isEmpty)
    assert(users(ManifestLog.readVersion(spark, root, 2)) == (5L to 29L))
    // the pre-compaction version still reads through its vector
    assert(users(ManifestLog.readVersion(spark, root, 1)) == (5L to 29L))
    // nothing crossed the threshold → no-op, no commit
    assert(ManifestLog.compactDvs(spark, root, 2, 3).isEmpty)
    assert(ManifestLog.latestVersion(root).contains(2L))
  }

  test("vacuum keeps every resolvable version's sidecars and sweeps " +
      "unreferenced .dv files") {
    val root = freshRoot()
    ManifestLog.deleteWhereMor(spark, root, 0, 1,
      col("user_id").between(2, 3))
    val live = ManifestLog.snapshot(root, 1).dvs.head._2.sidecar
    val orphan = "data/v0/stray.dv"
    Files.write(Paths.get(root, orphan), Array[Byte](0, 0, 0, 0, 0, 0, 0, 9))
    // dry run: same sweep set, nothing deleted
    val planned = ManifestLog.vacuum(root, dryRun = true)
    assert(planned == Seq(orphan) && Files.exists(Paths.get(root, orphan)))
    val swept = ManifestLog.vacuum(root)
    assert(swept == planned, swept)
    assert(Files.exists(Paths.get(root, live)))
    assert(users(ManifestLog.readVersion(spark, root, 1)) ==
      (0L to 29L).filterNot(u => u == 2 || u == 3))
  }

  test("the MOR read filters through a zero-shuffle broadcast anti " +
      "join (the DV side is deleted-rows-sized, never table-sized)") {
    val root = freshRoot()
    ManifestLog.deleteWhereMor(spark, root, 0, 1,
      col("user_id").between(3, 6))
    val plan = ManifestLog.readVersion(spark, root, 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the anti join must not cost the BASE scan its pushdown: a
    // predicate under the MOR filter still reaches the parquet scan
    // as a pushed filter AND still prunes files at planning time
    val filtered = ManifestLog.readVersion(spark, root, 1)
      .filter(col("user_id") >= 25L)
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedFilters: [GreaterThanOrEqual(user_id,25)"),
      fplan)
    assert(fplan.contains("Location: ManifestFileIndex"), fplan)
    assert(filtered.count() == 5)
  }

  test("deletion vectors compose with hive-partitioned reads: the " +
      "partition column appends AND the dead rows stay gone") {
    import spark.implicits._
    val root = graft.TempDirs.deleteOnExit(
      Files.createTempDirectory("graft_dv_hive")).toString
    (0L until 20L).map(u => (u, u * 100L)).toDF("user_id", "v")
      .withColumn("bucket", col("user_id") % 2)
      .write.partitionBy("bucket").parquet(s"$root/data/v0")
    val adds = ManifestLog.partFilesRecursive(root, "data/v0")
    ManifestLog.commit(root, 0, adds, Seq.empty, op = "write")
    ManifestLog.deleteWhereMor(spark, root, 0, 1,
      col("user_id").between(4, 7))
    val rows = ManifestLog.readVersionHive(spark, root, 1)
      .select("user_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(rows.map(_._1) ==
      (0L until 20L).filterNot(u => u >= 4 && u <= 7))
    assert(rows.forall { case (u, b) => b == u % 2 })
    // static partition pruning still composes with the DV filter
    assert(ManifestLog.readVersionHive(spark, root, 1)
      .filter(col("bucket") === 0L).count() == 8) // 10 evens - {4, 6}
  }

  test("MOR delete and compaction across a SCHEMA EVOLUTION (r17): " +
      "a delete predicated on the NEW column plans mixed-generation " +
      "candidates under the declared schema, and the compaction " +
      "rewrite never drops the new column's values") {
    import spark.implicits._
    val root = graft.TempDirs.deleteOnExit(
      Files.createTempDirectory("graft_dv_evo")).toString
    // gen-1: two-column file, declared
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/data/v0")
    ManifestLog.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, "write", schemaDdl = Some("k BIGINT, v BIGINT"))
    // gen-2: the widened generation, declared
    Seq((3L, 30L, 300L), (4L, 40L, 999L)).toDF("k", "v", "w")
      .coalesce(1).write.parquet(s"$root/data/v1")
    ManifestLog.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      Seq.empty, "evolve",
      schemaDdl = Some("k BIGINT, v BIGINT, w BIGINT"))
    // a delete by the NEW column: gen-1 rows (w NULL) never match —
    // before the fix this crashed on the old-generation footer probe
    val dvs = ManifestLog.deleteWhereMor(spark, root, 1, 2,
      col("w") > 500L)
    assert(dvs.values.map(_.nDeleted).sum == 1)
    assert(ManifestLog.readVersion(spark, root, 2)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // compaction rewrites the vectored (gen-2) file; the new column's
    // surviving value must come through the rewrite intact
    val rewritten = ManifestLog.compactDvs(spark, root, 2, 3)
    assert(rewritten.nonEmpty)
    val rows = ManifestLog.readVersion(spark, root, 3)
      .select("k", "w").collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows == Set((1L, -1L), (2L, -1L), (3L, 300L)),
      s"got: $rows")
  }

  test("commit-time validation: a dv for a file the same commit " +
      "removes, non-positive counts, and delimiter chars all fail loud") {
    val root = freshRoot()
    val f = ManifestLog.filesAsOf(root, 0).head
    intercept[IllegalArgumentException] {
      ManifestLog.commit(root, 1, Seq.empty, removes = Seq(f),
        op = "bad", dvs = Map(f -> DvRef(s"$f.v1.dv", 1)))
    }
    intercept[IllegalArgumentException] {
      ManifestLog.commit(root, 1, Seq.empty, Seq.empty,
        op = "bad", dvs = Map(f -> DvRef(s"$f.v1.dv", 0)))
    }
    intercept[IllegalArgumentException] {
      ManifestLog.commit(root, 1, Seq.empty, Seq.empty,
        op = "bad", dvs = Map(f -> DvRef("side|car.dv", 1)))
    }
    // nothing committed by the rejected attempts
    assert(ManifestLog.latestVersion(root).contains(0L))
  }
}
