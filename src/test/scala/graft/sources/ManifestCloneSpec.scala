package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import LogKit.ReplayMaps

/** SHALLOW CLONE (r17): a new table whose v0 references the source
  * snapshot's files by absolute path — one metadata-sized commit,
  * zero data IO. Pins read equality, metadata carry-over (stats /
  * blooms / DVs / checks), clone-local divergence with the source
  * byte-untouched, prune + point-lookup through absolute refs,
  * clone-of-a-clone, vacuum isolation, the loud refusals, and the
  * clone-bootstrapped replica tail sync. */
class ManifestCloneSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def newRoot(): String = graft.TempDirs.deleteOnExit(
    Files.createTempDirectory("graft_clone_spec")).toString

  /** A source table with every metadata class a clone must carry:
    * 4 stats-bearing files, a k bloom, a CHECK, and a v1 DV. */
  private def sourceTable(): String = {
    import spark.implicits._
    val root = newRoot()
    SinglePassWriter.writeCommit(
      (0L until 40L).map(k => (k, k * 10L)).toDF("k", "amount")
        .repartitionByRange(4, col("k")),
      root, "data/v0", 0, statsCols = Seq("k"), bloomCol = Some("k"))
    LogKit.commit(root, 1, Seq.empty, Seq.empty, op = "alter",
      checks = Some(Seq("k_nonneg" -> "k >= 0")))
    ManifestLog.deleteWhereMor(spark, root, 1, 2, col("k") % 10 === 7)
    root
  }

  test("clone v0 reads row-identical to the source snapshot with " +
      "ZERO data bytes under the clone root, and carries stats, " +
      "blooms, vectors and the CHECK set") {
    val src = sourceTable()
    val dst = newRoot()
    val refs = ManifestLog.cloneShallow(src, dst, 2)
    assert(refs.forall(_.startsWith("/")))
    // zero data files live under the clone root (metadata only)
    assert(ManifestLog.partFilesRecursive(dst, "").isEmpty)
    // row-identical, vectors applied
    assert(ManifestLog.readVersion(spark, dst, 0).orderBy("k")
      .collect().toSeq ==
      ManifestLog.readVersion(spark, src, 2).orderBy("k")
        .collect().toSeq)
    // stats prune through the absolute refs
    val pruned = ManifestLog.filesMatchingCols(ManifestLog.snapshot(dst, 0),
      Seq(("k", 0L, 5L)))
    assert(pruned.size == 1 && pruned.head.startsWith("/"))
    // bloom point lookup reads the source's sidecar by absolute ref
    assert(ManifestLog.filesMatchingPoint(
      dst, ManifestLog.snapshot(dst, 0), "k", 12L).size == 1)
    assert(ManifestLog.readVersionPoint(spark, dst, 0, "k", 12L)
      .filter(col("k") === 12L).count() == 1)
    // the CHECK set is in force on the clone's own ingest
    assert(ManifestLog.snapshot(dst, 0).checks == Map("k_nonneg" -> "k >= 0"))
    // the declared schema carries too (None here — but the seam is
    // the same passthrough the evolved-source clone rides)
    assert(ManifestLog.snapshot(dst, 0).schemaDdl ==
      ManifestLog.snapshot(src, 2).schemaDdl)
    // the raw change feed serves the clone's v0 add rows through the
    // refs too (raw file rows — vectors ride the image feed, as on
    // any dv-bearing commit)
    assert(ManifestLog.readChanges(spark, dst, -1, 0).count() ==
      ManifestLog.readVersion(spark, src, 0).count())
  }

  test("divergence is clone-local: appends and MOR deletes land " +
      "under the clone root (vectors under ext/), the source log " +
      "and bytes stay untouched, and vacuum on the clone can never " +
      "name a source file") {
    import spark.implicits._
    val src = sourceTable()
    val srcFiles = ManifestLog.partFilesRecursive(src, "").sorted
    val srcVersions = ManifestLog.versions(src)
    val dst = newRoot()
    ManifestLog.cloneShallow(src, dst, 2)
    // append locally
    (100L until 110L).map(k => (k, k * 10L)).toDF("k", "amount")
      .coalesce(1).write.parquet(s"$dst/data/v1")
    LogKit.commit(dst, 1, ManifestLog.partFiles(dst, "data/v1"),
      Seq.empty, op = "write", attest = true)
    // MOR delete rows that live in CLONED files
    val dvs = ManifestLog.deleteWhereMor(spark, dst, 1, 2,
      col("k") % 10 === 2)
    assert(dvs.nonEmpty)
    // at least one CLONED reference is vectored (k=2,12,22,32 live in
    // cloned files; k=102 in the local batch) — its sidecar lands
    // under the clone's ext/, while the local file's vector lands
    // beside the local file; ALL sidecars live under the clone root
    assert(dvs.keys.exists(_.startsWith("/")))
    dvs.foreach { case (f, d) =>
      if (f.startsWith("/"))
        assert(d.sidecar.startsWith("ext/"),
          s"a cloned ref's vector must land under ext/: $f -> $d")
      else
        assert(!d.sidecar.startsWith("/") &&
          !d.sidecar.startsWith("ext/"),
          s"a local file's vector lands beside it: $f -> $d")
      assert(Files.exists(java.nio.file.Paths.get(dst, d.sidecar)))
    }
    // clone rows: source survivors minus %10==2 plus the local batch
    val got = ManifestLog.readVersion(spark, dst, 2)
      .orderBy("k").select("k").as[Long].collect().toSeq
    val want = (ManifestLog.readVersion(spark, src, 2)
      .select("k").as[Long].collect().toSeq ++ (100L until 110L))
      .filterNot(_ % 10 == 2).sorted // the delete spans the batch too
    assert(got == want)
    // the source: same bytes, same log, same rows
    assert(ManifestLog.partFilesRecursive(src, "").sorted == srcFiles)
    assert(ManifestLog.versions(src) == srcVersions)
    assert(ManifestLog.readVersion(spark, src, 2)
      .filter(col("k") % 10 === 2).count() > 0)
    // the clone's vacuum walks only its own root — dry-run must name
    // nothing (every local file is referenced), and certainly never
    // a source path
    val swept = ManifestLog.vacuum(dst, dryRun = true)
    assert(swept.isEmpty, s"unexpected clone orphans: $swept")
  }

  test("a clone of a clone resolves (absolute refs pass through) " +
      "and refusals are loud: occupied destination, unknown version") {
    val src = sourceTable()
    val dst1 = newRoot()
    ManifestLog.cloneShallow(src, dst1, 2)
    val dst2 = newRoot()
    ManifestLog.cloneShallow(dst1, dst2, 0)
    assert(ManifestLog.readVersion(spark, dst2, 0).orderBy("k")
      .collect().toSeq ==
      ManifestLog.readVersion(spark, src, 2).orderBy("k")
        .collect().toSeq)
    intercept[IllegalArgumentException] {
      ManifestLog.cloneShallow(src, dst1, 2) // dst1 already a table
    }
    intercept[IllegalArgumentException] {
      ManifestLog.cloneShallow(src, newRoot(), 99)
    }
  }

  test("materializeExternal ends the source dependency: every " +
      "absolute ref rewrites locally (inherited vectors fold in), " +
      "local files are untouched, and the clone reads identically " +
      "after the SOURCE IS DELETED ENTIRELY; ref-free tables no-op") {
    import spark.implicits._
    val src = sourceTable()
    val dst = newRoot()
    ManifestLog.cloneShallow(src, dst, 2)
    // local divergence first: an appended file must NOT be rewritten
    (100L until 105L).map(k => (k, k * 10L)).toDF("k", "amount")
      .coalesce(1).write.parquet(s"$dst/data/v1")
    LogKit.commit(dst, 1, ManifestLog.partFiles(dst, "data/v1"),
      Seq.empty, op = "write", attest = true)
    val localBefore = ManifestLog.filesAsOf(dst, 1)
      .filterNot(_.startsWith("/"))
    val want = ManifestLog.readVersion(spark, dst, 1)
      .orderBy("k").collect().toSeq
    val locals = ManifestLog.materializeExternal(spark, dst,
      statsCols = Seq("k"), clusterBy = Seq("k"), files = 2)
    assert(locals.nonEmpty && locals.forall(!_.startsWith("/")))
    val after = ManifestLog.filesAsOf(dst, 2)
    assert(after.forall(!_.startsWith("/")),
      "no absolute reference may survive a materialization")
    assert(localBefore.forall(after.contains),
      "local files must carry through untouched")
    // the inherited vectors folded into the rewrite and dropped
    assert(ManifestLog.snapshot(dst, 2).dvs.isEmpty)
    // the rewrite re-committed prunable stats
    assert(locals.forall(f =>
      ManifestLog.snapshot(dst, 2).colStats.get(f).exists(_.contains("k"))))
    // the point of it all: delete the source, the clone still reads
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(src))
      .sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists)
    assert(ManifestLog.readVersion(spark, dst, 2)
      .orderBy("k").collect().toSeq == want)
    // a table with no external refs is a no-op: no commit published
    assert(ManifestLog.materializeExternal(spark, dst).isEmpty)
    assert(ManifestLog.latestVersion(dst).contains(2L))
  }

  test("materializeExternal rewrites HIVE-LAYOUT references into the " +
      "clone's OWN k=v layout (r18; closes the r17 loud refusal): " +
      "partition values re-derive from the paths below the source's " +
      "ancestry — an '=' in an ANCESTOR directory is never layout " +
      "(r17 advice) — and the clone reads identically through " +
      "readVersionHive after the source is deleted entirely") {
    import spark.implicits._
    // the ancestor-'=' regression shape: everything lives under a
    // directory whose NAME carries '=' (a temp dir named run=3)
    val base = graft.TempDirs.deleteOnExit(
      Files.createTempDirectory("graft_run=3")).toString
    val src = s"$base/src"
    Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"), (4L, 40L, "b"))
      .toDF("k", "amount", "part")
      .write.partitionBy("part").parquet(s"$src/data/v0")
    LogKit.commit(src, 0,
      ManifestLog.partFilesRecursive(src, "data/v0"), Seq.empty,
      op = "write")
    val dst = newRoot()
    ManifestLog.cloneShallow(src, dst, 0)
    // the clone's hive read resolves part from the refs' layout, not
    // from the run=3 ancestor
    val before = ManifestLog.readVersionHive(spark, dst, 0)
    assert(before.columns.toSeq == Seq("k", "amount", "part"))
    val want = before.orderBy("k").collect().toSeq
    val locals = ManifestLog.materializeExternal(spark, dst)
    assert(locals.nonEmpty && locals.forall(!_.startsWith("/")))
    assert(locals.forall(_.contains("part=")),
      "materialized files must carry the partition segments themselves")
    val after = ManifestLog.filesAsOf(dst, 1)
    assert(after.forall(!_.startsWith("/")),
      "no absolute reference may survive a hive materialization")
    // the point of it all: delete the whole source tree, the clone
    // still reads identically — partition values included
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(src))
      .sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists)
    assert(ManifestLog.readVersionHive(spark, dst, 1)
      .orderBy("k").collect().toSeq == want)
    // and a FLAT clone under the same '='-bearing ancestry no longer
    // false-refuses (the r17 guard split the WHOLE path)
    val flatSrc = s"$base/flat"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "amount")
      .coalesce(1).write.parquet(s"$flatSrc/data/v0")
    LogKit.commit(flatSrc, 0,
      ManifestLog.partFiles(flatSrc, "data/v0"), Seq.empty, op = "write")
    val dst2 = newRoot()
    ManifestLog.cloneShallow(flatSrc, dst2, 0)
    val flat = ManifestLog.materializeExternal(spark, dst2)
    assert(flat.nonEmpty && flat.forall(f =>
      !f.startsWith("/") && !f.contains("=")),
      s"a flat clone must materialize FLAT despite the ancestor '=': " +
        s"$flat")
    // the AMBIGUOUS shape stays loud (r18 review finding): when every
    // '='-segment sits in the refs' SHARED ancestry — files directly
    // under an '='-named directory — hive layout and a plain
    // '='-named source root are indistinguishable, and a silent
    // rewrite would invent a phantom partition column
    val ambRoot = s"$base/amb=1"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "amount")
      .coalesce(1).write.parquet(s"$ambRoot/stage")
    // commit the files DIRECTLY under the '='-named root
    ManifestLog.partFiles(ambRoot, "stage").foreach { f =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(ambRoot, f),
        java.nio.file.Paths.get(ambRoot, f.stripPrefix("stage/")))
    }
    val ambFiles = java.nio.file.Files.list(
      java.nio.file.Paths.get(ambRoot))
      .iterator()
    val ambRel = scala.jdk.CollectionConverters
      .IteratorHasAsScala(ambFiles).asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .toSeq.sorted
    LogKit.commit(ambRoot, 0, ambRel, Seq.empty, op = "write")
    val dst3 = newRoot()
    ManifestLog.cloneShallow(ambRoot, dst3, 0)
    val e = intercept[IllegalArgumentException] {
      ManifestLog.materializeExternal(spark, dst3)
    }
    assert(e.getMessage.contains("SHARED ancestry"),
      s"expected the ambiguity refusal, got: ${e.getMessage}")
  }

  test("materializeExternal handles PARTITION-SPEC-EVOLVED (prefix) " +
      "hive layouts (r19; the r18 loud refusal): each generation " +
      "rewrites through its OWN partitionBy column set — flat " +
      "pre-partitioning files stay flat, no absent value ever meets " +
      "the default-partition sentinel — and the clone reads " +
      "byte-identical through readVersionHive after source deletion; " +
      "a genuinely mixed (non-prefix) layout still refuses") {
    import spark.implicits._
    val base = graft.TempDirs.deleteOnExit(
      Files.createTempDirectory("graft_specevo")).toString
    val src = s"$base/src"
    // generation 0: flat (before any partitioning) — every
    // generation's files share the physical shape (k, amount); the
    // generations differ ONLY in their segment lists
    Seq((1L, 10L)).toDF("k", "amount")
      .coalesce(1).write.parquet(s"$src/data/v0")
    LogKit.commit(src, 0, ManifestLog.partFiles(src, "data/v0"),
      Seq.empty, op = "write")
    // generation 1: partitioned by part (long-typed values)
    Seq((2L, 20L, 1L), (3L, 30L, 2L))
      .toDF("k", "amount", "part")
      .write.partitionBy("part").parquet(s"$src/data/v1")
    LogKit.commit(src, 1,
      ManifestLog.partFilesRecursive(src, "data/v1"), Seq.empty,
      op = "append")
    // generation 2: spec addition — partitioned by (part, sub)
    Seq((4L, 40L, 2L, "y"), (5L, 50L, 3L, "z"))
      .toDF("k", "amount", "part", "sub")
      .write.partitionBy("part", "sub").parquet(s"$src/data/v2")
    LogKit.commit(src, 2,
      ManifestLog.partFilesRecursive(src, "data/v2"), Seq.empty,
      op = "append")
    val dst = newRoot()
    ManifestLog.cloneShallow(src, dst, 2)
    val before = ManifestLog.readVersionHive(spark, dst, 0)
    // hive view: part/sub resolve from segments where present, NULL
    // for the generations that predate each spec addition
    val want = before.select("k", "part", "sub").orderBy("k")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) "-" else r.getString(2))).toSeq
    val locals = ManifestLog.materializeExternal(spark, dst)
    assert(locals.nonEmpty && locals.forall(!_.startsWith("/")))
    // each generation kept its own segment list
    assert(locals.exists(f => !f.contains("=")),
      s"flat generation must stay flat: $locals")
    assert(locals.exists(f => f.contains("part=") && !f.contains("sub=")),
      s"gen-1 must carry part only: $locals")
    assert(locals.exists(f => f.contains("part=") && f.contains("sub=")),
      s"gen-2 must carry part and sub: $locals")
    assert(!locals.exists(_.contains("__HIVE_DEFAULT_PARTITION__")),
      s"no sentinel values, ever: $locals")
    // source gone → identical hive read
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(src))
      .sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists)
    val after = ManifestLog.readVersionHive(spark, dst, 1)
      .select("k", "part", "sub").orderBy("k")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) "-" else r.getString(2))).toSeq
    assert(after == want, s"spec-evolved materialization diverged: " +
      s"$after vs $want")
    // non-prefix (genuinely mixed) layouts keep the loud refusal
    val bad = s"$base/bad"
    Seq((1L, 10L, "a")).toDF("k", "amount", "part")
      .write.partitionBy("part").parquet(s"$bad/data/v0")
    LogKit.commit(bad, 0,
      ManifestLog.partFilesRecursive(bad, "data/v0"), Seq.empty,
      op = "write")
    Seq((2L, 20L, "b")).toDF("k", "amount", "other")
      .write.partitionBy("other").parquet(s"$bad/data/v1")
    LogKit.commit(bad, 1,
      ManifestLog.partFilesRecursive(bad, "data/v1"), Seq.empty,
      op = "append")
    val dstBad = newRoot()
    ManifestLog.cloneShallow(bad, dstBad, 1)
    val e = intercept[IllegalArgumentException](
      ManifestLog.materializeExternal(spark, dstBad))
    assert(e.getMessage.contains("PREFIX of the fullest"),
      s"expected the prefix refusal, got: ${e.getMessage}")
  }

  test("clone-bootstrapped replica: the first sync is the metadata-" +
      "sized clone + txn marker, tail syncs stay key-pruned and " +
      "LOCALIZE only the touched references") {
    import spark.implicits._
    val src = newRoot()
    SinglePassWriter.writeCommit(
      (0L until 40L).map(k => (k, k * 10L)).toDF("k", "amount")
        .repartitionByRange(4, col("k")),
      src, "data/v0", 0, statsCols = Seq("k"))
    val dst = newRoot()
    // bootstrap: no feed read, no data IO — one clone commit
    val v0 = ManifestLog.replicateTo(spark, src, dst, keys = Seq("k"),
      bootstrap = "clone")
    assert(v0 == 0)
    assert(ManifestLog.partFilesRecursive(dst, "").isEmpty)
    assert(ManifestLog.latestSnapshot(dst)
      .flatMap(_.txns.get("graft_replica")).contains(0L))
    // source moves on: one key changes (a COW rewrite of its file)
    val touched = ManifestLog.filesMatchingCols(ManifestLog.snapshot(src, 0),
      Seq(("k", 5L, 5L)))
    assert(touched.size == 1)
    spark.read.parquet(s"$src/${touched.head}")
      .withColumn("amount",
        when(col("k") === 5L, lit(999L)).otherwise(col("amount")))
      .coalesce(1).write.parquet(s"$src/data/v1")
    LogKit.commit(src, 1, ManifestLog.partFiles(src, "data/v1"),
      removes = touched, op = "rewrite")
    // tail sync: key-pruned — ONLY the touched reference localizes
    val before = ManifestLog.filesAsOf(dst, 0).toSet
    ManifestLog.replicateTo(spark, src, dst, keys = Seq("k"),
      bootstrap = "clone")
    val after = ManifestLog.filesAsOf(dst,
      ManifestLog.latestVersion(dst).get)
    val carried = after.filter(before)
    assert(carried.size == 3,
      s"untouched refs must carry: $carried")
    assert(after.exists(f => !f.startsWith("/")),
      "the touched reference must localize into mirror-owned files")
    // mirror == source snapshot, row for row
    assert(ManifestLog.readVersion(spark, dst,
        ManifestLog.latestVersion(dst).get).orderBy("k")
      .collect().toSeq ==
      ManifestLog.readVersion(spark, src, 1).orderBy("k")
        .collect().toSeq)
  }
}
