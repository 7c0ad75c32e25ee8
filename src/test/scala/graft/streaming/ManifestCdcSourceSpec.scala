package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestLog
import graft.sources.LogKit
import graft.sources.LogKit.ReplayMaps

/** The DSv2 version-tail source's streaming protocol: version-grained
  * admission (one real micro-batch per version under
  * maxVersionsPerTrigger=1), the exclusive startingVersion cursor,
  * correct _commit_version stamping, and the loud append-only
  * contract on rewriting commits. */
class ManifestCdcSourceSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("AvailableNow drain admits one version per micro-batch and " +
      "stamps rows with their committing version") {
    val root = ManifestSink.ingestRoot(spark, dir)
    val (rows, progress) = ManifestSink.cdcDrained(spark, root)
    // 4 committed versions -> 4 real (row-carrying) micro-batches
    val real = progress.filter(_.numInputRows > 0)
    assert(real.size == 4,
      s"expected 4 real micro-batches, got ${real.size}")
    // the sink landed event_id % 4 cohorts as batches committing
    // versions 0..3 in landing-file order: every row's stamp must
    // equal its cohort
    val bad = rows.filter(col("_commit_version") =!=
      pmod(col("event_id"), lit(4))).count()
    assert(bad == 0, s"$bad rows stamped with the wrong commit version")
    // and the feed is exactly the ingested table, row for row
    val want = ManifestSink.ingested(spark, dir).count()
    assert(rows.count() == want)
  }

  test("startingVersion is an exclusive cursor: only the tail flows") {
    val root = ManifestSink.ingestRoot(spark, dir)
    val (rows, progress) = ManifestSink.cdcDrained(spark, root,
      startingVersion = 1L)
    assert(progress.count(_.numInputRows > 0) == 2)
    assert(rows.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // cohorts 2 and 3 only
    val bad = rows.filter(pmod(col("event_id"), lit(4)) < 2).count()
    assert(bad == 0)
  }

  test("schema evolution and the row feed (r18): a drain spanning an " +
      "ADDITIVE evolution continues WITHOUT restart — old-generation " +
      "rows NULL-fill the appended columns, drained equals the batch " +
      "feed — while a NON-additive change (column type) keeps the " +
      "loud rejection") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_evo_stream").toString
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/data/v0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, "write", schemaDdl = Some("k BIGINT, v BIGINT"))
    Seq((3L, 30L, 300L)).toDF("k", "v", "w")
      .coalesce(1).write.parquet(s"$root/data/v1")
    LogKit.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      Seq.empty, "evolve",
      schemaDdl = Some("k BIGINT, v BIGINT, w BIGINT"))
    // spanning the boundary (r18; closes the r17 restart-at-every-
    // evolution contract): the old generation's (k, v) is a PREFIX of
    // the stream's (k, v, w) — admitted, w NULL-filled. Both decode
    // paths run: the vectorized reader pads with constant-null
    // partition columns, the row reader with trailing null slots.
    val (rows, _) = ManifestSink.cdcDrained(spark, root)
    assert(rows.columns.toSeq ==
      Seq("k", "v", "w", "_commit_version"))
    val got = rows.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 10L, -1L, 0L), (2L, 20L, -1L, 0L),
      (3L, 30L, 300L, 1L)),
      s"additive-span drain mis-shaped: $got")
    // drained == the raw batch feed over the same range
    val raw = ManifestLog.readChanges(spark, root, -1, 1)
      .select("k", "v", "w", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == raw, "drained rows must equal the batch change feed")
    // post-evolution start still streams only the new generation
    val (tail, _) = ManifestSink.cdcDrained(spark, root,
      startingVersion = 0L)
    assert(tail.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).toSeq == Seq((3L, 30L, 300L)))
    // NON-ADDITIVE change: v2 re-types v to STRING — the rejection
    // pin stays (misaligned columns must never stream silently)
    Seq((4L, "s", 400L)).toDF("k", "v", "w")
      .coalesce(1).write.parquet(s"$root/data/v2")
    LogKit.commit(root, 2, ManifestLog.partFiles(root, "data/v2"),
      Seq.empty, "retype",
      schemaDdl = Some("k BIGINT, v STRING, w BIGINT"))
    val e = intercept[Exception] {
      ManifestSink.cdcDrained(spark, root)
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(e).exists(_.contains("non-additive")),
      s"expected the non-additive rejection, got: ${causes(e)}")
  }

  test("a LATE declaration that merely names the existing physical " +
      "schema does not strand pre-declaration history: the full-" +
      "range row-feed drain still works (r17 review finding)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_late_decl").toString
    import spark.implicits._
    // v0, v1: undeclared appends (footer schema k, v)
    Seq((1L, 10L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/data/v0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, "write")
    Seq((2L, 20L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/data/v1")
    LogKit.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      Seq.empty, "write")
    // v2: the IDENTICAL schema is declared (naming, not evolving)
    // alongside a new append
    Seq((3L, 30L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/data/v2")
    LogKit.commit(root, 2, ManifestLog.partFiles(root, "data/v2"),
      Seq.empty, "declare", schemaDdl = Some("k BIGINT, v BIGINT"))
    val (rows, _) = ManifestSink.cdcDrained(spark, root)
    assert(rows.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("offsets persist across restarts: resuming from the same " +
      "checkpoint admits only versions committed since, no duplicates") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_restart").toString
    val work = java.nio.file.Files
      .createTempDirectory("graft_cdc_restart_work").toString
    def landCommit(v: Long, ids: Seq[Long]): Unit = {
      import spark.implicits._
      ids.map(i => (i, i, i, i.toDouble))
        .toDF("user_id", "event_id", "ts_us", "value")
        .write.parquet(s"$root/data/b$v")
      LogKit.commit(root, v, ManifestLog.partFiles(root, s"data/b$v"),
        Seq.empty, "stream-append")
    }
    landCommit(0, Seq(1L, 2L)); landCommit(1, Seq(3L))
    val (r1, _) = ManifestSink.cdcDrained(spark, root,
      workDir = Some(work))
    assert(r1.count() == 3)
    // the stream stopped; the table keeps moving
    landCommit(2, Seq(4L, 5L))
    val (r2, p2) = ManifestSink.cdcDrained(spark, root,
      workDir = Some(work))
    // resume admitted ONLY version 2 — its 2 rows, exactly once
    assert(p2.map(_.numInputRows).sum == 2,
      s"restart must admit only the new version's rows: $p2")
    val got = r2.select("event_id", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L), (5L, 2L)))
  }

  test("schema inference survives retention pruning: a table whose " +
      "manifest head is pruned behind a checkpoint still loads, an " +
      "intact-tail cursor drains, a pruned-past cursor fails loudly " +
      "(r15 advice)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_pruned").toString
    val policy = Some(ManifestLog.CheckpointPolicy(every = 2))
    def landCommit(v: Long, ids: Seq[Long]): Unit = {
      import spark.implicits._
      ids.map(i => (i, i, i, i.toDouble))
        .toDF("user_id", "event_id", "ts_us", "value")
        .write.parquet(s"$root/data/b$v")
      LogKit.commit(root, v, ManifestLog.partFiles(root, s"data/b$v"),
        Seq.empty, "stream-append", policy)
    }
    // 6 commits under every=2 retention: the v4 fold prunes manifests
    // 0..2 (folded by checkpoint 2, itself behind checkpoint 4)
    (0L to 5L).foreach(v => landCommit(v, Seq(v * 10, v * 10 + 1)))
    assert(ManifestLog.versions(root) == Seq(3L, 4L, 5L),
      "fixture must actually prune the manifest head")
    // the old schemaFor replayed changes from -1 and threw here for
    // ANY startingVersion; inference must come from the latest
    // resolvable version's live files instead
    val (rows, _) = ManifestSink.cdcDrained(spark, root,
      startingVersion = 3L)
    assert(rows.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(4L, 5L))
    assert(rows.count() == 4)
    // a cursor whose tail is pruned still fails LOUDLY at planning —
    // prune tolerance must never become silent action loss
    val e = intercept[Exception](
      ManifestSink.cdcDrained(spark, root, startingVersion = -1L))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("pruned/missing manifests")),
      s"expected the dense-range error, got: ${messages(e)}")
  }

  test("a cursor one below an expired horizon fails loudly at " +
      "planning: its tail is intact, but the undeclared table's " +
      "schema gate needs the start version, which no longer resolves") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_horizon").toString
    import spark.implicits._
    (0L to 3L).foreach { v =>
      Seq((v, v, v, v.toDouble)).toDF("user_id", "event_id", "ts_us", "value")
        .write.parquet(s"$root/data/b$v")
      LogKit.commit(root, v, ManifestLog.partFiles(root, s"data/b$v"),
        Seq.empty, "stream-append")
    }
    ManifestLog.expireVersionsBefore(root, 2)
    assert(ManifestLog.versions(root) == Seq(2L, 3L))
    val e = intercept[Exception](
      ManifestSink.cdcDrained(spark, root, startingVersion = 1L))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("version 1 not in manifest log")),
      s"expected the unresolvable-start error, got: ${messages(e)}")
  }

  test("a rewriting commit in range fails the stream loudly - an " +
      "append-only row feed must never silently replay a rewrite") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_rewrite").toString
    val one = spark.range(1).select(
      col("id").as("user_id"), col("id").as("event_id"),
      col("id").as("ts_us"), col("id").cast("double").as("value"))
    one.write.parquet(s"$root/data/b0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/b0"),
      Seq.empty, "write")
    one.write.parquet(s"$root/data/b1")
    LogKit.commit(root, 1, ManifestLog.partFiles(root, "data/b1"),
      removes = ManifestLog.partFiles(root, "data/b0"), op = "merge")
    val e = intercept[Exception](ManifestSink.cdcDrained(spark, root))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("rewrites files")),
      s"expected the append-only contract error, got: ${messages(e)}")
  }

  test("a deletion-vector commit in range fails the stream loudly - " +
      "it changes rows without touching files, so the file-action " +
      "walk would otherwise silently emit nothing") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_dv").toString
    val rows = spark.range(10).select(
      col("id").as("user_id"), col("id").as("event_id"),
      col("id").as("ts_us"), col("id").cast("double").as("value"))
    rows.coalesce(1).write.parquet(s"$root/data/b0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/b0"),
      Seq.empty, "write")
    ManifestLog.deleteWhereMor(spark, root, 0, 1, col("user_id") === 3L)
    val e = intercept[Exception](ManifestSink.cdcDrained(spark, root))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("deletion vectors")),
      s"expected the DV contract error, got: ${messages(e)}")
    // ...and the IMAGE stream (r17) serves exactly that table: the
    // vector delta arrives as a streamed delete image, equal to the
    // batch feed row for row
    val (imgs, progress) = ManifestSink.cdcImagesDrained(spark, root,
      keys = Seq("user_id"))
    assert(progress.count(_.numInputRows > 0) == 2)
    val batch = ManifestLog.readChangeImages(spark, root, -1, 1,
      keys = Seq("user_id"))
    assert(imgs.count() == batch.count())
    assert(imgs.exceptAll(batch).isEmpty && batch.exceptAll(imgs).isEmpty,
      "streamed images must equal the batch feed exactly")
    assert(imgs.filter(col("_change_type") === "delete")
      .select("user_id").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("streamed change images over a COW rewrite ladder equal the " +
      "batch feed exactly, one version per micro-batch (r17)") {
    val dir = "/root/testdata/sf0.001"
    val root = graft.queries.MaintenanceQueries
      .manifestEventsRoot(spark, dir)
    val (imgs, progress) = ManifestSink.cdcImagesDrained(spark, root,
      keys = Seq("user_id"))
    assert(progress.count(_.numInputRows > 0) == 4,
      s"4 versions -> 4 real micro-batches: " +
        s"${progress.map(_.numInputRows).toList}")
    val batch = ManifestLog.readChangeImages(spark, root, -1, 3,
      keys = Seq("user_id"))
    assert(imgs.count() == batch.count())
    assert(imgs.exceptAll(batch).isEmpty && batch.exceptAll(imgs).isEmpty,
      "streamed images must equal the batch feed exactly")
    // a resumed drain from a mid-ladder cursor serves only the tail
    val (tail, tailProgress) = ManifestSink.cdcImagesDrained(spark,
      root, keys = Seq("user_id"), startingVersion = 2L)
    assert(tailProgress.count(_.numInputRows > 0) == 1)
    assert(tail.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("streaming replication is exactly-once WITHOUT its streaming " +
      "checkpoint: a whole re-drain against a fresh checkpoint " +
      "re-delivers every version and every sync no-ops on the " +
      "mirror's txn marker (r17)") {
    val dir = "/root/testdata/sf0.001"
    val src = graft.queries.MorQueries.morRoot(spark, dir)
    val dst = java.nio.file.Files
      .createTempDirectory("graft_stream_repl_dst").toString
    val p1 = ManifestSink.streamingReplicaDrained(spark, src, dst,
      keys = Seq("event_id"))
    assert(p1.count(_.numInputRows > 0) == 4)
    val vAfter = ManifestLog.latestVersion(dst).get
    // mirror == source latest snapshot, row for row
    val srcRows = ManifestLog.readVersion(spark, src, 3)
      .orderBy("event_id")
    val mirRows = ManifestLog.readVersion(spark, dst, vAfter)
      .select(srcRows.columns.map(org.apache.spark.sql.functions.col): _*)
      .orderBy("event_id")
    assert(mirRows.exceptAll(srcRows).isEmpty &&
      srcRows.exceptAll(mirRows).isEmpty)
    // TOTAL streaming-checkpoint loss: a fresh drain re-delivers all
    // 4 versions; every sync must no-op via the mirror's txn marker
    val p2 = ManifestSink.streamingReplicaDrained(spark, src, dst,
      keys = Seq("event_id"))
    assert(p2.count(_.numInputRows > 0) == 4,
      "the fresh checkpoint re-delivers everything")
    assert(ManifestLog.latestVersion(dst).contains(vAfter),
      "replayed syncs must not advance the mirror")
  }

  test("image-drain offsets persist across restarts: a resumed drain " +
      "from the same checkpoint admits only versions committed since, " +
      "and the accumulated images equal the full batch feed (r17)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_img_restart").toString
    val work = java.nio.file.Files
      .createTempDirectory("graft_cdc_img_work").toString
    import spark.implicits._
    def land(sub: String, rows: Seq[(Long, String)]): Seq[String] = {
      rows.toDF("id", "payload").coalesce(1).write.parquet(s"$root/$sub")
      ManifestLog.partFiles(root, sub)
    }
    val f0 = land("data/v0", Seq((1L, "a"), (2L, "b")))
    LogKit.commit(root, 0, f0, Seq.empty, "write")
    val (first, p1) = ManifestSink.cdcImagesDrained(spark, root,
      keys = Seq("id"), workDir = Some(work))
    assert(p1.count(_.numInputRows > 0) == 1)
    assert(first.count() == 2) // v0 inserts
    // source moves on: a COW rewrite at v1 (update 2, delete 1, add 3)
    val f1 = land("data/v1", Seq((2L, "B"), (3L, "c")))
    LogKit.commit(root, 1, f1, f0, "merge")
    val (all, p2) = ManifestSink.cdcImagesDrained(spark, root,
      keys = Seq("id"), workDir = Some(work))
    assert(p2.count(_.numInputRows > 0) == 1,
      "the resumed drain must admit ONLY the new version")
    val batch = ManifestLog.readChangeImages(spark, root, -1, 1,
      keys = Seq("id"))
    assert(all.count() == batch.count())
    assert(all.exceptAll(batch).isEmpty && batch.exceptAll(all).isEmpty,
      "accumulated images must equal the full batch feed")
  }

  test("a file physically NARROWER than its commit's declared schema " +
      "fails the row feed loudly (r19; r18 advice) — the pad/version " +
      "columns would otherwise land in the wrong slots") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_width").toString
    import spark.implicits._
    // the commit DECLARES (k, v) but the landed file carries only k —
    // a buggy writer / corrupted add
    Seq(Tuple1(1L)).toDF("k").coalesce(1).write.parquet(s"$root/data/v0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, "write", schemaDdl = Some("k BIGINT, v BIGINT"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      ManifestSink.cdcDrained(spark, root))
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("misalign")),
      s"expected the width gate, got: ${chain(e)}")
  }
}
