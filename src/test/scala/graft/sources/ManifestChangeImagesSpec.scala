package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import LogKit.ReplayMaps

/** Row-level change images reconstructed from the log's file actions
  * (r15 verdict #4): every `_change_type` class including the DELETE
  * images the registered SCD1 query can never produce, carried-row
  * suppression, the append-only fast path, and the loud pruned-tail
  * contract inherited from changesBetween. */
class ManifestChangeImagesSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** v0 inserts ids 1..4; v1 rewrites the whole file: id 2's payload
    * changes, id 3 is DELETED, id 5 arrives, ids 1 and 4 carry
    * unchanged; v2 appends ids 6..7 without removing anything. */
  private def fixture(): String = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_images").toString
    import spark.implicits._
    def land(sub: String, rows: Seq[(Long, String, Long)]): Seq[String] = {
      rows.toDF("id", "payload", "amount")
        .coalesce(1).write.parquet(s"$root/$sub")
      ManifestLog.partFiles(root, sub)
    }
    val f0 = land("data/v0", Seq((1L, "a", 10L), (2L, "b", 20L),
      (3L, "c", 30L), (4L, "d", 40L)))
    LogKit.commit(root, 0, f0, Seq.empty, "write")
    val f1 = land("data/v1", Seq((1L, "a", 10L), (2L, "B", 21L),
      (4L, "d", 40L), (5L, "e", 50L)))
    LogKit.commit(root, 1, f1, f0, "merge")
    val f2 = land("data/v2", Seq((6L, "f", 60L), (7L, "g", 70L)))
    LogKit.commit(root, 2, f2, Seq.empty, "append")
    root
  }

  test("change images across a SCHEMA-EVOLUTION boundary (r17): " +
      "every frame plans under the declared schema — old-generation " +
      "rows surface NULL for the new column in inserts AND deletes, " +
      "and the cross-boundary union never mis-shapes") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_evo").toString
    import spark.implicits._
    // v0: two-column generation, declared
    val f0 = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/data/v0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, "write", schemaDdl = Some("k BIGINT, v BIGINT"))
    // v1: the widened generation appends WITH w, declaring it
    Seq((3L, 30L, 300L), (4L, 40L, 400L)).toDF("k", "v", "w")
      .coalesce(1).write.parquet(s"$root/data/v1")
    LogKit.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      Seq.empty, "evolve",
      schemaDdl = Some("k BIGINT, v BIGINT, w BIGINT"))
    // v2: a COW rewrite retires the OLD-generation file (k=2's
    // payload changes, k=1 carries) — its pre-images are old-gen rows
    Seq((1L, 10L, null.asInstanceOf[java.lang.Long]),
      (2L, 21L, null.asInstanceOf[java.lang.Long]))
      .toDF("k", "v", "w")
      .coalesce(1).write.parquet(s"$root/data/v2")
    LogKit.commit(root, 2, ManifestLog.partFiles(root, "data/v2"),
      ManifestLog.partFiles(root, "data/v0"), "merge")
    val feed = ManifestLog.readChangeImages(spark, root, -1, 2,
      Seq("k")).select("k", "v", "w", "_change_type", "_commit_version")
    val rows = feed.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      r.getString(3), r.getLong(4))).toSet
    assert(rows == Set(
      (1L, 10L, -1L, "insert", 0L), (2L, 20L, -1L, "insert", 0L),
      (3L, 30L, 300L, "insert", 1L), (4L, 40L, 400L, "insert", 1L),
      (2L, 20L, -1L, "update_preimage", 2L),
      (2L, 21L, -1L, "update_postimage", 2L)),
      s"got: $rows")
  }

  test("replication across a schema evolution (r17): the mirror's " +
      "mixed file generations plan under the feed's schema — the " +
      "sync neither crashes nor silently drops the new column from " +
      "the rewrite, and old rows surface NULL for it") {
    val src = java.nio.file.Files
      .createTempDirectory("graft_cdc_evo_src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft_cdc_evo_dst").toString
    import spark.implicits._
    // v0: two-column generation; mirror bootstraps on it
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$src/data/v0")
    LogKit.commit(src, 0, ManifestLog.partFiles(src, "data/v0"),
      Seq.empty, "write", schemaDdl = Some("k BIGINT, v BIGINT"))
    ManifestLog.replicateTo(spark, src, dst, keys = Seq("k"))
    // v1: evolve + append the widened generation
    Seq((3L, 30L, 300L)).toDF("k", "v", "w")
      .coalesce(1).write.parquet(s"$src/data/v1")
    LogKit.commit(src, 1, ManifestLog.partFiles(src, "data/v1"),
      Seq.empty, "evolve",
      schemaDdl = Some("k BIGINT, v BIGINT, w BIGINT"))
    // v2: update an OLD-generation key (k=2) under the new schema —
    // the sync must rewrite the mirror's old-generation file
    Seq[(Long, Long, java.lang.Long)]((1L, 10L, null),
      (2L, 21L, java.lang.Long.valueOf(201L))).toDF("k", "v", "w")
      .coalesce(1).write.parquet(s"$src/data/v2")
    LogKit.commit(src, 2, ManifestLog.partFiles(src, "data/v2"),
      ManifestLog.partFiles(src, "data/v0"), "merge")
    ManifestLog.replicateTo(spark, src, dst, keys = Seq("k"))
    val mirror = ManifestLog.readVersion(spark, dst,
      ManifestLog.latestVersion(dst).get)
    val rows = mirror.select("k", "v", "w").collect().map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // k=3 MUST keep w=300 (a footer-inferred old-generation schema
    // would have silently dropped it in the rewrite); k=1 stays an
    // old-generation row with NULL w; k=2 took the update
    assert(rows == Set((1L, 10L, -1L), (2L, 21L, 201L),
      (3L, 30L, 300L)), s"got: $rows")
  }

  test("CONTINUOUS replication across a schema evolution (r17): the " +
      "version-cursor stream drives per-batch syncs through the " +
      "boundary — micro-batched exactly like production, same final " +
      "mirror as the batch sibling") {
    val src = java.nio.file.Files
      .createTempDirectory("graft_cdc_evo_stream_src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft_cdc_evo_stream_dst").toString
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$src/data/v0")
    LogKit.commit(src, 0, ManifestLog.partFiles(src, "data/v0"),
      Seq.empty, "write", schemaDdl = Some("k BIGINT, v BIGINT"))
    Seq((3L, 30L, 300L)).toDF("k", "v", "w")
      .coalesce(1).write.parquet(s"$src/data/v1")
    LogKit.commit(src, 1, ManifestLog.partFiles(src, "data/v1"),
      Seq.empty, "evolve",
      schemaDdl = Some("k BIGINT, v BIGINT, w BIGINT"))
    Seq[(Long, Long, java.lang.Long)]((1L, 10L, null),
      (2L, 21L, java.lang.Long.valueOf(201L))).toDF("k", "v", "w")
      .coalesce(1).write.parquet(s"$src/data/v2")
    LogKit.commit(src, 2, ManifestLog.partFiles(src, "data/v2"),
      ManifestLog.partFiles(src, "data/v0"), "merge")
    // one version per micro-batch: the evolution lands MID-stream
    val progress = graft.streaming.ManifestSink
      .streamingReplicaDrained(spark, src, dst, keys = Seq("k"))
    assert(progress.count(_.numInputRows > 0) == 3)
    val rows = ManifestLog.readVersion(spark, dst,
      ManifestLog.latestVersion(dst).get)
      .select("k", "v", "w").collect().map(r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows == Set((1L, 10L, -1L), (2L, 21L, 201L),
      (3L, 30L, 300L)), s"got: $rows")
    // the mirror carries the propagated declaration
    assert(ManifestLog.snapshot(dst, ManifestLog.latestVersion(dst).get)
      .schemaDdl
      .contains("k BIGINT, v BIGINT, w BIGINT"))
  }

  test("all four image classes materialize correctly; carried rows " +
      "produce nothing; appends skip the join") {
    val root = fixture()
    val feed = ManifestLog.readChangeImages(spark, root, -1, 2,
      keys = Seq("id"))
    val got = feed.select("_commit_version", "id", "_change_type",
        "payload", "amount")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(got == Seq(
      // v0: initial inserts (no removes — the zero-join path)
      (0L, 1L, "insert", "a", 10L),
      (0L, 2L, "insert", "b", 20L),
      (0L, 3L, "insert", "c", 30L),
      (0L, 4L, "insert", "d", 40L),
      // v1: update pair for 2, DELETE image for 3, insert for 5 —
      // and NOTHING for the carried-unchanged 1 and 4
      (1L, 2L, "update_postimage", "B", 21L),
      (1L, 2L, "update_preimage", "b", 20L),
      (1L, 3L, "delete", "c", 30L),
      (1L, 5L, "insert", "e", 50L),
      // v2: append-only commit — inserts only
      (2L, 6L, "insert", "f", 60L),
      (2L, 7L, "insert", "g", 70L)))
  }

  test("a cursor mid-feed reads only its tail; the feed REPLAYS to " +
      "the post-snapshot (insert+update_post-delete == filesAsOf)") {
    val root = fixture()
    val tail = ManifestLog.readChangeImages(spark, root, 0, 2,
      keys = Seq("id"))
    assert(tail.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // the consumer invariant: folding the whole feed reproduces the
    // latest snapshot exactly (last image per key wins; deletes drop)
    val feed = ManifestLog.readChangeImages(spark, root, -1, 2,
      keys = Seq("id"))
    val folded = feed
      .filter(col("_change_type") =!= "update_preimage")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("_commit_version").desc)))
      .filter(col("rk") === 1 && col("_change_type") =!= "delete")
      .select("id", "payload", "amount")
    val snapshot = ManifestLog.readVersion(spark, root, 2)
      .select("id", "payload", "amount")
    assert(folded.exceptAll(snapshot).isEmpty &&
      snapshot.exceptAll(folded).isEmpty,
      "replaying the feed must reconstruct the latest snapshot")
  }

  test("a METADATA-ONLY range yields a valid EMPTY feed (r17 advice) " +
      "— consumers advance their cursor instead of crashing until a " +
      "data commit lands") {
    val root = fixture()
    // two fileless commits: a checks declaration and a txn marker
    LogKit.commit(root, 3, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("amount_pos" -> "amount > 0")))
    LogKit.commit(root, 4, Seq.empty, Seq.empty, op = "marker",
      txn = Some(("app", 9L)))
    val empty = ManifestLog.readChangeImages(spark, root, 2, 4,
      keys = Seq("id"))
    assert(empty.count() == 0)
    // the frame still carries the table's exact image schema
    assert(empty.columns.toSeq ==
      Seq("id", "payload", "amount", "_change_type", "_commit_version"))
    // a range with no live files anywhere stays loud
    val bare = java.nio.file.Files
      .createTempDirectory("graft_cdc_bare").toString
    LogKit.commit(bare, 0, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("x_pos" -> "x > 0")))
    intercept[IllegalArgumentException] {
      ManifestLog.readChangeImages(spark, bare, -1, 0, keys = Seq("id"))
    }
  }

  test("replicateTo mirrors an ARRAY<STRUCT> table (r20): the image " +
      "feed packs the nested payload, the mirror re-lands through " +
      "the writer's LIST-of-group binding, and a COW update " +
      "round-trips every span — empty arrays, null elements and " +
      "null fields included") {
    import spark.implicits._
    val src = java.nio.file.Files
      .createTempDirectory("graft_los_repl_src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft_los_repl_dst").toString
    def land(sub: String,
        rows: Seq[(Long, Seq[(java.lang.Long, String)])]): Seq[String] = {
      rows.toDF("doc_id", "spans").coalesce(1)
        .write.parquet(s"$src/$sub")
      ManifestLog.partFiles(src, sub)
    }
    val f0 = land("data/v0", Seq(
      (1L, Seq[(java.lang.Long, String)]((java.lang.Long.valueOf(0L), "s0"), (java.lang.Long.valueOf(10L), null))),
      (2L, Seq.empty[(java.lang.Long, String)]),
      (3L, null),
      (4L, Seq[(java.lang.Long, String)](null, (java.lang.Long.valueOf(5L), "s5")))))
    LogKit.commit(src, 0, f0, Seq.empty, "write")
    ManifestLog.replicateTo(spark, src, dst, keys = Seq("doc_id"))
    // COW update: doc 4 gains a span, doc 2 stays empty
    val f1 = land("data/v1", Seq(
      (1L, Seq[(java.lang.Long, String)]((java.lang.Long.valueOf(0L), "s0"), (java.lang.Long.valueOf(10L), null))),
      (2L, Seq.empty[(java.lang.Long, String)]),
      (3L, null),
      (4L, Seq[(java.lang.Long, String)](null, (java.lang.Long.valueOf(5L), "s5"), (java.lang.Long.valueOf(7L), "s7")))))
    LogKit.commit(src, 1, f1, f0, "rewrite")
    ManifestLog.replicateTo(spark, src, dst, keys = Seq("doc_id"))
    def shape(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select("doc_id", "spans").collect().map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) null
          else r.getSeq[org.apache.spark.sql.Row](1).map(e =>
            if (e == null) "null"
            else (if (e.isNullAt(0)) "-" else e.getLong(0).toString) +
              "|" + (if (e.isNullAt(1)) "-" else e.getString(1)))
            .mkString(","))
      }.sortBy(_._1).toSeq
    val mir = shape(ManifestLog.readVersion(spark, dst,
      ManifestLog.latestVersion(dst).get))
    val want = shape(ManifestLog.readVersion(spark, src, 1))
    assert(mir == want && mir == Seq((1L, "0|s0,10|-"), (2L, ""),
      (3L, null), (4L, "null,5|s5,7|s7")),
      s"nested replica diverged: $mir vs $want")
  }

  test("replicateTo prunes the mirror fold to key-intersecting files " +
      "(r17): an untouched-key sync rewrites ZERO files, and a " +
      "metadata-only source range still advances the cursor") {
    val root = fixture()
    val dst = java.nio.file.Files
      .createTempDirectory("graft_replica_prune").toString
    // bootstrap sync: mirror lands key-clustered with stats
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("id"),
      upTo = Some(2L), mirrorFiles = 4)
    val v0 = ManifestLog.latestVersion(dst).get
    val mirrorFiles0 = ManifestLog.filesAsOf(dst, v0).toSet
    assert(mirrorFiles0.nonEmpty)
    assert(ManifestLog.snapshot(dst, v0).colStats.nonEmpty,
      "mirror files must commit lead-key stats for the next sync's prune")
    // source v3: an append whose id band (100..103) intersects NO
    // existing mirror file's id interval (mirror holds 1..7)
    import spark.implicits._
    val f3 = {
      (100L to 103L).map(i => (i, s"p$i", i * 10L))
        .toDF("id", "payload", "amount")
        .coalesce(1).write.parquet(s"$root/data/v3")
      ManifestLog.partFiles(root, "data/v3")
    }
    LogKit.commit(root, 3, f3, Seq.empty, "append")
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("id"),
      mirrorFiles = 1)
    val v1 = ManifestLog.latestVersion(dst).get
    val (_, adds1, removes1) =
      LogKit.changesBetween(dst, v0, v1).head
    assert(removes1.isEmpty,
      s"an untouched-key sync must rewrite ZERO mirror files: $removes1")
    assert(adds1.nonEmpty, "the new keys land as a fresh file")
    assert(mirrorFiles0.subsetOf(ManifestLog.filesAsOf(dst, v1).toSet),
      "every pre-sync mirror file is carried by reference")
    // source v4: delete id 6 by rewrite — only mirror files whose id
    // interval can hold 6 are rewritten
    val f4 = {
      Seq((7L, "g", 70L)).toDF("id", "payload", "amount")
        .coalesce(1).write.parquet(s"$root/data/v4")
      ManifestLog.partFiles(root, "data/v4")
    }
    val oldLive = ManifestLog.filesAsOf(root, 3)
      .filter(_.startsWith("data/v2"))
    LogKit.commit(root, 4, f4, oldLive, "merge")
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("id"))
    val v2 = ManifestLog.latestVersion(dst).get
    val (_, _, removes2) = LogKit.changesBetween(dst, v1, v2).head
    val cs = ManifestLog.snapshot(dst, v1).colStats
    removes2.foreach { f =>
      val st = cs.get(f).flatMap(_.get("id"))
      assert(st.forall(s => s.min <= 6L && s.max >= 6L),
        s"rewrote a mirror file whose id interval excludes the " +
          s"changed keys: $f -> $st")
    }
    // the mirror still equals the source snapshot
    val src = ManifestLog.readVersion(spark, root, 4)
      .orderBy("id").collect().toSeq
    val mir = ManifestLog.readVersion(spark, dst, v2)
      .select("id", "payload", "amount").orderBy("id").collect().toSeq
    assert(mir == src)
    // a metadata-only source tail advances the cursor with a
    // marker-bearing commit instead of crashing (r17 advice)
    LogKit.commit(root, 5, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("amount_pos" -> "amount > 0")))
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("id"))
    assert(ManifestLog.latestSnapshot(dst)
      .flatMap(_.txns.get("graft_replica")).contains(5L))
    val vLast = ManifestLog.latestVersion(dst).get
    val (_, addsM, removesM) =
      LogKit.changesBetween(dst, v2, vLast).head
    assert(addsM.isEmpty && removesM.isEmpty,
      "a no-change sync must be a pure marker commit")
  }

  test("replicateTo prunes STRING-keyed mirrors by UTF-8 bounds " +
      "(r17): an untouched-key sync rewrites zero files") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_replica_str").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft_replica_str_dst").toString
    import spark.implicits._
    def land(sub: String, rows: Seq[(String, Long)]): Seq[String] = {
      rows.toDF("code", "amount").coalesce(1)
        .write.parquet(s"$root/$sub")
      ManifestLog.partFiles(root, sub)
    }
    // v0: codes across the alphabet; bootstrap clusters the mirror
    LogKit.commit(root, 0,
      land("data/v0", Seq(("aa", 1L), ("bb", 2L), ("mm", 3L),
        ("nn", 4L), ("yy", 5L), ("zz", 6L))), Seq.empty, "write")
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("code"),
      mirrorFiles = 3)
    val v0 = ManifestLog.latestVersion(dst).get
    assert(ManifestLog.snapshot(dst, v0).strColStats.nonEmpty,
      "string-keyed mirror files must commit code bounds")
    // v1: append codes in the 'q' band — no existing mirror file's
    // bound interval can hold them
    LogKit.commit(root, 1,
      land("data/v1", Seq(("qa", 7L), ("qb", 8L))), Seq.empty, "append")
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("code"))
    val v1 = ManifestLog.latestVersion(dst).get
    val (_, adds1, removes1) = LogKit.changesBetween(dst, v0, v1).head
    // the mirror is 3 range-clustered files over aa..zz: the 'q' band
    // may straddle ONE boundary file at most, never the whole mirror
    assert(removes1.size <= 1,
      s"string-key prune must bound the rewrite: $removes1")
    assert(adds1.nonEmpty)
    // the mirror equals the source snapshot
    val src = ManifestLog.readVersion(spark, root, 1)
      .orderBy("code").collect().toSeq
    val mir = ManifestLog.readVersion(spark, dst, v1)
      .select("code", "amount").orderBy("code").collect().toSeq
    assert(mir == src)
  }

  test("replicateTo's changed-key collect is BOUNDED (r18; closes the " +
      "r17 verdict's weak): an over-bound sync skips the file-level " +
      "prune NON-THROWING — the driver never collects more than " +
      "maxKeys + 1 keys — and still replicates exactly via the full " +
      "fold") {
    val root = fixture()
    val dst = java.nio.file.Files
      .createTempDirectory("graft_replica_bound").toString
    // bootstrap with maxKeys = 1: the feed fold carries 7 distinct
    // changed keys — far over-bound — and must neither throw nor
    // collect them all; the mirror still lands exact
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("id"),
      upTo = Some(2L), mirrorFiles = 2, maxKeys = 1)
    val v0 = ManifestLog.latestVersion(dst).get
    assert(ManifestLog.readVersion(spark, dst, v0)
      .select("id", "payload", "amount").orderBy("id").collect().toSeq ==
      ManifestLog.readVersion(spark, root, 2)
        .orderBy("id").collect().toSeq)
    // an over-bound TRICKLE sync (2 changed keys > maxKeys = 1) falls
    // back to the full mirror fold: every pre-sync file rewrites —
    // unpruned but exact, the same shape an unprunable key type takes
    import spark.implicits._
    val f3 = {
      Seq((100L, "x", 1000L), (101L, "y", 1010L))
        .toDF("id", "payload", "amount")
        .coalesce(1).write.parquet(s"$root/data/v3b")
      ManifestLog.partFiles(root, "data/v3b")
    }
    LogKit.commit(root, 3, f3, Seq.empty, "append")
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("id"),
      maxKeys = 1)
    val v1 = ManifestLog.latestVersion(dst).get
    val (_, adds1, removes1) =
      LogKit.changesBetween(dst, v0, v1).head
    assert(removes1.toSet == ManifestLog.filesAsOf(dst, v0).toSet,
      "an over-bound sync must fold the FULL mirror (prune skipped)")
    assert(adds1.nonEmpty)
    assert(ManifestLog.readVersion(spark, dst, v1)
      .select("id", "payload", "amount").orderBy("id").collect().toSeq ==
      ManifestLog.readVersion(spark, root, 3)
        .orderBy("id").collect().toSeq)
    // the SAME sync shape under the default bound key-prunes (the
    // r17 pin's contract is untouched by the guard)
    val dst2 = java.nio.file.Files
      .createTempDirectory("graft_replica_bound2").toString
    ManifestLog.replicateTo(spark, root, dst2, keys = Seq("id"),
      upTo = Some(2L), mirrorFiles = 2)
    val w0 = ManifestLog.latestVersion(dst2).get
    ManifestLog.replicateTo(spark, root, dst2, keys = Seq("id"))
    val w1 = ManifestLog.latestVersion(dst2).get
    val (_, _, removesP) =
      LogKit.changesBetween(dst2, w0, w1).head
    assert(removesP.isEmpty,
      "a bounded non-intersecting sync still rewrites zero files")
  }

  test("replicateTo's bound counts NON-NULL keys only (r18 review " +
      "finding): a null key inside the limit window can never shrink " +
      "a truncated set back under the bound — the replica stays " +
      "exact with null-keyed rows present at and over the bound") {
    val dst = java.nio.file.Files
      .createTempDirectory("graft_replica_nullkey").toString
    val root = java.nio.file.Files
      .createTempDirectory("graft_replica_nullkey_src").toString
    import spark.implicits._
    def land(sub: String,
        rows: Seq[(java.lang.Long, Long)]): Seq[String] = {
      rows.toDF("id", "amount").coalesce(1)
        .write.parquet(s"$root/$sub")
      ManifestLog.partFiles(root, sub)
    }
    // v0: three non-null entities + one NULL-keyed row
    LogKit.commit(root, 0, land("data/v0",
      Seq((1L, 10L), (2L, 20L), (3L, 30L),
        (null.asInstanceOf[java.lang.Long], 99L))), Seq.empty, "write")
    // bootstrap at maxKeys = 2: 3 distinct non-null keys → over-bound
    // by the NON-NULL count (the old code could let the null absorb a
    // limit slot and pass the bound with a truncated key set)
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("id"),
      mirrorFiles = 2, maxKeys = 2)
    // v1: rewrite everything — ids 1..3 change, the null row's
    // payload changes too
    val f1 = land("data/v1",
      Seq((1L, 11L), (2L, 21L), (3L, 31L),
        (null.asInstanceOf[java.lang.Long], 100L)))
    LogKit.commit(root, 1, f1, ManifestLog.filesAsOf(root, 0),
      "rewrite")
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("id"),
      maxKeys = 2)
    val v = ManifestLog.latestVersion(dst).get
    val mir = ManifestLog.readVersion(spark, dst, v)
      .select("id", "amount").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    val src = ManifestLog.readVersion(spark, root, 1).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(mir == src, s"null-keyed over-bound sync diverged: $mir")
  }

  test("replicateTo prunes TIMESTAMP lead keys in the writer's " +
      "epoch-MICROS image (r18 review finding): a plain long cast " +
      "collects SECONDS and would mis-prune against micros-folded " +
      "stats, leaving stale rows beside the upserts") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_replica_ts_src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft_replica_ts_dst").toString
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    def land(sub: String, rows: Seq[(java.sql.Timestamp, Long)])
        : Seq[String] = {
      rows.toDF("t", "amount").coalesce(1).write.parquet(s"$root/$sub")
      ManifestLog.partFiles(root, sub)
    }
    LogKit.commit(root, 0, land("data/v0",
      (0L until 8L).map(i => (ts(1700000000L + i), i * 10L))),
      Seq.empty, "write")
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("t"),
      mirrorFiles = 2)
    // one key's payload changes by COW rewrite
    val f1 = land("data/v1",
      (0L until 8L).map(i =>
        (ts(1700000000L + i), if (i == 3) 999L else i * 10L)))
    LogKit.commit(root, 1, f1, ManifestLog.filesAsOf(root, 0),
      "rewrite")
    ManifestLog.replicateTo(spark, root, dst, keys = Seq("t"))
    val v = ManifestLog.latestVersion(dst).get
    // with mismatched units NO mirror file intersects the changed
    // keys → the stale t=+3 row survives beside the upsert → count
    // and payload diverge
    val mir = ManifestLog.readVersion(spark, dst, v)
      .select("t", "amount").orderBy("t").collect().toSeq
    val src = ManifestLog.readVersion(spark, root, 1)
      .orderBy("t").collect().toSeq
    assert(mir == src, s"timestamp-keyed sync diverged: got $mir")
  }

  test("CHUNKED batch replication (r19): a sync whose cursor lags K " +
      "versions loops bounded windows — each its own atomic marker-" +
      "carrying commit, so the image plan never unions more than the " +
      "bound's versions — and the final mirror equals the one-shot " +
      "sync's exactly") {
    val src = java.nio.file.Files
      .createTempDirectory("graft_rep_chunk_src").toString
    val dstChunk = java.nio.file.Files
      .createTempDirectory("graft_rep_chunk_a").toString
    val dstOne = java.nio.file.Files
      .createTempDirectory("graft_rep_chunk_b").toString
    import spark.implicits._
    def land(sub: String, rows: Seq[(Long, Long)]): Seq[String] = {
      rows.toDF("id", "amount").coalesce(1).write.parquet(s"$src/$sub")
      ManifestLog.partFiles(src, sub)
    }
    // 6 versions: appends + one COW rewrite mid-stream, so windows
    // cross a rewriting commit too
    var prev = land("data/v0", Seq((1L, 10L), (2L, 20L)))
    LogKit.commit(src, 0, prev, Seq.empty, "write")
    for (v <- 1L to 4L) {
      val f = land(s"data/v$v", Seq((10 * v, v), (10 * v + 1, v)))
      LogKit.commit(src, v, f, Seq.empty, "append")
    }
    val f5 = land("data/v5", Seq((1L, 11L), (2L, 20L)))
    LogKit.commit(src, 5, f5, prev, "rewrite")
    // chunked: bound 2 over a 6-version lag → 3 windows = 3 commits
    val got = ManifestLog.replicateTo(spark, src, dstChunk,
      keys = Seq("id"), maxVersionsPerSync = Some(2L))
    assert(got == 5L)
    assert(ManifestLog.latestSnapshot(dstChunk)
      .flatMap(_.txns.get("graft_replica")).contains(5L))
    val mirrorVs = ManifestLog.versions(dstChunk)
    assert(mirrorVs.size == 3,
      s"expected 3 window commits, got $mirrorVs")
    // every window left a marker on ITS OWN commit (resumability: a
    // crash between windows resumes at the last completed one)
    // one-shot twin: identical final content
    ManifestLog.replicateTo(spark, src, dstOne, keys = Seq("id"))
    def state(root: String) = ManifestLog.readVersion(spark, root,
        ManifestLog.latestVersion(root).get)
      .select("id", "amount").collect().map(r =>
        (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(state(dstChunk) == state(dstOne))
    // replay: a second chunked call is a no-op at the marker
    assert(ManifestLog.replicateTo(spark, src, dstChunk,
      keys = Seq("id"), maxVersionsPerSync = Some(2L)) == 5L)
    assert(ManifestLog.versions(dstChunk).size == 3)
  }

  test("multi-key replication bounds the BROADCAST HINT on the full " +
      "tuple count (r19; r18 watch-item 1): few lead values over a " +
      "large tuple set takes the no-hint path and still syncs " +
      "exactly; the decision seam is pinned directly") {
    import spark.implicits._
    // seam pins: single-key trusts the lead bound without a job;
    // multi-key counts the tuple frame through the limit
    val tuples = (1L to 200L).map(i => (1L, i))
      .toDF("a", "b")
    assert(ManifestLog.replicaTupleBounded(tuples, nKeys = 1,
      maxKeys = 100))
    assert(!ManifestLog.replicaTupleBounded(tuples, nKeys = 2,
      maxKeys = 100))
    assert(ManifestLog.replicaTupleBounded(tuples.limit(50), nKeys = 2,
      maxKeys = 100))
    // end-to-end: composite key (grp, id) where the LEAD key has ONE
    // distinct value (within any bound) but the tuple set exceeds
    // maxKeys=8 — the sync must not hint, and must still converge
    val src = java.nio.file.Files
      .createTempDirectory("graft_rep_tuple_src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft_rep_tuple_dst").toString
    def land(sub: String, rows: Seq[(Long, Long, Long)]): Seq[String] = {
      rows.toDF("grp", "id", "amount").coalesce(1)
        .write.parquet(s"$src/$sub")
      ManifestLog.partFiles(src, sub)
    }
    val f0 = land("data/v0", (1L to 20L).map(i => (7L, i, i * 10)))
    LogKit.commit(src, 0, f0, Seq.empty, "write")
    ManifestLog.replicateTo(spark, src, dst, keys = Seq("grp", "id"),
      maxKeys = 8)
    val f1 = land("data/v1",
      (1L to 20L).map(i => (7L, i, if (i == 3) 999L else i * 10)))
    LogKit.commit(src, 1, f1, f0, "rewrite")
    ManifestLog.replicateTo(spark, src, dst, keys = Seq("grp", "id"),
      maxKeys = 8)
    val mir = ManifestLog.readVersion(spark, dst,
        ManifestLog.latestVersion(dst).get)
      .select("grp", "id", "amount").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2).toSeq
    val want = ManifestLog.readVersion(spark, src, 1)
      .select("grp", "id", "amount").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2).toSeq
    assert(mir == want, s"multi-key no-hint sync diverged: $mir")
  }

  test("DVS-EVER bit (r19): checkpoints fold 'has this table ever " +
      "committed a vector' — an unresolvable image baseline on a " +
      "vector-using table stays LOUD even after compaction dropped " +
      "every surviving dv ref, and a never-vectored table's feed " +
      "opens through the O(tail) fast path") {
    import spark.implicits._
    // --- vector-using table: dv at v1, compacted away at v2 ---
    val root = java.nio.file.Files
      .createTempDirectory("graft_dvsever").toString
    def land(r: String, sub: String, rows: Seq[(Long, Long)]) = {
      rows.toDF("id", "amount").coalesce(1).write.parquet(s"$r/$sub")
      ManifestLog.partFiles(r, sub)
    }
    val f0 = land(root, "data/v0", (1L to 8L).map(i => (i, i * 10)))
    LogKit.commit(root, 0, f0, Seq.empty, "write")
    ManifestLog.deleteWhereMor(spark, root, 0, 1,
      org.apache.spark.sql.functions.col("id") === 3L)
    // v2: COW rewrite folds the vector away — no surviving dv refs
    val f2 = land(root, "data/v2",
      (1L to 8L).filter(_ != 3L).map(i => (i, i * 10)))
    LogKit.commit(root, 2, f2, ManifestLog.filesAsOf(root, 1),
      "rewrite")
    val f3 = land(root, "data/v3", Seq((9L, 90L)))
    LogKit.commit(root, 3, f3, Seq.empty, "append")
    ManifestLog.writeCheckpoint(root, 2)
    assert(ManifestLog.snapshot(root, 3).dvs.isEmpty)
    // prune manifests 0..1 behind the checkpoint → baseline v1 is
    // unresolvable, surviving metadata carries NO dvs field at all
    ManifestLog.expireVersionsBefore(root, 2)
    val store = ManifestLog.storeFor(root)
    assert(ManifestLog.dvsEverThrough(store, 3))
    val e = intercept[IllegalArgumentException](
      ManifestLog.readChangeImages(spark, root, 1, 3, Seq("id")))
    assert(e.getMessage.contains("deletion vectors"),
      s"wrong refusal: ${e.getMessage}")
    // --- never-vectored twin: same shape, feed opens clean ---
    val clean = java.nio.file.Files
      .createTempDirectory("graft_dvsever_clean").toString
    val g0 = land(clean, "data/v0", (1L to 8L).map(i => (i, i * 10)))
    LogKit.commit(clean, 0, g0, Seq.empty, "write")
    val g1 = land(clean, "data/v1",
      (1L to 8L).filter(_ != 3L).map(i => (i, i * 10)))
    LogKit.commit(clean, 1, g1, g0, "rewrite")
    val g2 = land(clean, "data/v2", Seq((9L, 90L)))
    LogKit.commit(clean, 2, g2, Seq.empty, "append")
    ManifestLog.writeCheckpoint(clean, 1)
    ManifestLog.expireVersionsBefore(clean, 1)
    assert(!ManifestLog.dvsEverThrough(
      ManifestLog.storeFor(clean), 2))
    // baseline v0 unresolvable but provably vector-free → the feed
    // over the intact tail serves (one append version = 1 insert row)
    assert(ManifestLog.readChangeImages(spark, clean, 0, 2,
      Seq("id")).count() > 0)
  }

  test("unresolvable-baseline probe shares dvsEverThrough's " +
      "conservative fallback (r20; r19 advice): an earlier PQ " +
      "checkpoint whose dv refs ride the parquet sidecar is the only " +
      "surviving DV evidence, the newest checkpoint is bitless " +
      "(mixed-version writer) — the feed must refuse loudly, not " +
      "silently serve an empty DV baseline") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_dvsever_pq").toString
    def land(sub: String, rows: Seq[(Long, Long)]) = {
      rows.toDF("id", "amount").coalesce(1).write.parquet(s"$root/$sub")
      ManifestLog.partFiles(root, sub)
    }
    val f0 = land("data/v0", (1L to 8L).map(i => (i, i * 10)))
    LogKit.commit(root, 0, f0, Seq.empty, "write")
    // v1: MOR delete — the dv ref lives on
    ManifestLog.deleteWhereMor(spark, root, 0, 1,
      org.apache.spark.sql.functions.col("id") === 3L)
    // PQ checkpoint at 1: dv refs in the SIDECAR, inline "dvs" empty
    ManifestLog.writeCheckpoint(root, 1)
    val f2 = land("data/v2", Seq((9L, 90L)))
    LogKit.commit(root, 2, f2, Seq.empty, "append")
    // forge a NEWER all-JSON checkpoint without the bit — the
    // rollback/mixed-version writer shape; it now masks the pq
    // checkpoint as "last"
    val store = ManifestLog.storeFor(root)
    store.publish(f"${2L}%020d.checkpoint.json",
      """{"version":2,"files":["data/v2/x.parquet"],"stats":[],""" +
        """"colstats":[],"blooms":[],"txns":[],"dvs":[],"schema":[],""" +
        """"checks":["-"],"at":[],"strstats":[],"nullstats":[]}""")
    // prune manifests 0..1 (newest first, as retention does) →
    // baseline v0 is unresolvable and the dv evidence survives ONLY
    // as the pq checkpoint's dvsever bit, which the bitless checkpoint
    // masks. That checkpoint is below the format floor, so the probe
    // and the feed refuse it by name instead of guessing a baseline.
    Seq(1L, 0L).foreach(v => store.delete(f"$v%020d.json"))
    val probe = intercept[ManifestLog.BelowFormatFloor](
      ManifestLog.dvsEverThrough(store, Long.MaxValue))
    assert(probe.file == f"${2L}%020d.checkpoint.json")
    val e = intercept[ManifestLog.BelowFormatFloor](
      ManifestLog.readChangeImages(spark, root, 0, 2, Seq("id")))
    assert(e.getMessage.contains("format floor"),
      s"wrong refusal: ${e.getMessage}")
  }

  test("a pruned tail fails loudly — images are never silently " +
      "reconstructed over missing actions") {
    val root = fixture()
    ManifestLog.writeCheckpoint(root, 2)
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      root, "_log", f"${1L}%020d.json"))
    intercept[IllegalArgumentException](
      ManifestLog.readChangeImages(spark, root, -1, 2, keys = Seq("id")))
    // the intact tail past the gap still serves
    assert(ManifestLog.readChangeImages(spark, root, 1, 2,
      keys = Seq("id")).count() == 2)
  }
}
