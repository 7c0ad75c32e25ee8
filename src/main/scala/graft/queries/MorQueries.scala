package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.sources.ManifestLog
import graft.sources.Readers.table

/** MERGE-ON-READ operators over the manifest log (r16): deletion
  * vectors — the row-change mechanism real formats use when rewriting
  * data files is too expensive (Delta deletion vectors, Iceberg
  * position deletes). `lake_merge_cow` is the copy-on-write pole of
  * this trade (rewrite the touched files, reads stay pure scans);
  * these queries exercise the merge-on-read pole (commit dead-row
  * sidecars, reads anti-join them out) plus the compaction that moves
  * a table back: delete → upsert → DV-threshold rewrite, each version
  * oracle-checked against a raw-corpus replay in DuckDB. */
object MorQueries {

  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  private def flatEvents(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))

  /** Deleted by the v1 MOR delete: a user band (stats-prunable — only
    * the files whose manifest interval meets it are scanned) crossed
    * with a row predicate stats cannot see. */
  private val DelLo = 3L
  private val DelHi = 6L

  /** Upserted by the v2 MOR merge. Overlaps the delete band on
    * purpose: post-images are computed from the v1 MERGE-ON-READ read
    * (already-dead rows produce none) while the DV build scans raw
    * files (re-matching a dead row unions a no-op into the vector) —
    * so the composed oracle is simply "delete rule, then correction
    * rule over the survivors". Starts at 4 so the band is populated
    * at every tracked sf (sf0.001 has users 0..14). */
  private val MrgLo = 4L
  private val MrgHi = 60L

  /** The merge-on-read version ladder, cached per sfDir:
    *
    *   - v0 WRITE: flat events range-partitioned by user_id into
    *     bounded-size files (≥8; file count scales with the corpus),
    *     committed with per-file user_id colstats;
    *   - v1 DELETE (merge-on-read): rows of users [3, 6] with
    *     event_id % 7 == 0 die by DELETION VECTOR — no data file is
    *     touched (the builder asserts zero adds/removes and that only
    *     stats-intersecting files grew a sidecar);
    *   - v2 MERGE (merge-on-read upsert): events of users [4, 60]
    *     with event_id % 5 == 0 get value += 1000 — old rows die by
    *     DV (union-merged per file), post-image rows land as
    *     bounded-size appended files, all in a single atomic commit;
    *   - v3 OPTIMIZE (DV compaction): every file whose vector crossed
    *     the threshold is rewritten WITHOUT its dead rows and the
    *     vectors drop — the rewrite that bounds the read path's
    *     anti-join tax (the builder asserts the live state carries no
    *     vectors after it).
    *
    * Each rung stays time-travelable: v1 still reads with only the
    * delete applied, v0 with nothing. */
  def morRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_mor", dir) { root =>
      // v0: stats-bearing base in BOUNDED-SIZE files (r17 fixture
      // honesty — the r16 verdict flagged the fixed 8-file layout:
      // each file grew with the corpus, so the 100× feed rung
      // measured one ever-fatter touched file, not the operator;
      // capping rows-per-file makes file COUNT scale with data and
      // every rung delta-sized)
      val nRows = flatEvents(s, dir).count()
      val nFiles = math.max(8L, nRows / 131072L + 1L).toInt
      flatEvents(s, dir).repartitionByRange(nFiles, col("user_id"))
        .write.parquet(s"$root/data/v0")
      val colStats = s.read.parquet(s"$root/data/v0")
        .groupBy(input_file_name().as("f"))
        .agg(min("user_id").as("lo"), max("user_id").as("hi"))
        .collect()
        .map(r => s"data/v0/${r.getString(0).split('/').last}" ->
          Map("user_id" -> ManifestLog.FileStat(r.getLong(1), r.getLong(2))))
        .toMap
      ManifestLog.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
        Seq.empty, op = "write", colStats = colStats)

      // v1: MOR delete — sidecars only, data files untouched
      val dvs1 = ManifestLog.deleteWhereMor(s, root, 0, 1,
        col("user_id").between(DelLo, DelHi) && col("event_id") % 7 === 0)
      val bandFiles = ManifestLog.filesAsOf(root, 0).filter(f =>
        colStats(f)("user_id").min <= DelHi &&
          colStats(f)("user_id").max >= DelLo)
      require(dvs1.nonEmpty && dvs1.keySet.subsetOf(bandFiles.toSet),
        s"MOR delete must sidecar only stats-intersecting files: $dvs1")
      require(ManifestLog.filesAsOf(root, 1) ==
        ManifestLog.filesAsOf(root, 0),
        "a MOR delete must not add or remove data files")

      // v2: MOR merge — DV-delete the matched rows, append post-images
      val matched = col("user_id").between(MrgLo, MrgHi) &&
        col("event_id") % 5 === 0
      // post-images in bounded files too (was coalesce(1) — the one
      // file grew with the corpus and dominated the feed's 100× rung)
      val postFiles = math.max(1L, nRows / 5 / 131072L + 1L).toInt
      ManifestLog.readVersion(s, root, 1).filter(matched)
        .withColumn("value", col("value") + 1000.0)
        .repartitionByRange(postFiles, col("user_id"))
        .write.parquet(s"$root/data/v2")
      val r1 = ManifestLog.snapshot(root, 1)
      val candidates = r1.files.filter(f =>
        r1.colStats.getOrElse(f, Map.empty).get("user_id")
          .forall(st => st.max >= MrgLo && st.min <= MrgHi))
      val dvs2 =
        if (candidates.isEmpty) Map.empty[String, ManifestLog.DvRef]
        else ManifestLog.buildDvs(s, root, r1, 2, candidates,
          _.filter(matched))
      ManifestLog.commit(root, 2,
        adds = ManifestLog.partFiles(root, "data/v2"), removes = Seq.empty,
        op = "merge", dvs = dvs2)

      // v3: DV compaction — rewrite vectored files WITH fresh stats
      // (the single-pass rewrite restores the skipping the old files'
      // stats provided), vectors drop
      val rewritten = ManifestLog.compactDvs(s, root, 2, 3,
        statsCols = Seq("user_id"))
      require(rewritten.nonEmpty, "compaction must rewrite vectored files")
      require(ManifestLog.snapshot(root, 3).dvs.isEmpty,
        "compaction must drop every deletion vector from the live state")
      require(rewritten.forall(f => ManifestLog.snapshot(root, 3).colStats
          .get(f).exists(_.contains("user_id"))),
        "single-pass compaction must re-commit user_id stats")
    }

  private val deleteDv = GraftQuery(
    name = "lake_delete_dv",
    doc = "MERGE-ON-READ DELETE via deletion vectors (r16) - the row-" +
      "delete mechanism that rewrites NOTHING: the commit records one " +
      "sidecar of dead row indexes per touched file (Delta deletion " +
      "vectors / Iceberg position deletes) and the data files stay " +
      "byte-identical, where lake_merge_cow's copy-on-write DELETE " +
      "would rewrite every touched file whole. Candidates are stats-" +
      "pruned from the predicate's extractable range (only files whose " +
      "manifest user_id interval meets [3,6] are even scanned - the " +
      "builder asserts no other file grew a sidecar); the read path " +
      "anti-joins (_metadata.file_path, _metadata.row_index) against " +
      "the decoded vectors with the DV side BROADCAST - deleted-rows-" +
      "sized, never table-sized, so the join is zero-shuffle at any " +
      "table size (ManifestDvSpec pins the plan shape). At 100 TB " +
      "this is why deleting 0.01% of rows costs KBs of sidecar, not " +
      "TBs of rewrite. Oracle replays the delete over the raw corpus " +
      "- a vector that killed or spared the wrong row fails the hash; " +
      "time travel to v0 (pre-delete) stays exact (ManifestDvSpec).",
    oracle = Some(s"""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE NOT (user_id BETWEEN $DelLo AND $DelHi AND event_id % 7 = 0)
      GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = morRoot(s, dir)
      ManifestLog.readVersion(s, root, 1)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  private val mergeMor = GraftQuery(
    name = "lake_merge_mor",
    doc = "MERGE-ON-READ UPSERT (r16) - lake_merge_cow's trade " +
      "reversed: matched rows (users [4,60], event_id % 5 = 0) die " +
      "by deletion vector (union-merged into each file's existing " +
      "vector, so the v1 delete stays applied) and the post-image " +
      "rows (value += 1000) land as bounded-size appended files - a " +
      "single atomic commit carrying adds AND dvs, with every base " +
      "data file still byte-identical. Cost is O(matched rows + " +
      "appended files) versus copy-on-write's O(touched files " +
      "rewritten); the " +
      "price is the read-side anti-join, which is why write-heavy / " +
      "trickle-update tables choose MOR and scan-heavy tables choose " +
      "COW - this engine now offers both poles over the same log. " +
      "Oracle composes both versions' rules over the raw corpus " +
      "(delete band gone, merge band corrected) - double-killed or " +
      "double-applied rows fail the per-user hash.",
    oracle = Some(s"""
      WITH e AS (
        SELECT user_id, event_id,
               CASE WHEN user_id BETWEEN $MrgLo AND $MrgHi
                         AND event_id % 5 = 0
                    THEN value + 1000.0 ELSE value END AS value
        FROM events
        WHERE NOT (user_id BETWEEN $DelLo AND $DelHi AND event_id % 7 = 0))
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM e GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = morRoot(s, dir)
      ManifestLog.readVersion(s, root, 2)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  private val dvCompaction = GraftQuery(
    name = "lake_dv_compaction",
    doc = "DELETION-VECTOR COMPACTION (r16) - the maintenance op that " +
      "bounds merge-on-read's read tax: every file whose vector " +
      "crossed the dead-row threshold is rewritten WITHOUT its dead " +
      "rows (one MOR-filtered scan of exactly those files) and the " +
      "commit swaps old-for-new, dropping the vectors - the builder " +
      "asserts the live state carries none after it. This is the " +
      "rewrite real formats trigger once anti-join input stops being " +
      "'small' (Delta's DV size threshold); without it a trickle-" +
      "delete table pays an ever-growing join against an ever-" +
      "growing dead set. Content is invariant by construction - the " +
      "oracle is the SAME composed replay as lake_merge_mor, so a " +
      "compaction that dropped a live row or resurrected a dead one " +
      "fails the hash; v2 (pre-compaction, vectors still applied) " +
      "and v1/v0 stay exactly readable (ManifestDvSpec).",
    oracle = Some(s"""
      WITH e AS (
        SELECT user_id, event_id,
               CASE WHEN user_id BETWEEN $MrgLo AND $MrgHi
                         AND event_id % 5 = 0
                    THEN value + 1000.0 ELSE value END AS value
        FROM events
        WHERE NOT (user_id BETWEEN $DelLo AND $DelHi AND event_id % 7 = 0))
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM e GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = morRoot(s, dir)
      ManifestLog.readVersion(s, root, 3)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  private val cdcMor = GraftQuery(
    name = "lake_cdc_rowimages_mor",
    doc = "Row-level change feed over MERGE-ON-READ commits (r16) - " +
      "lake_cdc_rowimages extended to the DV world, where the " +
      "file-action-only reconstruction is WRONG twice over: a DV-only " +
      "commit touches no files (the feed would emit nothing for a " +
      "delete), and a later compaction's removed files still CONTAIN " +
      "the dead rows (the feed would re-emit every earlier delete). " +
      "The feed therefore threads the VECTOR STATE through the " +
      "version walk: pre-images = retired files MINUS their already-" +
      "dead rows, PLUS the rows each commit's new vectors killed " +
      "(new-minus-old sidecar delta, decoded distributed, broadcast " +
      "semi join - delta-sized, never table-sized); post-images = " +
      "added files minus same-commit vectors. Result: the v1 MOR " +
      "delete emits exactly its delete images, the v2 MOR merge " +
      "emits update_preimage/update_postimage pairs (the DV kill and " +
      "the appended post-row meet on the key), and the v3 compaction " +
      "emits NOTHING - a pure layout change (ManifestDvFeedSpec pins " +
      "all three plus the baseline-resolvability contract). Oracle " +
      "rebuilds every image class from the raw corpus.",
    oracle = Some(s"""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        value FROM events),
      del AS (SELECT user_id, event_id, ts_us, value,
                     'delete' AS change_type, 1 AS v
              FROM e
              WHERE user_id BETWEEN $DelLo AND $DelHi AND event_id % 7 = 0),
      m AS (SELECT * FROM e
            WHERE user_id BETWEEN $MrgLo AND $MrgHi AND event_id % 5 = 0
              AND NOT (user_id BETWEEN $DelLo AND $DelHi
                       AND event_id % 7 = 0)),
      up AS (SELECT user_id, event_id, ts_us, value,
                    'update_preimage' AS change_type, 2 AS v FROM m
             UNION ALL
             SELECT user_id, event_id, ts_us, value + 1000.0,
                    'update_postimage', 2 FROM m)
      SELECT event_id, user_id, ts_us, CAST(value AS DOUBLE) AS value,
             change_type, CAST(v AS BIGINT) AS commit_version
      FROM (SELECT * FROM del UNION ALL SELECT * FROM up)
      ORDER BY commit_version, event_id, change_type"""),
    run = (s, dir) => {
      val root = morRoot(s, dir)
      ManifestLog.readChangeImages(s, root, 0, 3, keys = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("value"), col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"))
        .orderBy("commit_version", "event_id", "change_type")
    })

  /** A mirror of [[morRoot]] maintained through the change-image feed
    * in two incremental syncs (0..1, then the tail), with the replay
    * no-op proven: a third sync against an already-mirrored cursor
    * must not advance the mirror's log. Cached per sfDir. */
  def replicaRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_replica", dir) { dst =>
      val src = morRoot(s, dir)
      ManifestLog.replicateTo(s, src, dst, keys = Seq("event_id"),
        upTo = Some(1L))
      val afterFirst = ManifestLog.latestVersion(dst).get
      ManifestLog.replicateTo(s, src, dst, keys = Seq("event_id"))
      val afterSecond = ManifestLog.latestVersion(dst).get
      require(afterSecond == afterFirst + 1,
        "the second sync must fold the tail into one mirror commit")
      // exactly-once: a replayed sync (stale cursor OR current) no-ops
      ManifestLog.replicateTo(s, src, dst, keys = Seq("event_id"),
        upTo = Some(1L))
      ManifestLog.replicateTo(s, src, dst, keys = Seq("event_id"))
      require(ManifestLog.latestVersion(dst).contains(afterSecond),
        "replayed syncs must not advance the mirror")
    }

  /** A replica maintained ACROSS a schema evolution, cached per
    * sfDir: the source starts two-columned (v0, synced), declares
    * the widened schema and appends a gen-2 key space (v1, synced —
    * the MIRROR now mixes file generations and the builder asserts
    * its reads surface NULL sum_value for gen-1 rows, which is the
    * declared-schema propagation working), then rewrites the WHOLE
    * gen-1 set under the new schema (v2, synced — the sync rewrites
    * the mirror's old-generation files without dropping the new
    * column). Returns (srcRoot, dstRoot). */
  def evoReplicaRoots(s: SparkSession, dir: String): (String, String) = {
    val src = graft.TempDirs.cachedDir("graft_evorep_src", dir) { root =>
      graft.sources.SinglePassWriter.writeCommit(
        flatEvents(s, dir).filter(col("event_id") % 4 <= 1)
          .groupBy("user_id").agg(count(lit(1)).as("n_events"))
          .repartitionByRange(3, col("user_id")),
        root, "data/v0", 0, statsCols = Seq("user_id"))
      ManifestLog.commit(root, 1, Seq.empty, Seq.empty, op = "alter",
        schemaDdl = Some("user_id BIGINT, n_events BIGINT"))
    }
    val dst = graft.TempDirs.cachedDir("graft_evorep_dst", dir) { root =>
      ManifestLog.replicateTo(s, src, root, keys = Seq("user_id"))
      // v2 on the source: evolve + append the gen-2 key space
      graft.sources.SinglePassWriter.writeFiles(
        flatEvents(s, dir).filter(col("event_id") % 4 >= 2)
          .groupBy("user_id").agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_value"))
          .withColumn("user_id", col("user_id") + 100000L)
          .repartitionByRange(2, col("user_id")),
        src, "data/v2", statsCols = Seq("user_id")) match {
        case summaries =>
          ManifestLog.commit(src, 2, adds = summaries.map(_.rel),
            removes = Seq.empty, op = "evolve",
            colStats = graft.sources.SinglePassWriter.colStatsOf(
              summaries, Seq("user_id")),
            schemaDdl = Some(
              "user_id BIGINT, n_events BIGINT, sum_value DOUBLE"))
      }
      ManifestLog.replicateTo(s, src, root, keys = Seq("user_id"))
      // the mirror now mixes generations and must read with NULL
      // sum_value for gen-1 rows — the propagated declared schema
      val mid = ManifestLog.readVersion(s, root,
        ManifestLog.latestVersion(root).get)
      require(mid.filter(col("sum_value").isNull).count() > 0 &&
        mid.filter(col("sum_value").isNotNull).count() > 0,
        "the mid-evolution mirror must mix generations")
      // v3 on the source: rewrite the WHOLE gen-1 set under the new
      // schema (the old mirror files must rewrite without dropping
      // sum_value from the gen-2 rows they union with)
      val gen1 = ManifestLog.filesAsOf(src, 0)
      graft.sources.SinglePassWriter.writeFiles(
        flatEvents(s, dir).filter(col("event_id") % 4 <= 1)
          .groupBy("user_id").agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_value"))
          .repartitionByRange(3, col("user_id")),
        src, "data/v3", statsCols = Seq("user_id")) match {
        case summaries =>
          ManifestLog.commit(src, 3, adds = summaries.map(_.rel),
            removes = gen1, op = "rewrite",
            colStats = graft.sources.SinglePassWriter.colStatsOf(
              summaries, Seq("user_id")), attest = true)
      }
      ManifestLog.replicateTo(s, src, root, keys = Seq("user_id"))
    }
    (src, dst)
  }

  private val cdcReplicaEvolved = GraftQuery(
    name = "lake_cdc_replica_evolved",
    doc = "CDC REPLICATION ACROSS A SCHEMA EVOLUTION (r17) - the " +
      "seam this round found and closed: a change-image range that " +
      "spans an additive evolution mixes file GENERATIONS, and " +
      "before the fix the feed's per-version frames either crashed " +
      "the union (UNRESOLVED_COLUMN) or - worse - the mirror's " +
      "rewrite planned under a footer-inferred old-generation schema " +
      "and SILENTLY DROPPED the new column's values from rows it " +
      "carried. Now every feed frame plans under the TO-snapshot's " +
      "declared schema (gen-1 rows surface NULL for new columns, " +
      "exactly as snapshot reads do), the mirror's touched files " +
      "plan under the feed's image schema, and each sync PROPAGATES " +
      "the source's declared schema into the mirror's log - the " +
      "mirror is a real table whose own snapshot reads resolve " +
      "mixed generations (the builder asserts the mid-evolution " +
      "mirror reads gen-1 rows as NULL sum_value next to gen-2 " +
      "values). The ladder ends with the whole gen-1 set rewritten " +
      "under the new schema through the key-pruned sync. " +
      "ManifestChangeImagesSpec pins the boundary feed AND the " +
      "silent-drop scenario. Oracle replays both generations' final " +
      "state from the raw corpus - one dropped sum_value or " +
      "mis-shaped row fails the per-user hash.",
    oracle = Some("""
      SELECT user_id, n_events, sum_value FROM (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_value
        FROM events WHERE event_id % 4 <= 1 GROUP BY user_id
        UNION ALL
        SELECT user_id + 100000, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        FROM events WHERE event_id % 4 >= 2 GROUP BY user_id
      ) ORDER BY user_id"""),
    run = (s, dir) => {
      val (_, dst) = evoReplicaRoots(s, dir)
      ManifestLog.readVersion(s, dst,
        ManifestLog.latestVersion(dst).get)
        .select("user_id", "n_events", "sum_value")
        .orderBy("user_id")
    })

  private val cdcReplica = GraftQuery(
    name = "lake_cdc_replica",
    doc = "CDC REPLICATION (r16) - the canonical consumer of the " +
      "change-image feed: a MIRROR table maintained from " +
      "readChangeImages alone, never from source snapshots. Each sync " +
      "resumes from the txn marker in the MIRROR's own log (exactly-" +
      "once survives total consumer-state loss, like the streaming " +
      "sink), keeps each key's latest non-pre image across the range, " +
      "and folds changed-keys-out / post-images-in as one atomic " +
      "marker-carrying commit. Correct across every source mutation " +
      "class because the feed already normalized them: the builder " +
      "syncs the MOR ladder's initial write + vector delete in one " +
      "round, then the MOR merge + compaction in a second (the " +
      "compaction contributes zero images), then proves replayed " +
      "syncs no-op. Oracle = the same composed raw-corpus replay as " +
      "lake_merge_mor: the mirror must equal the source's latest " +
      "snapshot exactly - a lost delete, doubled upsert, or " +
      "mis-ordered image fails the per-user hash.",
    oracle = Some(s"""
      WITH e AS (
        SELECT user_id, event_id,
               CASE WHEN user_id BETWEEN $MrgLo AND $MrgHi
                         AND event_id % 5 = 0
                    THEN value + 1000.0 ELSE value END AS value
        FROM events
        WHERE NOT (user_id BETWEEN $DelLo AND $DelHi AND event_id % 7 = 0))
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM e GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val dst = replicaRoot(s, dir)
      ManifestLog.readVersion(s, dst,
          ManifestLog.latestVersion(dst).get)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  private val streamCdcReplica = GraftQuery(
    name = "stream_cdc_replica",
    doc = "CONTINUOUS REPLICATION through Structured Streaming (r17) " +
      "- lake_cdc_replica's sync loop driven by the version-cursor " +
      "stream: each micro-batch calls replicateTo up to its admitted " +
      "version, so the mirror follows the source one KEY-PRUNED, " +
      "marker-committed sync per trigger (the MOR ladder's 4 " +
      "versions = 4 real micro-batches: bootstrap, the DV delete's " +
      "images, the merge's, and the compaction's zero images as a " +
      "pure marker advance). Exactly-once needs NOTHING from the " +
      "streaming checkpoint - the cursor is the MIRROR log's txn " +
      "marker, so a replayed batch or a whole re-drain against a " +
      "FRESH checkpoint (total checkpoint loss) no-ops sync by sync " +
      "- the BUILDER proves exactly that on every build (drain, then " +
      "a second full drain with a fresh checkpoint that must leave " +
      "the mirror version unchanged; ManifestCdcSourceSpec pins the " +
      "same plus row-level equality). Oracle: the mirror's final " +
      "state must " +
      "equal the source's composed raw-corpus replay - a doubled " +
      "sync, lost delete, or mis-ordered image fails the per-user " +
      "hash. At 100 TB this is a follower table maintained for the " +
      "cost of each trigger's delta, never a snapshot copy.",
    oracle = Some(s"""
      WITH e AS (
        SELECT user_id, event_id,
               CASE WHEN user_id BETWEEN $MrgLo AND $MrgHi
                         AND event_id % 5 = 0
                    THEN value + 1000.0 ELSE value END AS value
        FROM events
        WHERE NOT (user_id BETWEEN $DelLo AND $DelHi AND event_id % 7 = 0))
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM e GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val dst = streamReplicaRoot(s, dir)
      ManifestLog.readVersion(s, dst,
          ManifestLog.latestVersion(dst).get)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  /** The streaming-maintained mirror, drained once per JVM (the same
    * cached-builder convention as [[replicaRoot]] — the ladder's
    * bootstrap sync writes the whole corpus, a one-time cost a
    * production follower pays once per table): 4 versions as 4 real
    * micro-batch syncs, then a SECOND full drain against a FRESH
    * checkpoint that must no-op sync by sync on the mirror's txn
    * markers — the total-checkpoint-loss replay, proven on every
    * build. */
  def streamReplicaRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_stream_replica", dir) { dst =>
      val src = morRoot(s, dir)
      val progress = graft.streaming.ManifestSink
        .streamingReplicaDrained(s, src, dst, keys = Seq("event_id"))
      require(progress.count(_.numInputRows > 0) == 4,
        s"the 4-version ladder must stream as 4 real syncs: " +
          s"${progress.map(_.numInputRows).toList}")
      val v = ManifestLog.latestVersion(dst).get
      graft.streaming.ManifestSink
        .streamingReplicaDrained(s, src, dst, keys = Seq("event_id"))
      require(ManifestLog.latestVersion(dst).contains(v),
        "a re-drain against a fresh checkpoint must no-op every sync")
    }

  /** The RESTORE ladder, cached per sfDir: v0 single-pass base (full
    * events, bounded files, user_id stats), v1 MOR delete (DV
    * sidecars), v2 bad-batch append — then `restoreTo(0)` commits v3,
    * whose live state must equal v0 exactly: the appended files drop,
    * the vectors clear via remove+re-add, and every re-add carries
    * its v0 stats back. The builder asserts all of that plus the two
    * properties that make restore a production operator: it is
    * METADATA-ONLY (zero new data files on disk) and HISTORY-
    * PRESERVING (v1 still time-travels to the deleted state, v2 to
    * the polluted one). */
  def restoreRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_restore", dir) { root =>
      val base = flatEvents(s, dir)
      val nFiles = math.max(4L, base.count() / 131072L + 1L).toInt
      graft.sources.SinglePassWriter.writeCommit(
        base.repartitionByRange(nFiles, col("user_id")),
        root, "data/v0", 0, statsCols = Seq("user_id"))
      // v1: rows die by deletion vector (no data file moves)
      val dvs = ManifestLog.deleteWhereMor(s, root, 0, 1,
        col("event_id") % 9 === 4)
      require(dvs.nonEmpty, "the v1 delete must vector rows")
      // v2: a bad batch lands (the mistake restore exists to undo)
      base.filter(col("user_id") <= 3)
        .withColumn("user_id", col("user_id") + 100000L)
        .coalesce(1).write.parquet(s"$root/data/v2")
      ManifestLog.commit(root, 2,
        ManifestLog.partFiles(root, "data/v2"), Seq.empty, op = "write")
      val filesOnDisk =
        ManifestLog.partFilesRecursive(root, "data").size
      val v = ManifestLog.restoreTo(root, 0)
      require(v == 3, s"restore must commit at version 3, got $v")
      // live state == v0 exactly: same files, same stats, no vectors
      require(ManifestLog.filesAsOf(root, 3).toSet ==
        ManifestLog.filesAsOf(root, 0).toSet,
        "restored live set must equal the target's")
      require(ManifestLog.snapshot(root, 3).colStats ==
        ManifestLog.snapshot(root, 0).colStats,
        "restored stats must equal the target's")
      require(ManifestLog.snapshot(root, 3).dvs.isEmpty,
        "restore must clear the since-added deletion vectors")
      // metadata-only: not one data file was written or deleted
      require(ManifestLog.partFilesRecursive(root, "data").size ==
        filesOnDisk, "restore must move zero data files")
      // history-preserving: the intermediate states still time-travel
      require(ManifestLog.snapshot(root, 1).dvs.nonEmpty,
        "v1 must still read with its vectors applied")
    }

  private val restore = GraftQuery(
    name = "lake_restore",
    doc = "RESTORE TO VERSION (r17) - the rollback operator of a real " +
      "table format (Delta's RESTORE TABLE ... VERSION AS OF): after " +
      "a bad delete (v1, deletion vectors) and a bad batch (v2, " +
      "appended files), restoreTo(0) rolls the table's DATA STATE " +
      "back to v0 with ONE new commit - history is never rewritten, " +
      "every intermediate version stays time-travelable, and the " +
      "rollback is METADATA-SIZED at any table size because data " +
      "files never move: since-appended files drop by reference, " +
      "since-removed files re-add WITH their target-time stats / " +
      "bounds / bloom refs (the restored table prunes exactly as the " +
      "original did), since-added vectors clear by remove+re-add in " +
      "the same commit, and a file whose vector merely GREW gets the " +
      "target vector re-asserted (DV replay is last-wins). The " +
      "builder asserts zero data files moved, the restored live set " +
      "and stats equal v0's bit-for-bit, and v1/v2 still time-" +
      "travel; ManifestRestoreSpec pins DV re-assertion, the loud " +
      "vacuumed-bytes refusal, the commit-race re-derivation, and " +
      "scope (current CHECK constraints stay in force over re-adds). " +
      "At 100 TB an operator error undone by rewriting the table " +
      "costs a full-corpus job; this costs one manifest. Oracle: the " +
      "restored table IS the raw corpus again - any leaked bad-batch " +
      "row, still-dead vectored row, or dropped re-add fails the " +
      "per-user hash.",
    oracle = Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_value
      FROM events GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = restoreRoot(s, dir)
      ManifestLog.readVersion(s, root,
        ManifestLog.latestVersion(root).get)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  /** The CLONE-BOOTSTRAPPED streaming mirror, cached per sfDir: the
    * first sync is forced batch-side so the builder can PROVE the
    * bootstrap shape (zero data files under the mirror; every live
    * entry an absolute reference with carried stats), then the
    * version-cursor stream drains the tail — the first incremental
    * sync self-heals the event_id-keyed layout (cloned refs carry
    * the source's user_id stats, not the replica key's → must-
    * rewrite once into key-clustered, stats-bearing local files),
    * and later syncs prune on those. */
  def streamCloneReplicaRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_stream_replica_clone", dir) { dst =>
      val src = morRoot(s, dir)
      // sync 1, batch-side: the clone bootstrap — provably metadata
      ManifestLog.replicateTo(s, src, dst, keys = Seq("event_id"),
        upTo = Some(0L), bootstrap = "clone")
      require(ManifestLog.partFilesRecursive(dst, "").isEmpty,
        "the clone bootstrap must write zero data files")
      require(ManifestLog.filesAsOf(dst, 0).forall(_.startsWith("/")),
        "the bootstrap mirror must be all absolute references")
      // the stream drains all 4 cursor rows; v0's batch replays as a
      // pure marker no-op against the bootstrap's txn marker, the
      // other 3 are the real tail syncs (delete, merge, compact)
      val progress = graft.streaming.ManifestSink
        .streamingReplicaDrained(s, src, dst, keys = Seq("event_id"),
          bootstrap = "clone")
      require(progress.count(_.numInputRows > 0) == 4,
        s"the 4-version ladder must stream as 4 cursor batches: " +
          s"${progress.map(_.numInputRows).toList}")
      // total-checkpoint-loss replay: a fresh-checkpoint re-drain
      // must no-op on the mirror's txn markers
      val v = ManifestLog.latestVersion(dst).get
      graft.streaming.ManifestSink
        .streamingReplicaDrained(s, src, dst, keys = Seq("event_id"),
          bootstrap = "clone")
      require(ManifestLog.latestVersion(dst).contains(v),
        "a re-drain against a fresh checkpoint must no-op every sync")
    }

  private val streamCdcReplicaClone = GraftQuery(
    name = "stream_cdc_replica_clone",
    doc = "CLONE-BOOTSTRAPPED CONTINUOUS REPLICATION (r17) - " +
      "stream_cdc_replica's follower with the production bootstrap: " +
      "the first sync of the empty mirror is a SHALLOW CLONE of the " +
      "source snapshot plus the txn marker - one metadata-sized " +
      "commit, ZERO data IO (the builder proves it: no data files, " +
      "every live entry an absolute reference) - where the feed " +
      "bootstrap single-pass-wrote the whole corpus through the " +
      "mirror writer (the ~26 s-at-100x one-time cost the r17 rungs " +
      "recorded; Delta documents the same CLONE-then-CDF pattern). " +
      "Tail syncs stream through the version cursor and LOCALIZE " +
      "lazily: the first incremental sync self-heals the replica-" +
      "key layout (cloned refs carry the source's clustering stats, " +
      "not event_id's -> must-rewrite once, exactly the documented " +
      "stats-less-mirror contract), later syncs key-prune on the " +
      "re-committed stats. Exactly-once still needs nothing from " +
      "the streaming checkpoint (the cursor is the mirror log's txn " +
      "marker; the builder proves the fresh-checkpoint re-drain " +
      "no-ops). Same composed raw-corpus oracle as the feed-" +
      "bootstrapped sibling - the bootstrap mechanism must be " +
      "invisible in the rows.",
    oracle = Some(s"""
      WITH e AS (
        SELECT user_id, event_id,
               CASE WHEN user_id BETWEEN $MrgLo AND $MrgHi
                         AND event_id % 5 = 0
                    THEN value + 1000.0 ELSE value END AS value
        FROM events
        WHERE NOT (user_id BETWEEN $DelLo AND $DelHi AND event_id % 7 = 0))
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM e GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val dst = streamCloneReplicaRoot(s, dir)
      ManifestLog.readVersion(s, dst,
          ManifestLog.latestVersion(dst).get)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  val all: Seq[GraftQuery] =
    Seq(deleteDv, mergeMor, dvCompaction, cdcMor, cdcReplica,
      cdcReplicaEvolved, streamCdcReplica, streamCdcReplicaClone,
      restore)
}
