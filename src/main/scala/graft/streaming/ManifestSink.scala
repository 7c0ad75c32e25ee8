package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.ManifestLog

/** EXACTLY-ONCE streaming ingest through the manifest log — the seam
  * where Structured Streaming meets the table format (Delta's
  * `txn`/setTransaction action, Iceberg's commit-per-checkpoint): each
  * micro-batch lands its files and commits ONE manifest carrying a
  * `(appId, batchId)` txn marker, and a batch REPLAY (Spark re-executes
  * a micro-batch whenever the sink ran but the streaming checkpoint
  * commit was lost) consults the LOG's latest txn for its appId and
  * becomes a no-op instead of double-ingesting.
  *
  * The idempotence decision lives in the TABLE, not the writer: it
  * survives even total loss of the streaming checkpoint — the failure
  * mode `foreachBatchUpsertRun`'s batchId-keyed version dirs cannot
  * cover (a fresh checkpoint restarts batchIds at 0 and would re-merge
  * everything). [[ingestRoot]] proves exactly that, end to end: after
  * the drain it re-runs the WHOLE stream with a brand-new checkpoint —
  * every batch re-delivers, every commit no-ops via its txn marker —
  * and the registered query's oracle (each event counted exactly once)
  * fails on any double-ingest the protocol let through.
  *
  * At 100 TB this is the production shape of a streaming lakehouse
  * writer: per-batch data files are partitioned writes (nothing ever
  * rewrites), the manifest is one small JSON per batch, replay of the
  * txn tail is metadata-sized, and CheckpointPolicy keeps it flat as
  * the stream ages. The txn check-then-publish window is protected by
  * the log itself: a concurrent duplicate commits through
  * [[ManifestLog.commitIn]]'s atomic publish, so one wins the version
  * and the loser rebases — re-checks the txn — and skips
  * (ManifestSinkSpec pins marker replay across a checkpoint fold). */
object ManifestSink {

  /** Writer identity recorded in txn markers (one logical stream). */
  val AppId = "graft_events_ingest"

  private val landingSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("value", DoubleType)))

  /** One micro-batch's commit: land the batch's rows under
    * `data/b{batchId}`, then publish the next version with the txn
    * marker — unless the log already carries a marker at or past this
    * batchId (a replay), in which case do NOTHING. Each attempt reads
    * the marker and the next version from ONE snapshot of the log.
    *
    * NEVER-REUSE-PATHS (r15 advice): an earlier shape landed with
    * mode("overwrite") into the deterministic `data/b{batchId}` — a
    * zombie second driver replaying the same batch past the early txn
    * check would re-overwrite that directory, deleting part files a
    * concurrent winner had just committed into the manifest. The
    * log's atomic publish protects only the MANIFEST race, not a data
    * overwrite, so every data file name is unique per attempt: the
    * writer's per-call token ([[graft.sources.SinglePassWriter]]), the
    * rule every real format follows — data files are immutable,
    * losers become orphans. A crash between landing and commit — or a
    * lost txn race — leaves orphan files invisible to every log
    * reader; [[ManifestLog.vacuum]] reclaims them (exclude the landing
    * dir: see [[vacuumIngest]]). */
  private[graft] def commitBatch(root: String, batch: DataFrame,
      batchId: Long): Unit = {
    def replayed(s: Option[ManifestLog.Replay]): Boolean =
      s.exists(_.txns.get(AppId).exists(_ >= batchId))
    if (replayed(ManifestLog.latestSnapshot(root))) return
    val sub = s"data/b$batchId"
    // SINGLE-PASS landing (r16): the batch's files, their per-file
    // [min, max] user_id/ts_us stats, and their event_id bloom
    // sidecars all come out of the one write pass — the streaming
    // table is servable by every manifest index class (range prune,
    // bloom point prune, DFP) the moment each micro-batch commits,
    // with zero read-back IO added to the hot ingest path
    val summaries = graft.sources.SinglePassWriter.writeFiles(
      batch, root, sub, statsCols = Seq("user_id", "ts_us"),
      bloomCol = Some("event_id"))
    val adds = graft.sources.SinglePassWriter.addFiles(summaries,
      Seq("user_id", "ts_us"), bloomCol = Some("event_id"))
    var committed = false
    while (!committed) {
      val snap = ManifestLog.latestSnapshot(root)
      if (replayed(snap)) {
        committed = true // a concurrent duplicate won the race: done
      } else {
        val v = snap.map(_.version + 1).getOrElse(0L)
        try {
          ManifestLog.commit(root, v, ManifestLog.Commit("stream-append",
            adds, txn = Some((AppId, batchId))),
            policy = Some(ManifestLog.CheckpointPolicy(every = 2)))
          committed = true
        } catch {
          case ManifestLog.Conflict(_) => () // rebase: re-check txn
        }
      }
    }
  }

  /** The one non-table directory an ingest root co-locates with the
    * table: the stream's SOURCE landing files. A sweep must never
    * enter it — vacuuming the input breaks any later resume. */
  val NonTableDirs: Seq[String] = Seq("landing")

  /** GC an ingest root safely: sweep crashed-attempt orphans (the
    * files [[commitBatch]] abandons on a lost txn race) without
    * touching the landing dir the stream reads from. */
  def vacuumIngest(root: String): Seq[String] =
    ManifestLog.vacuum(root, exclude = NonTableDirs)

  /** Build (once per sfDir) the manifest-committed events table: 4
    * event-cohort landing files with pinned ascending mtimes (so
    * `maxFilesPerTrigger=1` yields the same 4 micro-batches in the
    * same order on every run), drained through [[commitBatch]], THEN
    * the full stream re-run against a fresh checkpoint — the
    * total-checkpoint-loss replay every batch must survive. Returns
    * the table root. */
  def ingestRoot(spark: SparkSession, sfDir: String): String =
    graft.TempDirs.cachedDir("graft_manifest_sink", sfDir) { root =>
      val ds = EventStream.drainSession(spark)
      val flat = graft.sources.Readers.table(spark, sfDir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      val landing = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(root, "landing")).toString
      (0 until 4).foreach { i =>
        val tmp = s"$root/slice$i"
        flat.filter(pmod(col("event_id"), lit(4)) === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = java.nio.file.Paths.get(s"$landing/part-$i.parquet")
        java.nio.file.Files.move(part.toPath, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
      }
      def drain(): Unit = {
        val q = ds.readStream.schema(landingSchema)
          .option("maxFilesPerTrigger", 1).parquet(landing)
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            commitBatch(root, batch, batchId)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain() // first run: 4 real commits
      drain() // fresh checkpoint = every batch re-delivered: 4 no-ops
      val versions = ManifestLog.versions(root) ++
        ManifestLog.checkpointVersions(root)
      require(versions.max == 3,
        s"replayed ingest must not advance the log past v3: $versions")
    }

  /** The ingested table read through the log at its latest version —
    * raw events, each exactly once. */
  def ingested(spark: SparkSession, sfDir: String): DataFrame = {
    val root = ingestRoot(spark, sfDir)
    ManifestLog.readVersion(spark, root,
      ManifestLog.latestVersion(root).get)
  }

  private val cdcDrainId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drained streaming read of a manifest table THROUGH the DSv2
    * version-tail source ([[graft.sources.cdc.ManifestCdcProvider]]):
    * `maxVersionsPerTrigger` versions admitted per micro-batch,
    * Trigger.AvailableNow pinned to the log's version set at start.
    * FILE sink, not memory: the feed is data-sized (it IS the table's
    * rows), and an append-mode memory sink would hold all of it on
    * the driver — measured OOM at the 100× rung. Returns the read-back
    * rows (data columns + `_commit_version`) and the run's progress
    * (one entry per real micro-batch — the spec pins batch count and
    * per-batch rows). */
  def cdcDrained(spark: SparkSession, root: String,
      startingVersion: Long = -1L, maxVersionsPerTrigger: Long = 1L,
      workDir: Option[String] = None)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val ds = EventStream.drainSession(spark)
    val df = ds.readStream
      .format(classOf[graft.sources.cdc.ManifestCdcProvider].getName)
      .option("path", root)
      .option("startingVersion", startingVersion.toString)
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
      .load()
    // an explicit workDir pins checkpoint + sink across calls — the
    // RESTART shape (run, stop, more commits, resume from the same
    // checkpoint); default is a fresh drain
    val out = workDir.getOrElse(graft.TempDirs.deleteOnExit(
      java.nio.file.Files.createTempDirectory(
        s"graft_cdc_out_${cdcDrainId.incrementAndGet()}")).toString)
    val q = df.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("parquet").option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (ds.read.parquet(s"$out/data"), q.recentProgress.toSeq)
  }

  private val imagesDrainId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** STREAMING CHANGE IMAGES (r17; the r16 verdict's task 3):
    * `_change_type`-stamped row images served through Structured
    * Streaming for COW **and** MOR tables. The DSv2 source's
    * `mode=versions` cursor feed paces the stream — offsets are
    * versions, admission control caps each micro-batch's version
    * span, AvailableNow pins the drain — and a foreachBatch bridge
    * plans [[ManifestLog.readChangeImages]] over each batch's exact
    * version range: the pre/post full-outer join and the DV-delta
    * decode cannot be expressed as independent DSv2 input partitions
    * (they join two file sets), which is precisely the case the
    * foreachBatch escape hatch exists for. Per-batch output lands in
    * a deterministic batchId-keyed dir with overwrite, so a replayed
    * batch is idempotent. The append-only ROW feed's loud MOR/rewrite
    * rejection is untouched — this is the feed those errors point
    * consumers at. Returns the drained images and the run's real
    * micro-batch progress. */
  def cdcImagesDrained(spark: SparkSession, root: String,
      keys: Seq[String], startingVersion: Long = -1L,
      maxVersionsPerTrigger: Long = 1L,
      workDir: Option[String] = None)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val ds = EventStream.drainSession(spark)
    val cursor = ds.readStream
      .format(classOf[graft.sources.cdc.ManifestCdcProvider].getName)
      .option("path", root)
      .option("mode", "versions")
      .option("startingVersion", startingVersion.toString)
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
      .load()
    // an explicit workDir pins checkpoint + landed image dirs across
    // calls — the RESTART shape: drain, stop, more source commits,
    // resume from the same checkpoint admitting only the new versions
    val out = workDir.getOrElse(graft.TempDirs.deleteOnExit(
      java.nio.file.Files.createTempDirectory(
        s"graft_cdc_img_${imagesDrainId.incrementAndGet()}")).toString)
    val q = cursor.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val vs = batch.select("version").collect().map(_.getLong(0))
        if (vs.nonEmpty) {
          ManifestLog.readChangeImages(batch.sparkSession, root,
            vs.min - 1, vs.max, keys)
            .write.mode("overwrite").parquet(s"$out/data/b$batchId")
        }
        ()
      }
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    require(new java.io.File(s"$out/data").isDirectory,
      s"image drain admitted no versions from $root")
    (ds.read.parquet(s"$out/data/*"), q.recentProgress.toSeq)
  }

  /** CONTINUOUS REPLICATION (r17): the version-cursor stream driving
    * [[ManifestLog.replicateTo]] once per micro-batch — a mirror
    * table maintained by Structured Streaming, each sync key-pruned
    * and atomically marker-committed. Exactly-once needs NOTHING from
    * the streaming checkpoint: the sync cursor lives in the MIRROR's
    * own log (the txn marker), so a replayed batch — or a whole drain
    * re-run against a FRESH checkpoint after total checkpoint loss —
    * no-ops sync by sync instead of double-applying
    * (ManifestCdcSourceSpec pins exactly that). Returns the run's
    * real micro-batch progress. */
  def streamingReplicaDrained(spark: SparkSession, srcRoot: String,
      dstRoot: String, keys: Seq[String],
      maxVersionsPerTrigger: Long = 1L,
      workDir: Option[String] = None,
      bootstrap: String = "feed")
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val ds = EventStream.drainSession(spark)
    val cursor = ds.readStream
      .format(classOf[graft.sources.cdc.ManifestCdcProvider].getName)
      .option("path", srcRoot)
      .option("mode", "versions")
      .option("startingVersion", "-1")
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
      .load()
    val out = workDir.getOrElse(graft.TempDirs.deleteOnExit(
      java.nio.file.Files.createTempDirectory(
        s"graft_cdc_repl_${imagesDrainId.incrementAndGet()}")).toString)
    val q = cursor.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val vs = batch.select("version").collect().map(_.getLong(0))
        if (vs.nonEmpty) {
          ManifestLog.replicateTo(batch.sparkSession, srcRoot, dstRoot,
            keys, upTo = Some(vs.max), bootstrap = bootstrap)
        }
        ()
      }
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.recentProgress.toSeq
  }
}
