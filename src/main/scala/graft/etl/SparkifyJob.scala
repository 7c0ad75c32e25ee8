package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.ops.DriverPool
import graft.sources.Readers

/** The reference's whole `main()` (etl.py:316-334) as one composable job,
  * with the lineage fix the reference forgot (SURVEY.md §3.2): the
  * log-side prefix (read → `start_time` → one hash exchange on it →
  * dedup → NextSong filter) feeds `users`, `time` AND `songplays`;
  * without persist it is recomputed once per sink. We persist that
  * prefix, and only it, at MEMORY_AND_DISK. Every log-side key after it
  * is a function of `start_time`, so the `time` dedup and the
  * fact-to-time join run partition-locally over the cache: each consumer
  * of `time` re-derives it with a partition-local aggregate instead of
  * caching a second copy, and no exchange or broadcast of `time` runs.
  * The two hive sinks write that partitioning as it stands
  * ([[LogPipeline.writeTime]]).
  *
  * The reference ran once per cluster, so nothing it held outlived the
  * cluster; this job runs in long-lived sessions, so a writing run pins
  * the prefix only while the log sinks read it and releases it before
  * it returns, whether the sinks succeed or fail (the 100 TB posture:
  * no state that grows with the data outlives the call).
  */
object SparkifyJob {

  final case class Outputs(songs: DataFrame, artists: DataFrame,
      users: DataFrame, time: DataFrame, songplays: DataFrame)

  /** Build all five tables; `write` sinks them with the reference's
    * partitioning (songs by year/artist_id, time+songplays by year/month,
    * artists+users unpartitioned).
    *
    * With `outDir`, the persisted prefix is filled once, read by the
    * three log sinks and unpersisted (blocking) before `run` returns or
    * throws, so no block stays pinned; the returned frames then recompute
    * from the inputs if read again. Without `outDir` nothing runs: the
    * frames are lazy and read the persisted prefix, whose cache the
    * caller owns (`unpersist` it, or `graft.Caches.clearAll`).
    *
    * Known limit: Spark's CacheManager keeps one entry per plan, so two
    * concurrent writing runs over the same inputs in one session share
    * the prefix, and the first to finish releases it under the other.
    * The other run stays correct but recomputes its prefix. */
  def run(spark: SparkSession, songPath: String, logPath: String,
      outDir: Option[String] = None): Outputs = {
    val songData = Readers.songData(spark, songPath)
    val logData = Readers.logData(spark, logPath)

    // Project to the union of the three consumers' columns BEFORE the
    // persist (guide §2.3 "project before the exchange", r21): users
    // reads 5, time reads ts and start_time, songplays reads 10 — the
    // other 7 log fields (auth, itemInSession, length, method, page,
    // registration, status) were cached in every block for nothing. The
    // dedup stays full-width (row identity is all 18 reference columns);
    // only the materialized width shrinks.
    val cleanedLog = LogPipeline.nextSongEvents(logData)
      .select("userId", "firstName", "lastName", "gender", "level",
        "ts", "start_time", "song", "artist", "sessionId", "location",
        "userAgent")
      .persist(StorageLevel.MEMORY_AND_DISK)

    val songs = SongPipeline.songsTable(songData)
    val artists = SongPipeline.artistsTable(songData)
    val users = LogPipeline.usersFromCleaned(cleanedLog)
    val time = LogPipeline.timeFromCleaned(cleanedLog)
    val songplays = LogPipeline.songplaysFromCleaned(cleanedLog, songData,
      time)

    outDir.foreach { out =>
      // Materialize the shared cache BEFORE the sinks fan out:
      // concurrent first-touch of a persisted plan can compute the same
      // cached partition more than once (the block wins, the work is
      // wasted); one count on the prefix pays a single pass that fills
      // it. Then the five sinks are fully independent jobs. The
      // CATALOG-side sinks (songs, artists) read only songData —
      // independent of those caches — so they launch BEFORE the
      // cache-fill count and overlap it (guide §2.6, r21).
      // Independent sinks are submitted concurrently through
      // DriverPool — the 100 TB posture: a sequential loop of actions
      // leaves the cluster idle in every small sink's tail (commit,
      // file moves, last skewed task), while concurrent jobs let the
      // scheduler backfill those slots with the next sink's tasks.
      // Output paths are disjoint, so commits never contend. Each sink
      // is lifted to a named failure so one failing sink cannot orphan
      // the others mid-write: all five run to completion, and EVERY
      // failed sink is reported — the first as the cause, the rest
      // suppressed — instead of only whichever failed first.
      def sink(name: String,
          write: => Unit): () => Option[(String, Throwable)] =
        () => scala.util.Try(write).failed.toOption.map(name -> _)
      val (catalogFailed, logFailed) = try DriverPool.par2(
        () => DriverPool.par(Seq(
          sink("songs", SongPipeline.writeSongs(songs, s"$out/songs")),
          sink("artists",
            artists.write.mode("overwrite").parquet(s"$out/artists")))),
        () => {
          cleanedLog.count() // fills the prefix cache (one pass)
          DriverPool.par(Seq(
            sink("users",
              users.write.mode("overwrite").parquet(s"$out/users")),
            sink("time", LogPipeline.writeTime(time, s"$out/time")),
            sink("songplays",
              LogPipeline.writeSongplays(songplays, s"$out/songplays"))))
        })
      finally cleanedLog.unpersist(blocking = true)
      val failed = (catalogFailed ++ logFailed).flatten
      if (failed.nonEmpty) {
        val err = new RuntimeException(
          s"Sparkify sink(s) failed: ${failed.map(_._1).mkString(", ")}",
          failed.head._2)
        failed.tail.foreach { case (_, t) => err.addSuppressed(t) }
        throw err
      }
    }
    Outputs(songs, artists, users, time, songplays)
  }
}
