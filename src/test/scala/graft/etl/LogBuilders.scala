package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Ids

/** Standalone log-side builders for the specs: each table straight from
  * the raw log, through the same cleaned prefix `SparkifyJob` persists
  * (`LogPipeline.nextSongEvents`), so a spec checks the one way each
  * table is built. */
object LogBuilders {

  /** `users` dim: one row per NextSong event (etl.py:195-197). */
  def usersTable(logData: DataFrame): DataFrame =
    LogPipeline.usersFromCleaned(LogPipeline.nextSongEvents(logData))

  /** Deterministic keyed-dedup variant (SURVEY §7.2.6): latest level per
    * user by event time — what the reference arguably intended. An
    * ARGMAX aggregate (max over a struct ordered by the event key),
    * not a row_number window: partial-aggregable, so a hot user
    * collapses map-side instead of funneling every row through one
    * task — the lake_latest_per_user scale shape. The struct's
    * (ts, sessionId, itemInSession) prefix orders events; the trailing
    * payload fields only break (impossible-after-dedup) full ties
    * deterministically. */
  def usersLatest(logData: DataFrame): DataFrame =
    LogPipeline.nextSongEvents(logData)
      .groupBy("userId")
      .agg(max(struct(col("ts"), col("sessionId"), col("itemInSession"),
        col("firstName"), col("lastName"), col("gender"), col("level")))
        .as("m"))
      .select(col("userId"), col("m.firstName").as("firstName"),
        col("m.lastName").as("lastName"), col("m.gender").as("gender"),
        col("m.level").as("level"))

  /** `time` dim (etl.py:215-236). */
  def timeTable(logData: DataFrame): DataFrame =
    LogPipeline.timeFromCleaned(LogPipeline.nextSongEvents(logData))

  /** `songplays` fact with the reference's partition-encoded id. */
  def songplaysTable(logData: DataFrame, songData: DataFrame,
      time: DataFrame): DataFrame =
    LogPipeline.songplaysFromCleaned(LogPipeline.nextSongEvents(logData),
      songData, time)

  /** Deterministic twin: sequential id over (sessionId, itemInSession,
    * ts, song_id) replaces the partition-encoded id (SURVEY §5
    * determinism rule). Assigned with the two-phase partition-offset
    * pattern (graft.ops.Ids) — a global-window row_number would funnel
    * the whole fact through one task. */
  def songplaysDeterministic(logData: DataFrame, songData: DataFrame,
      time: DataFrame): DataFrame = {
    val keys = Seq(col("sessionId"), col("itemInSession"), col("ts"),
      col("song_id"))
    Ids.orderedId(LogPipeline.songplayBase(
        LogPipeline.nextSongEvents(logData), songData, time),
        keys, "songplay_id")
      .select(col("songplay_id") +: LogPipeline.factCols: _*)
  }
}
