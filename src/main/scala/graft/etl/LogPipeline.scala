package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.TimeOps

/** The reference's log-data pipeline (SURVEY.md §3.2; reference
  * etl.py:136-314): users, time, songplays over one cleaned event
  * frame.
  *
  * The two Python UDFs (etl.py:215-220) are native expressions here
  * (TimeOps) — no BatchEvalPython fence, the whole chain stays in
  * whole-stage codegen. Reference quirks preserved: `users` not deduped,
  * `start_time` a second-granularity STRING, the fact-to-time join a
  * string equality that can fan out (SURVEY §2.8.2-3).
  */
object LogPipeline {

  /** The log side's one shuffle, its input dedup and its only predicate
    * (etl.py:177,186). The raw log gains the reference's STRING
    * `start_time` once, is hash-partitioned on it, then full-row deduped
    * and filtered to NextSong. `start_time` is a function of `ts`, so the
    * dedup over the 18 columns plus it keeps the reference's rows; the
    * filter commutes with a full-row distinct and reaches the JSON scan.
    *
    * Every later key of the log side is a function of `start_time`: the
    * `time` dedup ([[timeFromCleaned]]) and the J2 join
    * ([[songplaysFromCleaned]]) both run partition-locally over this
    * exchange. The key is the string, not the epoch second: J2 is string
    * equality in the session time zone, and in a DST zone two epoch
    * seconds an hour apart render the same string and must fan out
    * together. */
  def nextSongEvents(logData: DataFrame): DataFrame =
    logData.withColumn("start_time", TimeOps.startTimeString(col("ts")))
      .repartition(col("start_time"))
      .dropDuplicates()
      .filter(col("page") === "NextSong")

  /** `users` dim over the cleaned events: 5-col projection, NO dedup —
    * one row per NextSong event; a user who upgraded appears with both
    * levels (etl.py:195-197). */
  def usersFromCleaned(cleaned: DataFrame): DataFrame =
    cleaned.select("userId", "firstName", "lastName", "gender", "level")

  /** `time` dim (etl.py:215-236) over the cleaned events: epoch-millis
    * ts + the carried STRING start_time + six int units, full-row dedup.
    * The dedup keys include `start_time`, so it aggregates within the
    * partitions of [[nextSongEvents]]' exchange. Written partitioned
    * (year, month). */
  def timeFromCleaned(cleaned: DataFrame): DataFrame = {
    val base = cleaned.withColumn("ts_ts", TimeOps.epochMillisToTs(col("ts")))
    TimeOps.timeUnits(col("ts_ts")).foldLeft(base) {
        case (df, (name, c)) => df.withColumn(name, c.cast(IntegerType))
      }
      .select("ts", "start_time", "hour", "day", "week", "month", "year",
        "weekday")
      .dropDuplicates()
  }

  /** `songplays` fact (etl.py:257-297) over the cleaned events and the
    * `time` dim built from them: events ⋈ song catalog on the two-key
    * (title, artist_name) — the single-key join is wrong, see SURVEY §2.3
    * J1 — then ⋈ time dim on STRING start_time (fan-out quirk), id from
    * monotonically_increasing_id for reference fidelity (non-deterministic
    * across runs — excluded from oracle comparisons). */
  def songplaysFromCleaned(cleaned: DataFrame, songData: DataFrame,
      time: DataFrame): DataFrame = {
    val base = songplayBase(cleaned, songData, time)
    base.select(
      monotonically_increasing_id().as("songplay_id") +: factCols: _*)
  }

  private[etl] val factCols = Seq("start_time", "userId", "level",
    "song_id", "artist_id", "sessionId", "location", "userAgent", "month",
    "year").map(col)

  private[etl] def songplayBase(cleaned: DataFrame, songData: DataFrame,
      time: DataFrame): DataFrame = {
    // Narrow the catalog to the join keys + carried ids BEFORE the join:
    // avoids the ambiguous `year` (song year vs time-dim year) and keeps
    // the broadcast payload minimal.
    val songs = SongPipeline.cleanSongData(songData)
      .select("song_id", "artist_id", "title", "artist_name")
    // J1: two-key equi inner join (etl.py:267-270). The song catalog is
    // the small side — broadcast it explicitly (at lake scale the event
    // log is orders of magnitude larger than the catalog). The streamed
    // log side keeps its start_time partitioning.
    val joined = cleaned.join(broadcast(songs),
      songs("title") === cleaned("song") &&
        songs("artist_name") === cleaned("artist"), "inner")
    // J2: string-equality join to the (already 8-col-deduped) time dim
    // for month/year (etl.py:282-297). NO re-dedup here: two distinct ts
    // in the same second are distinct time rows with equal start_time, so
    // the join fans out — exactly as the reference computes (§2.8.3).
    // Both sides are already partitioned on start_time, so the hinted
    // shuffled hash join adds no exchange; without the hint a time dim
    // under the auto-broadcast threshold would be broadcast instead.
    val t = time.select(col("start_time").as("t_start_time"), col("month"),
      col("year"))
    joined.join(t.hint("shuffle_hash"),
        joined("start_time") === t("t_start_time"), "inner")
      .drop("t_start_time")
  }

  /** Hive-layout sinks (etl.py:236,297). The frames arrive
    * hash-partitioned on `start_time` by [[nextSongEvents]] and are
    * written as they stand: no further exchange, every core writing.
    * Each (year, month) directory gets at most one file per partition,
    * so files total partitions × months touched, against ~partitions +
    * months under a guard that groups months. Measured on a 4-core
    * host, `etl_sparkify_full`'s one-month input writes 32 time and 32
    * songplays files at sf0.1 with 32 partitions (a guard: 1 and 3),
    * and a 38-month log of 400k events writes 114 of each with 3
    * partitions and 608 with 16 (a guard: 38 to 45), files of 10-60 KB.
    * Both guards measured give up the job's gain: a range repartition
    * samples its input, recomputing the un-cached J2 join, and a
    * rebalance on (year, month) writes each small month in one task
    * (SURVEY.md §6.4, "Composed ETL write layout"). */
  def writeTime(time: DataFrame, outDir: String): Unit =
    time.write.mode("overwrite").partitionBy("year", "month").parquet(outDir)

  def writeSongplays(songplays: DataFrame, outDir: String): Unit =
    songplays.write.mode("overwrite").partitionBy("year", "month")
      .parquet(outDir)
}
