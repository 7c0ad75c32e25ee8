package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Readers

/** Reference-parity semantics on synthesized Sparkify-shaped fixtures
  * (SURVEY.md §5: golden counts, dedup behavior, J1 selectivity, J2
  * fan-out, quirk preservation). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val (songPath, logPath) = SparkifyFixtures.write()
  lazy val songData = Readers.songData(spark, songPath)
  lazy val logData = Readers.logData(spark, logPath)

  test("declared schemas survive read (no inference)") {
    assert(songData.schema == Readers.songSchema)
    assert(logData.schema == Readers.logSchema)
    // userId stays a STRING (reference quirk §2.8.7)
    assert(logData.schema("userId").dataType.typeName == "string")
  }

  test("full-row input dedup collapses duplicate files/lines (A1)") {
    assert(songData.count() == 5)                      // 4 + 1 dup file
    assert(SongPipeline.cleanSongData(songData).count() == 4)
    assert(logData.count() == 8)                       // 7 + 1 dup line
    assert(logData.dropDuplicates().count() == 7)
  }

  test("NextSong filter keeps only plays (P5)") {
    assert(LogPipeline.nextSongEvents(logData).count() == 5)
  }

  test("songs table: 5 columns, deduped") {
    val songs = SongPipeline.songsTable(songData)
    assert(songs.columns.toSeq ==
      Seq("song_id", "title", "artist_id", "year", "duration"))
    assert(songs.count() == 4)
  }

  test("artists table: renamed columns, NOT deduped (quirk §2.8.2)") {
    val artists = SongPipeline.artistsTable(songData)
    assert(artists.columns.toSeq ==
      Seq("artist_id", "name", "location", "longitude", "latitude"))
    assert(artists.count() == 4) // one per cleaned song row, dups kept
  }

  test("users table: one row per NextSong event, level change kept") {
    val users = LogBuilders.usersTable(logData)
    assert(users.count() == 5)
    val u13 = users.filter(col("userId") === "13")
      .select("level").distinct().collect().map(_.getString(0)).toSet
    assert(u13 == Set("free", "paid")) // upgraded user appears twice
  }

  test("usersLatest keeps exactly the newest row per user") {
    val latest = LogBuilders.usersLatest(logData)
    assert(latest.count() == 4) // users 10,11,12,13
    assert(latest.filter(col("userId") === "13").select("level")
      .collect().head.getString(0) == "paid")
  }

  test("time table: golden derivation row (notebook cell 41 semantics)") {
    val t = LogBuilders.timeTable(logData)
    assert(t.columns.toSeq == Seq("ts", "start_time", "hour", "day",
      "week", "month", "year", "weekday"))
    val row = t.filter(col("ts") === SparkifyFixtures.GoldenTs).collect().head
    assert(row.getString(1) == "2018-11-20 16:02:50") // STRING start_time
    assert(row.getInt(2) == 16 && row.getInt(3) == 20 &&
      row.getInt(4) == 47 && row.getInt(5) == 11 &&
      row.getInt(6) == 2018 && row.getInt(7) == 3) // weekday 1=Sunday
  }

  test("time table keeps two rows for same-second distinct ts") {
    val t = LogBuilders.timeTable(logData)
    assert(t.filter(col("start_time") === "2018-11-21 07:20:07")
      .count() == 2)
  }

  test("J1 two-key join resolves same-title songs correctly") {
    val sp = LogBuilders.songplaysDeterministic(logData, songData,
      LogBuilders.timeTable(logData))
    val bySong = sp.groupBy("song_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySong("SOGRAFT0000000001") == 1) // Nova Ray's Blue Sky
    assert(bySong("SOGRAFT0000000002") == 1) // Echo Fields' Blue Sky
    // title-only join would be ambiguous: 2 matches per Blue Sky event
    val titleOnly = LogPipeline.nextSongEvents(logData)
      .join(SongPipeline.cleanSongData(songData),
        col("title") === col("song"), "inner")
    assert(titleOnly.filter(col("song") === "Blue Sky").count() == 4)
  }

  test("J2 string-equality join fans out on same-second rows (§2.8.3)") {
    val sp = LogBuilders.songplaysDeterministic(logData, songData,
      LogBuilders.timeTable(logData))
    // 2 fan-out events × 2 time rows + 2 singleton matches = 6
    assert(sp.count() == 6)
    assert(sp.filter(col("song_id") === "SOGRAFT0000000004").count() == 4)
  }

  test("songplays schema and id determinism") {
    val t = LogBuilders.timeTable(logData)
    val sp = LogBuilders.songplaysDeterministic(logData, songData, t)
    assert(sp.columns.toSeq == Seq("songplay_id", "start_time", "userId",
      "level", "song_id", "artist_id", "sessionId", "location",
      "userAgent", "month", "year"))
    val ids = sp.select("songplay_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 6L)) // contiguous, deterministic
    // reference-fidelity variant: unique but non-contiguous ids
    val ref = LogBuilders.songplaysTable(logData, songData, t)
    val refIds = ref.select("songplay_id").collect().map(_.getLong(0))
    assert(refIds.distinct.length == refIds.length)
  }

  /** Nothing pinned in the session: no persistent RDD, no cached plan. */
  private def assertNothingPinned(): Unit = {
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.mkString(", "))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("SparkifyJob writes all five tables and releases its prefix") {
    graft.Caches.clearAll(spark)
    val out = java.nio.file.Files.createTempDirectory("graft_full").toString
    val res = SparkifyJob.run(spark, songPath, logPath, Some(out))
    assertNothingPinned()
    assert(res.songs.count() == 4 && res.artists.count() == 4)
    assert(res.users.count() == 5 && res.time.count() == 5)
    assert(res.songplays.count() == 6)
    // the returned frames recompute from the inputs: nothing re-pinned
    assertNothingPinned()
    Seq("songs", "artists", "users", "time", "songplays").foreach { t =>
      assert(spark.read.parquet(s"$out/$t").count() > 0, s"$t empty")
    }
    // the partitioned fact lost no columns to the layout
    assert(spark.read.parquet(s"$out/songplays").columns.toSet
      .contains("songplay_id"))
  }

  test("SparkifyJob releases its prefix when every sink fails") {
    graft.Caches.clearAll(spark)
    // a regular file as the output root: no sink can create its directory
    val out = Files.createTempFile("graft_full", ".file").toString
    val err = intercept[RuntimeException] {
      SparkifyJob.run(spark, songPath, logPath, Some(out))
    }
    assert(err.getMessage ==
      "Sparkify sink(s) failed: songs, artists, users, time, songplays")
    assertNothingPinned()
  }

  /** The nodes of `p` down to the cached prefix, through adaptive
    * plans and query stages; the subtrees of broadcast exchanges (the
    * song catalog of J1) are left out, so what remains is the log side. */
  private def logSide(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => logSide(a.executedPlan)
    case q: QueryStageExec => logSide(q.plan)
    case b: BroadcastExchangeExec => Seq(b)
    case other => other +: other.children.flatMap(logSide)
  }

  /** The physical plans of the cached prefixes `p` reads. */
  private def cachedPlans(p: SparkPlan): Seq[SparkPlan] =
    logSide(p).collect { case m: InMemoryTableScanExec =>
      m.relation.cachedPlan }

  private def isStartTimeHash(e: ShuffleExchangeExec): Boolean =
    e.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => a.name == "start_time"
      case _ => false
    }

  test("one exchange on start_time feeds both dedups and J2") {
    graft.Caches.clearAll(spark)
    val res = SparkifyJob.run(spark, songPath, logPath)
    // fill the prefix before planning, as the writing run's count does:
    // the log sinks are planned over a filled cache, whose final
    // adaptive plan reports the start_time partitioning (an unfilled
    // one reports none)
    res.users.count()
    Seq("time" -> res.time, "songplays" -> res.songplays).foreach {
      case (name, df) =>
        val plan = df.queryExecution.executedPlan
        val outside = logSide(plan)
        // nothing above the cached prefix shuffles the log side: not the
        // time dedup, not either side of J2
        assert(outside.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"$name shuffles above the prefix:\n$plan")
        val cached = cachedPlans(plan)
        assert(cached.nonEmpty, s"$name does not read the prefix:\n$plan")
        cached.foreach { c =>
          val shuffles = logSide(c).collect { case e: ShuffleExchangeExec => e }
          assert(shuffles.size == 1 && isStartTimeHash(shuffles.head),
            s"$name's prefix is not one start_time exchange:\n$c")
        }
        // the time dim is never broadcast
        assert(!outside.exists {
          case b: BroadcastExchangeExec =>
            b.output.exists(_.name.endsWith("start_time"))
          case _ => false
        }, s"$name broadcasts the time dim:\n$plan")
    }
    // J2 is a shuffled hash join over the co-partitioned sides, not a
    // broadcast hash join
    val plan = res.songplays.queryExecution.executedPlan
    val sp = logSide(plan)
    def joinsTime(j: SparkPlan) = j.children.exists(
      _.output.exists(_.name == "t_start_time"))
    assert(sp.exists {
      case j: ShuffledHashJoinExec => joinsTime(j)
      case _ => false
    }, s"J2 is not a shuffled hash join:\n$plan")
    assert(!sp.exists {
      case j: BroadcastHashJoinExec => joinsTime(j)
      case _ => false
    })
  }

  test("J2 fans out across a DST fall-back: the key is the string") {
    // 01:30 EDT and 01:30 EST on 2018-11-04 are 3,600 s apart and both
    // render "2018-11-04 01:30:00" in America/New_York; the reference's
    // string join matches each event to both time rows (2 x 2)
    val edt = 1541309400000L
    val est = edt + 3600000L
    val dir = Files.createTempDirectory("sparkify_dst")
    Files.writeString(dir.resolve("log.json"), Seq(
      SparkifyFixtures.next("20", "Eve", "free", 200, 0, "Quiet Night",
        "Luma", edt),
      SparkifyFixtures.next("20", "Eve", "free", 200, 1, "Quiet Night",
        "Luma", est)).mkString("\n"))
    val zone = "spark.sql.session.timeZone"
    val prev = spark.conf.get(zone)
    spark.conf.set(zone, "America/New_York")
    try {
      val res = SparkifyJob.run(spark, songPath, s"$dir/*.json")
      val time = res.time.select("ts", "start_time").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(time == Set(edt -> "2018-11-04 01:30:00",
        est -> "2018-11-04 01:30:00"))
      assert(res.songplays.count() == 4)
    } finally spark.conf.set(zone, prev)
  }

  test("partitioned writes round-trip (S6)") {
    val out = java.nio.file.Files.createTempDirectory("graft_songs").toString
    SongPipeline.writeSongs(SongPipeline.songsTable(songData), out)
    val back = spark.read.parquet(out)
    assert(back.count() == 4)
    // partition columns moved to directory layout and back (§1.3)
    assert(back.columns.toSet ==
      Set("song_id", "title", "duration", "year", "artist_id"))
  }
}
