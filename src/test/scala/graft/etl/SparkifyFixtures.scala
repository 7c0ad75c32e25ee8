package graft.etl

import java.nio.file.{Files, Path}

/** Synthesized Sparkify-shaped fixtures (FIXTURES.md §A shapes; content is
  * our own — nothing copied from the reference's data files).
  *
  * Planted facts the specs assert on:
  *  - duplicate song file and duplicate log line (full-row dedup, A1)
  *  - "Blue Sky" exists by TWO artists → title-only join is ambiguous,
  *    two-key join is not (J1 negative test)
  *  - two NextSong events in the SAME second, different millis → time dim
  *    keeps two rows with equal start_time → J2 fan-out ×2
  *  - user 13 plays on `free` then `paid` → users quirk keeps both
  *  - logged-out row (userId "") and non-NextSong pages → filtered
  */
object SparkifyFixtures {

  // 2018-11-20 16:02:50 UTC → golden time-derivation row
  val GoldenTs = 1542729770796L
  // same second, different millis (fan-out pair): 2018-11-21 07:20:07
  val FanoutTsA = 1542784807100L
  val FanoutTsB = 1542784807900L

  private def song(id: String, title: String, artistId: String,
      artist: String, year: Long, dur: Double): String =
    s"""{"num_songs": 1, "artist_id": "$artistId", "artist_latitude": null, "artist_longitude": null, "artist_location": "", "artist_name": "$artist", "song_id": "$id", "title": "$title", "duration": $dur, "year": $year}"""

  val songRecords: Seq[String] = Seq(
    song("SOGRAFT0000000001", "Blue Sky", "ARGRAFT0000000001", "Nova Ray", 2001, 200.5),
    song("SOGRAFT0000000002", "Blue Sky", "ARGRAFT0000000002", "Echo Fields", 1999, 180.0),
    song("SOGRAFT0000000003", "River Song", "ARGRAFT0000000001", "Nova Ray", 0, 150.25),
    song("SOGRAFT0000000004", "Quiet Night", "ARGRAFT0000000003", "Luma", 2010, 240.0))

  private[etl] def next(user: String, first: String, level: String, session: Long,
      item: Long, song: String, artist: String, ts: Long): String =
    s"""{"artist":"$artist","auth":"Logged In","firstName":"$first","gender":"F","itemInSession":$item,"lastName":"Tester","length":200.0,"level":"$level","location":"Testville","method":"PUT","page":"NextSong","registration":1540000000000.0,"sessionId":$session,"song":"$song","status":200,"ts":$ts,"userAgent":"ua","userId":"$user"}"""

  val logRecords: Seq[String] = Seq(
    // golden-ts play matching SOGRAFT...01 via two-key (Nova Ray)
    next("10", "Ana", "paid", 100, 0, "Blue Sky", "Nova Ray", GoldenTs),
    // same title, other artist → must match SOGRAFT...02 only
    next("11", "Bo", "free", 101, 0, "Blue Sky", "Echo Fields", GoldenTs + 60000),
    // no catalog match
    next("12", "Cy", "free", 102, 0, "Unknown Tune", "Nobody", GoldenTs + 120000),
    // fan-out pair: same second, different millis, both match Quiet Night
    next("13", "Dee", "free", 103, 0, "Quiet Night", "Luma", FanoutTsA),
    next("13", "Dee", "paid", 103, 1, "Quiet Night", "Luma", FanoutTsB),
    // non-NextSong pages + logged-out row → all filtered
    s"""{"artist":null,"auth":"Logged In","firstName":"Ana","gender":"F","itemInSession":1,"lastName":"Tester","length":null,"level":"paid","location":"Testville","method":"GET","page":"Home","registration":1540000000000.0,"sessionId":100,"song":null,"status":200,"ts":${GoldenTs + 1000},"userAgent":"ua","userId":"10"}""",
    s"""{"artist":null,"auth":"Logged Out","firstName":null,"gender":null,"itemInSession":0,"lastName":null,"length":null,"level":"free","location":null,"method":"PUT","page":"Login","registration":null,"sessionId":999,"song":null,"status":307,"ts":${GoldenTs + 2000},"userAgent":null,"userId":""}""")

  /** Writes fixtures; returns (songDir, logDir). Song records one-per-file
    * (the reference's layout), with one exact duplicate file; logs as two
    * newline-delimited files with one duplicated line. */
  def write(): (String, String) = {
    val root: Path = Files.createTempDirectory("sparkify_fixture")
    val songDir = root.resolve("song-data"); Files.createDirectories(songDir)
    songRecords.zipWithIndex.foreach { case (s, i) =>
      Files.writeString(songDir.resolve(s"song_$i.json"), s)
    }
    // full-row duplicate of song 0 in a separate file → dedup collapses
    Files.writeString(songDir.resolve("song_dup.json"), songRecords.head)
    val logDir = root.resolve("log-data"); Files.createDirectories(logDir)
    Files.writeString(logDir.resolve("2018-11-20.json"),
      (logRecords.take(3) :+ logRecords.head).mkString("\n")) // dup line
    Files.writeString(logDir.resolve("2018-11-21.json"),
      logRecords.drop(3).mkString("\n"))
    (s"$songDir/*.json", s"$logDir/*.json")
  }
}
