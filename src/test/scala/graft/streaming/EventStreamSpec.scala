package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Readers

/** Streaming surfaces proven by batch equivalence: drain the stream over
  * a static parquet dir, compare with the batch plan on the same input
  * (SURVEY.md §7.4.4 — no external oracle for streaming). */
class EventStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** events with µs timestamps re-written so readStream sees a plain
    * TimestampType parquet (the raw testdata is TIMESTAMP(NANOS)). */
  lazy val inputDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_stream").toString
    Readers.table(spark, "/root/testdata/sf0.001", "events")
      .coalesce(2).write.mode("overwrite").parquet(d)
    d
  }

  test("windowed counts: stream drained == batch") {
    val streamed = StreamKit.drainToMemory(spark,
      StreamKit.windowedCounts(spark, inputDir), "wc", OutputMode.Append)
    val batch = StreamKit.windowedCountsBatch(spark.read.parquet(inputDir))
    // append mode emits only watermark-closed windows: every emitted row
    // must match the batch result exactly, and most windows must emit
    val b = batch.collect().map(r => r.toSeq).toSet
    val s = streamed.collect().map(r => r.toSeq).toSet
    assert(s.nonEmpty)
    assert(s.subsetOf(b), "streamed window not in batch result")
    assert(s.size >= b.size - 10, "too few windows emitted before drain")
  }

  test("file-sink streaming: AvailableNow + checkpoint drains to parquet") {
    import org.apache.spark.sql.streaming.Trigger
    val outDir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val q = spark.readStream.schema(EventStream.eventSchema)
      .parquet(inputDir)
      .filter(col("event_type") === "purchase")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(outDir).count()
    val batch = spark.read.parquet(inputDir)
      .filter(col("event_type") === "purchase").count()
    assert(streamed == batch)
    // restart with the same checkpoint: no new input → no duplicates
    val q2 = spark.readStream.schema(EventStream.eventSchema)
      .parquet(inputDir)
      .filter(col("event_type") === "purchase")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(spark.read.parquet(outDir).count() == batch)
  }

  test("hotkey-capped stream-stream join: drained == batch bucket replay") {
    // pins the r12 three-replica hour-bucket equi-key rewrite: a
    // purchase bucket reaches signups with a_ts ∈ [b_bts−1h, b_bts+5m),
    // i.e. hour-floors {h−1, h, h+1} — exactly one replica can match a
    // given signup, so the drained result must equal the batch replay
    // of the capped semantics (DISTINCT buckets per user) row-for-row
    val sf = "/root/testdata/sf0.001"
    val got = EventStream
      .streamStreamJoinHotkeyDrained(spark, s"$sf/events.parquet")
      .orderBy("user_id", "signup_id", "purchase_bucket_us")
      .collect().map(_.toSeq).toSeq
    Readers.table(spark, sf, "events").createOrReplaceTempView("ev_hot")
    val want = spark.sql("""
      WITH a AS (SELECT user_id, event_id AS signup_id,
                        unix_micros(ts) AS a_us
                 FROM ev_hot WHERE event_type = 'signup'),
      pb AS (SELECT DISTINCT user_id AS b_user,
                    unix_micros(ts) div 300000000 * 300000000 AS b_us
             FROM ev_hot WHERE event_type = 'purchase')
      SELECT a.user_id, a.signup_id, pb.b_us AS purchase_bucket_us
      FROM a JOIN pb ON a.user_id = pb.b_user
       AND pb.b_us >= a.a_us div 300000000 * 300000000
       AND pb.b_us <= a.a_us + 3600000000
      ORDER BY user_id, signup_id, purchase_bucket_us""")
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("foreachBatch sink: arbitrary-sink pattern drains all rows") {
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fb").toString
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.schema(EventStream.eventSchema)
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.addAndGet(batch.count()); batches.incrementAndGet(); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(seen.get() == spark.read.parquet(inputDir).count())
    assert(batches.get() >= 1)
  }

  test("foreachBatch upsert: incremental merge over >1 micro-batch " +
      "equals batch latest-per-user") {
    val run = EventStream
      .foreachBatchUpsertRun(spark, "/root/testdata/sf0.001")
    val got = run.result.orderBy("user_id").collect()
    // the landing split + maxFilesPerTrigger=1 must yield REAL
    // incremental merges, not one degenerate batch
    assert(run.nBatches >= 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val expected = Readers.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_events",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("ts_us").as("last_ts_us"),
        col("event_id").as("last_event_id"),
        col("value").as("last_value"), col("n_events"))
      .orderBy("user_id").collect()
    assert(got.map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq)
  }

  test("stateful session counts: totals match batch sessionization") {
    val out = StreamKit.drainToMemory(spark,
      StreamKit.sessionCounts(spark, inputDir).toDF(),
      "sc", OutputMode.Update)
    // one final state row per user (single micro-batch over static input)
    val latest = out.groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("n_sessions").as("n_sessions"))
    val ev = spark.read.parquet(inputDir)
    val expectedEvents = ev.groupBy("user_id").count()
    val joined = latest.join(expectedEvents, "user_id")
    assert(joined.filter(col("n_events") =!= col("count")).count() == 0)
    // session counts: recompute with the batch window formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = ev
      .withColumn("prev", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(unix_micros(col("ts")) - col("prev") <= 1800000000L, 0L)
          .otherwise(1L))
      .groupBy("user_id").agg(sum("new_sess").as("exp_sessions"))
    val j2 = latest.join(sessions, "user_id")
    assert(j2.filter(col("n_sessions") =!= col("exp_sessions")).count() == 0)
  }

  test("TTL eviction on the user-stats processor: idle state fully " +
      "expires, answers unchanged (r14 verdict #6)") {
    // churn-cohort landing (TtlProbe's layout at spec scale): each
    // micro-batch admits one user cohort which then goes idle — the
    // workload shape processing-time TTL exists for (this corpus's
    // users span the whole horizon, so a TIME-slice would leave every
    // key hot forever and TTL would measure nothing)
    val nFiles = 4
    val work = java.nio.file.Files
      .createTempDirectory("graft_ttl_spec").toString
    val ev = Readers.table(spark, "/root/testdata/sf0.001", "events")
    val landing = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(work, "landing")).toString
    (0 until nFiles).foreach { i =>
      val tmp = s"$work/slice$i"
      ev.filter(pmod(col("user_id"), lit(nFiles)) === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(s"$landing/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val (noTtlDf, noTtlProgress) = EventStream.userStatsDrainedWithProgress(
      spark, landing, Some(1))
    val expected = noTtlDf.orderBy("user_id").collect().toSeq
    // retain-everything baseline: final state = every row ever admitted
    val admitted = noTtlProgress.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum).last
    val (ttlDf, progress) = EventStream.userStatsTtlDrainedWithProgress(
      spark, landing, Some(1), ttlMs = 1000L)
    // 1) answers must not depend on eviction: a cohort is touched in
    //    exactly one batch, so no key can aggregate across an expiry
    assert(ttlDf.orderBy("user_id").collect().toSeq == expected)
    val withState = progress.filter(_.stateOperators.nonEmpty)
    val perBatch = withState.map(_.stateOperators.map(_.numRowsTotal).sum)
    val removed = withState.map(_.stateOperators.map(_.numRowsRemoved).sum)
    // 2) the full eviction arc: the drain's stop condition is zero
    //    state rows, so every row ever admitted was TTL-expired —
    //    removed equals the no-TTL run's retain-everything final state
    //    (conservation: added − removed = final = 0)
    assert(perBatch.last == 0, s"state not fully expired: $perBatch")
    assert(removed.sum == admitted,
      s"eviction did not reclaim exactly the admitted state: " +
        s"removed=${removed.sum} admitted=$admitted perBatch=$perBatch")
  }
}
