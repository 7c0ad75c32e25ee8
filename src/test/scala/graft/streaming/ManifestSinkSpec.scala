package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestLog
import graft.sources.LogKit
import graft.sources.LogKit.ReplayMaps

/** The exactly-once commit protocol of [[ManifestSink.commitBatch]]:
  * a replayed batchId must no-op (whatever rows the replay carries),
  * the log's version sequence stays dense, and the drained end-to-end
  * ingest equals the flat batch answer after a full fresh-checkpoint
  * re-run. */
class ManifestSinkSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_msink").toString

  private def rows(ids: Long*) = {
    import spark.implicits._
    ids.map(i => (i, i * 10, 1700000000000000L + i, i.toDouble))
      .toDF("user_id", "event_id", "ts_us", "value")
  }

  test("a replayed batchId is a no-op even with different rows; lower " +
      "batchIds behind the marker are skipped too") {
    val root = freshRoot()
    ManifestSink.commitBatch(root, rows(1, 2), 0)
    assert(ManifestLog.versions(root) == Seq(0L))
    assert(ManifestLog.latestSnapshot(root)
      .flatMap(_.txns.get(ManifestSink.AppId)).contains(0L))
    // the replay: same batchId, garbage rows — must not commit, must
    // not clobber the landed data
    ManifestSink.commitBatch(root, rows(99), 0)
    assert(ManifestLog.versions(root) == Seq(0L))
    val v0 = ManifestLog.readVersion(spark, root, 0)
      .select("user_id").collect().map(_.getLong(0)).sorted
    assert(v0.toSeq == Seq(1L, 2L))
    // a NEW batch commits the next version
    ManifestSink.commitBatch(root, rows(3), 1)
    assert(ManifestLog.versions(root) == Seq(0L, 1L))
    // replay arriving LATE (batchId below the marker) is also a no-op
    ManifestSink.commitBatch(root, rows(98), 0)
    assert(ManifestLog.versions(root) == Seq(0L, 1L))
    val latest = ManifestLog.readVersion(spark, root, 1)
      .select("user_id").collect().map(_.getLong(0)).sorted
    assert(latest.toSeq == Seq(1L, 2L, 3L))
  }

  test("a marker committed by a concurrent duplicate short-circuits " +
      "the slow copy before it lands data") {
    val root = freshRoot()
    // the fast duplicate won: its marker is already in the log
    LogKit.commit(root, 0, Seq("data/b7/f.parquet"), Seq.empty,
      "stream-append", txn = Some((ManifestSink.AppId, 7L)))
    ManifestSink.commitBatch(root, rows(1), 7)
    assert(ManifestLog.versions(root) == Seq(0L))
    // and the slow copy never even landed data (early txn check):
    // no attempt dir for batch 7 exists at all
    val dataDir = java.nio.file.Paths.get(root, "data")
    val landed =
      if (!java.nio.file.Files.isDirectory(dataDir)) Seq.empty
      else {
        val s = java.nio.file.Files.list(dataDir)
        try s.iterator().asScala.map(_.getFileName.toString).toSeq
        finally s.close()
      }
    assert(!landed.contains("b7"),
      s"slow copy landed data despite the marker: $landed")
    assert(ManifestLog.filesAsOf(root, 0) == Seq("data/b7/f.parquet"))
  }

  test("zombie replay of one batch never deletes committed data: " +
      "attempts land unique never-reused paths, exactly one commits, " +
      "the loser is an orphan vacuumIngest reclaims (r15 advice)") {
    val root = freshRoot()
    // two drivers replaying the same batch, both past the early txn
    // check (the marker is not yet visible to either): with the old
    // deterministic data/b0 overwrite the loser's re-write deleted
    // the winner's just-committed part files; the writer's per-call
    // token makes the loser's landing garbage instead of corruption
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val attempts = (0 until 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            gate.await()
            ManifestSink.commitBatch(root, rows(10L + i), 0)
          }
        })
      }
      gate.countDown()
      attempts.foreach(_.get())
    } finally pool.shutdown()
    // exactly one version, one marker
    assert(ManifestLog.versions(root) == Seq(0L))
    assert(ManifestLog.latestSnapshot(root)
      .flatMap(_.txns.get(ManifestSink.AppId)).contains(0L))
    // never-reuse-paths pin: both attempts landed their one-row batch
    // into data/b0 under distinct per-attempt tokens, and the commit
    // references exactly one attempt's files
    val token = "data/b0/part-\\d{5}-([0-9a-f]{8})\\.parquet".r
    val landedFiles = ManifestLog.partFiles(root, "data/b0")
    val tokens = landedFiles.map { case token(t) => t }
    assert(landedFiles.size == 2 && tokens.distinct.size == 2,
      s"the two attempts must land distinct file names: $landedFiles")
    val committed = ManifestLog.filesAsOf(root, 0)
    assert(committed.nonEmpty && committed.forall(landedFiles.contains) &&
      committed.map { case token(t) => t }.distinct.size == 1,
      s"the commit must reference one attempt's files: $committed")
    // every committed file EXISTS — no overwrite ate the winner's data
    committed.foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, f)),
        s"manifest references a missing file: $f")
    }
    assert(ManifestLog.readVersion(spark, root, 0).count() == 1)
    // any losing attempt's landing is unreferenced garbage the scoped
    // vacuum reclaims; the committed read is byte-identical after
    val swept = ManifestSink.vacuumIngest(root)
    assert(swept.forall(f => !committed.contains(f)),
      s"vacuum must never sweep referenced files: $swept")
    assert(ManifestLog.readVersion(spark, root, 0).count() == 1)
  }

  test("drained ingest + full fresh-checkpoint replay equals the " +
      "batch answer and never advances the log past v3") {
    val flat = graft.sources.Readers.table(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    val got = ManifestSink.ingested(spark, dir)
      .select("user_id", "event_id", "ts_us", "value").collect()
      .map(_.toSeq).sortBy(_.toString)
    val want = flat.collect().map(_.toSeq).sortBy(_.toString)
    assert(got.length == want.length)
    assert(got.sameElements(want))
    // the ingestRoot builder itself asserts versions.max == 3 after
    // the second (fully replayed) drain; re-pin it from outside
    val root = ManifestSink.ingestRoot(spark, dir)
    assert((ManifestLog.versions(root) ++
      ManifestLog.checkpointVersions(root)).max == 3L)
  }
}
