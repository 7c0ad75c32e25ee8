package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.sources.ManifestLog
import graft.sources.ManifestLog.CheckpointPolicy

/** One closed-loop client on a transactional table: each op appends the
  * next generated batch with `ManifestLog.appendChecked` (stats + bloom
  * columns, auto-checkpoint) under a fresh `sub`, then runs point reads
  * at the new version through `readVersionPoint`. Every read must return
  * exactly the row the generator wrote for that key. */
final class LakeIngest(ctx: Ctx) extends Workload {
  import ctx.spark

  val warmOps = 12
  val minOps = 12
  private val nBatches = ctx.truth.get("batches").asInt
  private val batchRows = ctx.truth.get("batch_rows").asLong
  override val maxOps: Int = nBatches - warmOps
  val readsPerOp = 2
  val every = 5L
  private val root = s"${ctx.work}/table"
  private val samples = Files.readAllLines(Paths.get(ctx.inputs, "samples.txt"))
    .asScala.map(_.split(' ').map(_.toLong)).toVector
  private val rng = new scala.util.Random(ctx.seed)
  private var appended = 0
  private var inputBytes = 0L

  /** The row the generator wrote for `id` (mirrors gen.lake_columns). */
  private def expected(id: Long, batch: Long): Row = Row(id, batch,
    (id * 2654435761L) % 100003L, (id % 100003L) / 100.0,
    s"c${id % 37}", s"payload-${(id * 7919L) % 1000003L}")

  private def batchFile(b: Int) = f"${ctx.inputs}/batch-$b%05d.parquet"

  private def runOp(traced: Boolean): Op = {
    val b = appended
    val df = spark.read.parquet(batchFile(b))
    val jobMs0 = ctx.counters.filter(_ => traced)
      .map(_.snapshot(spark.sparkContext)("spark.job_ms"))
    val t0 = System.nanoTime()
    val v = ManifestLog.appendChecked(spark, df, root, f"b$b%05d",
      statsCols = Seq("id", "batch", "user_id"), bloomCol = Some("id"),
      policy = Some(CheckpointPolicy(every)))
    val writeMs = (System.nanoTime() - t0) / 1e6
    val jobMs = jobMs0.map(ctx.counters.get.snapshot(spark.sparkContext)(
      "spark.job_ms") - _)
    appended += 1
    inputBytes += Files.size(Paths.get(batchFile(b)))
    // one key from the batch just written, the rest from older batches
    val keys = (0 until readsPerOp).map { r =>
      val kb = if (r == 0) b else rng.nextInt(appended)
      (samples(kb)(rng.nextInt(samples(kb).length)), kb.toLong)
    }
    val problems = Seq.newBuilder[String]
    val reads = keys.map { case (id, kb) =>
      val r0 = System.nanoTime()
      val snap = ManifestLog.readVersionPoint(spark, root, v, "id", id)
      val resolveMs = (System.nanoTime() - r0) / 1e6
      val rows = snap.filter(col("id") === id).collect()
      val readMs = (System.nanoTime() - r0) / 1e6
      if (rows.length != 1 || rows(0) != expected(id, kb))
        problems += s"key $id at v$v: ${rows.mkString(",")}"
      val scanned = if (traced) snap.inputFiles.length.toDouble else 0.0
      (readMs, resolveMs, scanned)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val bad = problems.result()
    if (bad.nonEmpty) ctx.log(s"lake reads wrong: $bad")
    val layer = if (!traced) Map.empty[String, Double] else {
      val live = ManifestLog.filesAsOf(root, v).size.toDouble
      val scanned = reads.map(_._3).sum / reads.size
      Map("writer.write_files_ms" -> jobMs.get,
        "manifest.commit_ms" -> (writeMs - jobMs.get),
        "manifest.resolve_ms" -> Stats.median(reads.map(_._2)),
        "index.files_live" -> live, "index.files_scanned" -> scanned,
        "index.prune_ratio" -> (1.0 - scanned / live))
    }
    Op(ms, batchRows, bad.isEmpty,
      samples = Map("write_ms" -> Seq(writeMs), "read_ms" -> reads.map(_._1),
        "checkpointed" -> Seq(if (v > 0 && v % every == 0) 1.0 else 0.0)),
      layer = layer)
  }

  def warm(i: Int): Op = runOp(traced = false)
  private val timedOps = Seq.newBuilder[Op]
  def op(i: Int, traced: Boolean): Op = {
    val o = runOp(traced); timedOps += o; o
  }

  def endToEnd(ops: Seq[Op]): Map[String, Double] = Map(
    "stored_bytes_per_input_byte" -> Tree.of(root).bytes.toDouble / inputBytes)

  def layers(traced: Seq[Op]): Map[String, Double] = {
    def med(k: String) = Stats.median(traced.map(_.layer(k)))
    // checkpoint cost: appends that folded a checkpoint vs those that did
    // not, over every timed op of the run
    val (ck, plain) = timedOps.result().partition(_.samples("checkpointed").head > 0)
    def writeMed(ops: Seq[Op]) = Stats.median(ops.map(_.samples("write_ms").head))
    val writes = traced.flatMap(_.samples("write_ms"))
    val reads = traced.flatMap(_.samples("read_ms"))
    val tree = Tree.of(root)
    Map(
      "writer.write_files_ms" -> med("writer.write_files_ms"),
      "writer.files_written" -> Files.list(Paths.get(root)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("b"))
        .map(d => Files.list(d).iterator().asScala
          .count(_.toString.endsWith(".parquet"))).sum.toDouble / appended,
      "manifest.commit_ms" -> med("manifest.commit_ms"),
      "manifest.checkpoint_ms" -> (if (ck.isEmpty || plain.isEmpty) 0.0
        else writeMed(ck) - writeMed(plain)),
      "manifest.checkpoints" -> tree.checkpoints.toDouble,
      "manifest.log_bytes" -> tree.logBytes.toDouble,
      "manifest.resolve_ms" -> med("manifest.resolve_ms"),
      "index.files_live" -> traced.map(_.layer("index.files_live")).max,
      "index.files_scanned" -> med("index.files_scanned"),
      "index.prune_ratio" -> med("index.prune_ratio"),
      "lake.write_p50_ms" -> Stats.median(writes),
      "lake.write_p90_ms" -> Stats.pct(writes, 0.9),
      "lake.read_p50_ms" -> Stats.median(reads),
      "lake.read_p90_ms" -> Stats.pct(reads, 0.9))
  }

  override def details: Map[String, Any] = {
    val tree = Tree.of(root)
    Map("appended" -> appended, "reads_per_op" -> readsPerOp,
      "checkpoint_every" -> every, "table_bytes" -> tree.bytes,
      "log_bytes" -> tree.logBytes, "checkpoints" -> tree.checkpoints,
      "input_bytes" -> inputBytes)
  }
}
