package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One measured op: wall time, input rows it processed, whether its
  * output checks passed, latency samples of its sub-steps, and per-layer
  * values (filled on traced ops only). */
final case class Op(ms: Double, rows: Long, ok: Boolean,
    samples: Map[String, Seq[Double]] = Map.empty,
    layer: Map[String, Double] = Map.empty, note: String = "",
    at: Double = 0.0, heapMb: Double = 0.0)

final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val seed: Long, val counters: Option[SparkCounters]) {
  val truth = Json.read(Paths.get(inputs, "truth.json"))
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

trait Workload {
  /** Untimed warm-up ops run before the clock starts. */
  def warmOps: Int
  /** Timed ops to run even if the window has already closed. */
  def minOps: Int
  def maxOps: Int = Int.MaxValue
  def warm(i: Int): Op
  def op(i: Int, traced: Boolean): Op
  /** Time Spark's context cleaner gets before the live heap is read. */
  def cleanerWaitMs: Int = 0
  /** Untimed clean-up between ops. */
  def between(): Unit = ()
  /** Workload-specific end-to-end metrics over the passed timed ops. */
  def endToEnd(ops: Seq[Op]): Map[String, Double]
  /** This workload's per-layer values over its traced ops. */
  def layers(traced: Seq[Op]): Map[String, Double]
  def details: Map[String, Any] = Map.empty
}

object Main {
  /** Unit of every metric a workload can report. run.py prints the ones
    * BENCHMARK.json lists, with a layer a workload never calls as 0. */
  val Units: Map[String, String] = Map(
    "rows_per_s" -> "rows/s", "job_p50_ms" -> "ms", "setup_s" -> "s",
    "heap_peak_mb" -> "MB", "stored_bytes_per_input_byte" -> "ratio",
    "spark.tasks" -> "count", "spark.stages" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "jvm.gc_ms" -> "ms", "trace.op_p50_ms" -> "ms",
    "trace.overhead_pct" -> "%",
    "readers.json_scan_ms" -> "ms", "etl.prefix_ms" -> "ms",
    "etl.sink_ms.songs" -> "ms", "etl.sink_ms.artists" -> "ms",
    "etl.sink_ms.users" -> "ms", "etl.sink_ms.time" -> "ms",
    "etl.sink_ms.songplays" -> "ms", "caches.persisted_mb" -> "MB",
    "spark.output_files" -> "count", "spark.output_mb" -> "MB",
    "textops.shingle_ms" -> "ms", "dedup.exact_ms" -> "ms",
    "dedup.prefix_ms" -> "ms", "dedup.minhash_ms" -> "ms",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.candidate_precision" -> "ratio", "near_dup_recall" -> "ratio",
    "vector.ivf_ms" -> "ms", "vector.pairs_scored" -> "count",
    "knn_recall" -> "ratio",
    "writer.write_files_ms" -> "ms", "writer.files_written" -> "count",
    "manifest.commit_ms" -> "ms", "manifest.checkpoint_ms" -> "ms",
    "manifest.checkpoints" -> "count", "manifest.log_bytes" -> "bytes",
    "manifest.resolve_ms" -> "ms", "index.files_live" -> "count",
    "index.files_scanned" -> "count", "index.prune_ratio" -> "ratio",
    "lake.write_p50_ms" -> "ms", "lake.write_p90_ms" -> "ms",
    "lake.read_p50_ms" -> "ms", "lake.read_p90_ms" -> "ms")

  /** Counter deltas Main itself records around every traced op. */
  val Generic: Set[String] = Set("spark.tasks", "spark.stages",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.job_ms", "jvm.gc_ms")

  def main(args: Array[String]): Unit = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    def uptimeS = (System.currentTimeMillis() - startMs) / 1000.0

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.sources.Readers.NanosAsLongKey, "true")
    val spark = graft.sources.NioLocalFs.SessionConfs
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = uptimeS
    graft.Caches.quietNoisyLogs()

    val counters = if (trace) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val ctx = new Ctx(spark, opt("inputs"), work, opt("seed").toLong, counters)
    val w: Workload = workload match {
      case "sparkify_etl" => new SparkifyEtl(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case "lake_ingest" => new LakeIngest(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    def guarded(f: => Op): Op = {
      val t0 = System.nanoTime()
      val at = uptimeS
      try f.copy(at = at) catch { case e: Exception =>
        ctx.log(s"op failed: $e")
        e.printStackTrace()
        Op((System.nanoTime() - t0) / 1e6, 0, ok = false, note = e.toString,
          at = at)
      }
    }
    // the live heap after each op is read before the op's caches drop
    def settle(o: Op): Op = {
      val heap = Jvm.heapAfterGcMb(w.cleanerWaitMs)
      w.between()
      o.copy(heapMb = heap)
    }
    // the calibration probe runs before the last warm-up op, so whatever it
    // disturbs has settled again when the clock starts
    val warm = Vector.newBuilder[Op]
    (0 until w.warmOps - 1).foreach(i => warm += settle(guarded(w.warm(i))))
    val calibT0 = System.nanoTime()
    val calibPre = Calibration.run(spark, cores, work)
    val calibS = (System.nanoTime() - calibT0) / 1e9
    warm += settle(guarded(w.warm(w.warmOps - 1)))
    val setupS = uptimeS - calibS

    val windowNs = (seconds * 1e9).toLong
    // a traced run needs at least one op of each kind
    val minOps = math.max(w.minOps, if (trace) 2 else 1)
    val t0 = System.nanoTime()
    val timed = Iterator.from(0).takeWhile { i =>
      i < w.maxOps && (i < minOps || System.nanoTime() - t0 < windowNs)
    }.map { i =>
      // a traced run alternates untraced and traced ops, so the same run
      // also estimates what the tracing costs
      val traced = trace && i % 2 == 1
      val before = counters.filter(_ => traced)
        .map(c => (c.snapshot(spark.sparkContext), Jvm.gcMs))
      val o = guarded(w.op(i, traced))
      val spark0 = before.map { case (s0, gc0) =>
        val s1 = counters.get.snapshot(spark.sparkContext)
        s1.map { case (k, v) => k -> (v - s0(k)) } +
          ("jvm.gc_ms" -> (Jvm.gcMs - gc0))
      }
      (traced, settle(spark0.fold(o)(s => o.copy(layer = s ++ o.layer))))
    }.toVector
    val windowS = (System.nanoTime() - t0) / 1e9
    val calibPost = Calibration.run(spark, cores, work)

    val ops = timed.map(_._2)
    val all = warm.result() ++ ops
    val failed = all.count(!_.ok)
    // times come from the ops that passed their checks; a run where none
    // did still reports (and is marked incorrect)
    def passed(xs: Seq[Op]) = if (xs.exists(_.ok)) xs.filter(_.ok) else xs
    val good = passed(ops)
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "rows_per_s" -> good.map(_.rows).sum * 1000.0 / good.map(_.ms).sum,
        "job_p50_ms" -> Stats.median(good.map(_.ms)),
        "setup_s" -> setupS,
        "heap_peak_mb" -> ops.map(_.heapMb).max) ++ w.endToEnd(good)
      else {
        val tr = passed(timed.collect { case (true, o) => o })
        val untr = passed(timed.collect { case (false, o) => o })
        val generic = Seq("spark.tasks", "spark.stages",
          "spark.shuffle_write_mb", "spark.spill_mb", "jvm.gc_ms")
          .map(k => k -> tr.map(_.layer(k)).sum / tr.size).toMap
        val trP50 = Stats.median(tr.map(_.ms))
        val overhead = (trP50 / Stats.median(untr.map(_.ms)) - 1) * 100
        generic ++ w.layers(tr) ++
          Map("trace.op_p50_ms" -> trP50, "trace.overhead_pct" -> overhead)
      }
    val unknown = metrics.keySet -- Units.keySet
    require(unknown.isEmpty, s"metrics without a declared unit: $unknown")
    val correct = failed == 0
    val result = Map(
      "correct" -> correct, "attempted" -> all.size, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> Units(k)) })
    val artifact = Map(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> trace,
      "cores" -> cores, "seconds" -> seconds, "window_s" -> windowS,
      "setup_s" -> setupS, "session_s" -> sessionS, "calibration_pre" -> calibPre,
      "calibration_post" -> calibPost, "result" -> result,
      "warmup" -> warm.result().map(opJson), "ops" -> timed.map { case (t, o) =>
        opJson(o) + ("traced" -> t) },
      "details" -> w.details)
    Files.write(Paths.get(opt("artifact")), Json(artifact).getBytes("UTF-8"))
    Files.write(Paths.get(opt("result")), Json(result).getBytes("UTF-8"))
    spark.stop()
  }

  private def opJson(o: Op): Map[String, Any] = Map("at_s" -> o.at,
    "ms" -> o.ms, "heap_mb" -> o.heapMb,
    "rows" -> o.rows, "ok" -> o.ok, "samples" -> o.samples,
    "layer" -> o.layer, "note" -> o.note)
}
