package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.SparkifyJob
import graft.sources.Readers

/** The paper's job: song + log JSON -> five-table star schema, one
  * `SparkifyJob.run` with its five parquet sinks per op, each op into a
  * fresh output root. Checks every sink's row count against the counts
  * the generator derived from its formulas. */
final class SparkifyEtl(ctx: Ctx) extends Workload {
  import ctx.spark

  private val sets = ctx.truth.get("sets")
  private val sinks = Seq("songs", "artists", "users", "time", "songplays")
  private val warmPlan = Seq.fill(3)("main")
  val warmOps = warmPlan.size
  val minOps = 2
  override val cleanerWaitMs = 250

  // traced ops learn each sink's wall time and the prefix-fill count from
  // the SQL execution listener, keyed by the sink's output directory
  private val spans = new ConcurrentHashMap[String, Double]()
  if (ctx.counters.isDefined) spark.listenerManager.register(
    new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution,
          ns: Long): Unit = {
        val plan = qe.logical.toString
        val sink = sinks.find(s => plan.contains(s"/$s,") ||
          plan.contains(s"/$s]") || plan.contains(s"/$s "))
        val key = if (name == "count") Some("prefix")
          else sink.filter(_ => name != "collect")
        key.foreach(k => spans.merge(k, ns / 1e6, (a, b) => a + b))
      }
      override def onFailure(name: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })

  private var opSeq = 0

  private def runJob(set: String, traced: Boolean): Op = {
    val in = s"${ctx.inputs}/$set"
    val out = s"${ctx.work}/out/op-$opSeq"
    opSeq += 1
    val truth = sets.get(set)
    val layer = Map.newBuilder[String, Double]
    if (traced) {
      // the scan on its own: every column of both JSON inputs parsed
      val t = System.nanoTime()
      Seq(Readers.logData(spark, s"$in/log-data"),
          Readers.songData(spark, s"$in/song-data"))
        .foreach(_.write.format("noop").mode("overwrite").save())
      layer += "readers.json_scan_ms" -> (System.nanoTime() - t) / 1e6
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spans.clear()
    }
    val t0 = System.nanoTime()
    SparkifyJob.run(spark, s"$in/song-data", s"$in/log-data", Some(out))
    val ms = (System.nanoTime() - t0) / 1e6
    val sp = if (!traced) Map.empty[String, Double] else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spans.asScala.toMap
    }

    val persistedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    val expect = truth.get("expect")
    val got = sinks.map(s => s -> spark.read.parquet(s"$out/$s").count())
    val bad = got.filter { case (s, n) => n != expect.get(s).asLong }
    val tree = Tree.of(out)
    val inBytes = truth.get("input_bytes").asDouble
    if (traced) {
      layer += "etl.prefix_ms" -> sp.getOrElse("prefix", 0.0)
      sinks.foreach(s => layer += s"etl.sink_ms.$s" -> sp.getOrElse(s, 0.0))
      layer ++= Seq("caches.persisted_mb" -> persistedMb,
        "spark.output_files" -> tree.files.toDouble,
        "spark.output_mb" -> tree.bytes / 1048576.0)
    }
    Tree.delete(out)
    if (bad.nonEmpty) ctx.log(s"sink counts off: $bad vs $expect")
    Op(ms, truth.get("input_rows").asLong, bad.isEmpty,
      samples = Map("stored_ratio" -> Seq(tree.bytes / inBytes),
        "persisted_mb" -> Seq(persistedMb)),
      layer = layer.result())
  }

  def warm(i: Int): Op = runJob(warmPlan(i),
    traced = false)
  def op(i: Int, traced: Boolean): Op = runJob("main", traced)

  override def between(): Unit = graft.Caches.clearAll(spark)

  def endToEnd(ops: Seq[Op]): Map[String, Double] = Map(
    "stored_bytes_per_input_byte" ->
      Stats.median(ops.map(_.samples("stored_ratio").head)))

  def layers(traced: Seq[Op]): Map[String, Double] =
    traced.flatMap(_.layer.keys).distinct.filterNot(Main.Generic)
      .map(k => k -> Stats.median(traced.map(_.layer(k)))).toMap

  override def details: Map[String, Any] = Map(
    "sets" -> sets.toString,
    "storage_memory_mb" -> spark.sparkContext.getExecutorMemoryStatus
      .values.map(_._1).sum / 1048576.0)
}
