package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the run artifact and the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def read(p: Path): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(p.toFile)
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty series")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Spark counters from a listener the benchmark registers: totals since
  * registration, read as deltas around an op after the bus has drained.
  * `spark.job_ms` sums job wall times (start to end event). */
class SparkCounters extends SparkListener {
  @volatile var tasks = 0L
  @volatile var stages = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var jobMs = 0L
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val t0 = jobStart.remove(e.jobId)
    jobMs += e.time - t0
  }

  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(Map(
      "spark.tasks" -> tasks.toDouble, "spark.stages" -> stages.toDouble,
      "spark.shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
      "spark.spill_mb" -> spillBytes / 1048576.0,
      "spark.job_ms" -> jobMs.toDouble))
  }
}

/** JVM memory and GC readings from the platform MXBeans. */
object Jvm {
  /** Heap in use right after a full collection: the op's live set. With
    * `cleanerWaitMs` > 0 a first collection lets Spark's context cleaner
    * drop the op's unreachable broadcasts and shuffles, and a second one
    * frees what it dropped. */
  def heapAfterGcMb(cleanerWaitMs: Int): Double = {
    if (cleanerWaitMs > 0) { System.gc(); Thread.sleep(cleanerWaitMs) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum.toDouble
}

/** Files and bytes under a directory, split by the table-format role. */
final case class Tree(files: Long, bytes: Long, logBytes: Long,
    checkpoints: Long)

object Tree {
  def of(root: String): Tree = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Tree(0, 0, 0, 0)
    var files, bytes, logBytes, ckpts = 0L
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val n = Files.size(f)
      val rel = p.relativize(f).toString
      files += 1; bytes += n
      if (rel.startsWith("_log")) {
        logBytes += n
        if (rel.contains(".checkpoint.")) ckpts += 1
      }
    } finally s.close()
    Tree(files, bytes, logBytes, ckpts)
  }

  def delete(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}

/** Fixed-work machine probes, taken before and after the measured ops and
  * kept in the run artifact only: if op times and these move together the
  * machine moved, if only the op times move the code did. */
object Calibration {
  def run(spark: SparkSession, cores: Int, dir: String): Map[String, Double] = {
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    var sink = 0L
    val cpu = time {
      var acc = 1L; var i = 0L
      while (i < 200000000L) { acc = acc * 6364136223846793005L + i; i += 1 }
      sink = acc
    }
    val d = Files.createDirectories(Paths.get(dir, "calib"))
    val fsync = time {
      (0 until 100).foreach { i =>
        val ch = java.nio.channels.FileChannel.open(d.resolve(s"f$i"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try { ch.write(java.nio.ByteBuffer.wrap(Array[Byte](1))); ch.force(true) }
        finally ch.close()
      }
      (0 until 100).foreach(i => Files.delete(d.resolve(s"f$i")))
    }
    val sched = time(spark.range(0L, 1000L * cores, 1L, cores).count())
    if (sink == 42L) System.err.println("calibration sink")
    Map("cpu_spin_ms" -> cpu, "fsync100_ms" -> fsync, "sched_job_ms" -> sched)
  }
}
