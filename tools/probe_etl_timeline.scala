// ETL TIMELINE probe: runs `SparkifyJob.run` op after op on one input
// set, in the session shape of perfbench's sparkify_etl workload, and
// prints per op the wall time, the job and stage timeline, the stage,
// task and shuffle-write totals a SparkListener saw, and what the op
// left pinned: the MB the block manager still holds for cached RDDs and
// the number of persistent RDDs (both 0 when the job released its
// prefix). After the last op it prints one digest per sink (row count
// plus the sum of xxhash64 over every column except `songplay_id`,
// columns by name), so two trees' outputs can be compared line by line,
// and the file layout of each sink (files, directories, most files in
// one directory, MB).
//
// Input: a sparkify_etl input set as perfbench generates it (the
// directory holding `song-data/` and `log-data/`), in PROBE_IN:
//   PROBE_IN=perfbench/.work/inputs/sparkify_etl/seed-1-<tag>/main
// or, instead, a TPC-H-style scale directory in PROBE_SF, from whose
// events table the `etl_sparkify_full` input is synthesized
// (`SparkifyBenchInput`). Optional PROBE_OPS (default 4); the first op
// warms the JVM.
//
// Run (classes must be compiled; `local[3]` and 3 shuffle partitions
// match perfbench's `--cores nproc-1` on a 4-core host):
//   sbt -batch compile
//   PROBE_IN=... SPARK_SUBMIT_OPTS="-Dfile.encoding=UTF-8" \
//     /opt/spark/bin/spark-shell --master "local[3]" \
//     --driver-memory 2g --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false --conf spark.sql.session.timeZone=UTC \
//     --conf spark.sql.shuffle.partitions=3 \
//     --conf spark.sql.adaptive.enabled=true \
//     --conf spark.sql.legacy.parquet.nanosAsLong=true \
//     --conf spark.hadoop.fs.file.impl=graft.sources.NioLocalFs \
//     -i tools/probe_etl_timeline.scala
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.etl.SparkifyJob

val (songIn, logIn) = sys.env.get("PROBE_SF").fold {
  val in = sys.env("PROBE_IN")
  (s"$in/song-data", s"$in/log-data")
}(graft.etl.SparkifyBenchInput.prepare(spark, _))
val nOps = sys.env.getOrElse("PROBE_OPS", "4").toInt
val out = java.nio.file.Files.createTempDirectory("graft_etl_probe").toString

final case class Job(id: Int, startMs: Long, stages: Seq[Int], exec: Long)
final case class Stage(id: Int, name: String, tasks: Int, submitMs: Long,
    endMs: Long, shuffleWrite: Long)
val jobs = new ConcurrentLinkedQueue[Job]()
val jobEnd = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
val stages = new ConcurrentLinkedQueue[Stage]()
// a job is labelled by the SQL execution that launched it (its root, for
// the sub-executions adaptive planning starts), e.g. "parquet at ..."
val execs = new java.util.concurrent.ConcurrentHashMap[Long, String]()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      execs.put(x.executionId, x.description)
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p =>
      Option(p.getProperty(k))).map(_.toLong)
    jobs.add(Job(e.jobId, e.time, e.stageIds,
      prop("spark.sql.execution.root.id")
        .orElse(prop("spark.sql.execution.id")).getOrElse(-1L)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnd.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Stage(i.stageId, i.name, i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.taskMetrics.shuffleWriteMetrics.bytesWritten))
  }
})

(1 to nOps).foreach { op =>
  graft.Caches.clearAll(spark)
  System.gc()
  jobs.clear(); jobEnd.clear(); stages.clear()
  val t0 = System.currentTimeMillis()
  SparkifyJob.run(spark, songIn, logIn, Some(out))
  val ms = System.currentTimeMillis() - t0
  Thread.sleep(500) // let the listener bus drain
  val st = stages.asScala.toSeq.sortBy(_.submitMs)
  val heldMb = spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum / 1048576.0
  println(f"PROBE op $op: $ms ms, ${st.size} stages, " +
    f"${st.map(_.tasks).sum} tasks, shuffle write " +
    f"${st.map(_.shuffleWrite).sum / 1048576.0}%.2f MB, held " +
    f"$heldMb%.2f MB in ${spark.sparkContext.getPersistentRDDs.size} " +
    "persistent RDDs")
  jobs.asScala.toSeq.sortBy(_.startMs).foreach { j =>
    val end = Option(jobEnd.get(j.id)).map(_ - t0).getOrElse(-1L)
    val done = st.filter(s => j.stages.contains(s.id))
    println(f"PROBE   job ${j.id}%4d  ${j.startMs - t0}%6d -> $end%6d ms  " +
      f"${done.size} stages ${done.map(_.tasks).sum}%3d tasks  " +
      Option(execs.get(j.exec)).getOrElse("-"))
    done.foreach { s =>
      println(f"PROBE     stage ${s.id}%4d  ${s.submitMs - t0}%6d -> " +
        f"${s.endMs - t0}%6d ms  ${s.tasks}%3d tasks  " +
        f"${s.shuffleWrite / 1048576.0}%6.2f MB  ${s.name}")
    }
  }
}

Seq("songs", "artists", "users", "time", "songplays").foreach { sink =>
  val df = spark.read.parquet(s"$out/$sink")
  val cols = df.columns.filterNot(_ == "songplay_id").sorted.map(col)
  val r = df.agg(count(lit(1)),
    sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head
  println(s"PROBE digest $sink rows=${r.getLong(0)} xxhash64_sum=${r.get(1)}")
  val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out, sink))
    .iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
    .toSeq
  val perDir = files.groupBy(_.getParent).values.map(_.size)
  println(f"PROBE layout $sink files=${files.size} dirs=${perDir.size} " +
    f"max_per_dir=${perDir.max} " +
    f"mb=${files.map(java.nio.file.Files.size).sum / 1048576.0}%.2f")
}
graft.Caches.clearAll(spark)
System.exit(0)
