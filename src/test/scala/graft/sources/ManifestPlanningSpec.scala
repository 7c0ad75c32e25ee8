package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import LogKit.ReplayMaps

/** Planning a manifest-table read is metadata work on the driver. The
  * schema of a table without a declared schema comes from one footer
  * read in place ([[ManifestFileIndex.footerSchema]]); these tests pin
  * that it is the schema Spark's own `inferSchema` computes for the
  * same file, under the session's parquet settings, and that building
  * the read launches no Spark job. */
class ManifestPlanningSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def newDir(tag: String): String = graft.TempDirs.deleteOnExit(
    Files.createTempDirectory(tag)).toString

  private def status(abs: String): FileStatus = {
    val p = new Path(new java.io.File(abs).toURI)
    p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
  }

  /** The footer schema of `abs`, asserted equal (types, nullability,
    * metadata) to what `ParquetFileFormat.inferSchema` infers. */
  private def sameAsInferred(abs: String): StructType = {
    val st = status(abs)
    val footer = ManifestFileIndex.footerSchema(spark, st)
    val inferred = new ParquetFileFormat()
      .inferSchema(spark, Map.empty[String, String], Seq(st)).get
    assert(footer == inferred, s"footer schema differs at $abs")
    footer
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("footer schema equals inferSchema for every column type the " +
      "single-pass writer writes") {
    val root = newDir("graft_plan_types")
    val id = col("id")
    val df = spark.range(5).select(
      id.as("l"),
      id.cast("int").as("i"),
      (id / 3).as("d"),
      id.cast("string").as("s"),
      (id % 2 === 0).as("b"),
      timestamp_micros(id * 1000003L).as("ts"),
      date_from_unix_date(id.cast("int")).as("dt"),
      (id / 7).cast("decimal(18,4)").as("dec18"),
      (id / 7).cast("decimal(9,2)").as("dec9"),
      array(id, id + 1).as("al"),
      array(id.cast("float")).as("af"),
      array(id.cast("string")).as("as"),
      array(struct(id.as("a"), id.cast("string").as("z"))).as("aos"),
      struct(id.as("x"), (id / 2).as("y")).as("st"))
      .coalesce(1)
    val written = SinglePassWriter.writeFiles(df, root, "data/t")
    assert(written.size == 1)
    val schema = sameAsInferred(
      ManifestLog.resolvePath(root, written.head.rel).getAbsolutePath)
    assert(schema.fieldNames.toSeq == df.schema.fieldNames.toSeq)
    assert(schema("ts").dataType == TimestampType)
    assert(schema("dt").dataType == DateType)
    assert(schema("dec18").dataType == DecimalType(18, 4))
    assert(schema("al").dataType == ArrayType(LongType))
    assert(schema("aos").dataType.isInstanceOf[ArrayType])
  }

  test("footer schema equals inferSchema for a Spark-written " +
      "TIMESTAMP_NTZ file, with NTZ inference on and off") {
    val dir = newDir("graft_plan_ntz") + "/t"
    spark.range(3).select(col("id"),
      timestamp_micros(col("id")).cast(TimestampNTZType).as("ts"))
      .coalesce(1).write.parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    assert(sameAsInferred(file)("ts").dataType == TimestampNTZType)
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
      sameAsInferred(file)
    }
  }

  test("footer schema equals inferSchema for a TIMESTAMP(NANOS) file " +
      s"read under ${Readers.NanosAsLongKey}") {
    val file = newDir("graft_plan_nanos") + "/events.parquet"
    DualGenerationSpec.writeNanosFile(file)
    withConf(Readers.NanosAsLongKey, "true") {
      assert(sameAsInferred(file)("ts").dataType == LongType)
    }
  }

  private def jobsWhile(build: => DataFrame): (DataFrame, Int) =
    GraftListenerBus.jobsWhile(spark.sparkContext)(build)

  test("planning readVersionPoint and readVersion on a table without " +
      "a declared schema launches no Spark job") {
    val root = newDir("graft_plan_jobs")
    (0 until 3).foreach { b =>
      ManifestLog.appendChecked(spark,
        spark.range(b * 10L, b * 10L + 10L).toDF("id").coalesce(1),
        root, s"data/b$b", statsCols = Seq("id"), bloomCol = Some("id"))
    }
    val v = ManifestLog.latestVersion(root).get
    assert(ManifestLog.snapshot(root, v).declaredSchema.isEmpty)
    val (point, pointJobs) =
      jobsWhile(ManifestLog.readVersionPoint(spark, root, v, "id", 15L))
    val (full, fullJobs) = jobsWhile(ManifestLog.readVersion(spark, root, v))
    assert(pointJobs == 0, "readVersionPoint planning launched a job")
    assert(fullJobs == 0, "readVersion planning launched a job")
    // the planned frames still read the table
    assert(point.filter(col("id") === 15L).collect().map(_.getLong(0))
      .toSeq == Seq(15L))
    assert(full.count() == 30L)
  }
  test("planning readChanges over three appends without a declared " +
      "schema launches no Spark job, and its rows are the appends'") {
    val root = newDir("graft_plan_changes")
    (0 until 3).foreach { b =>
      ManifestLog.appendChecked(spark,
        spark.range(b * 10L, b * 10L + 4L).toDF("id").coalesce(1),
        root, s"data/b$b", statsCols = Seq("id"))
    }
    val v = ManifestLog.latestVersion(root).get
    assert(ManifestLog.snapshot(root, v).declaredSchema.isEmpty)
    val (changes, jobs) =
      jobsWhile(ManifestLog.readChanges(spark, root, -1, v))
    assert(jobs == 0, s"readChanges planning launched $jobs jobs")
    assert(changes.columns.toSeq == Seq("_commit_version", "id"))
    val versions = ManifestLog.versions(root).sorted
    assert(changes.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq == (0 until 3).flatMap(b =>
        (b * 10L until b * 10L + 4L).map(id => (versions(b), id))))
  }

  test("readChanges across an additive evolution plans every version " +
      "under the newest declared schema: older rows read NULL") {
    import spark.implicits._
    val root = newDir("graft_plan_changes_evo")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/data/v0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, "write", schemaDdl = Some("k BIGINT, v BIGINT"))
    Seq((3L, 30L, 300L)).toDF("k", "v", "w")
      .coalesce(1).write.parquet(s"$root/data/v1")
    LogKit.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
      Seq.empty, "evolve", schemaDdl = Some("k BIGINT, v BIGINT, w BIGINT"))
    val (changes, jobs) =
      jobsWhile(ManifestLog.readChanges(spark, root, -1, 1))
    assert(jobs == 0)
    assert(changes.columns.toSeq == Seq("_commit_version", "k", "v", "w"))
    assert(changes.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .sortBy(_._2).toSeq ==
      Seq((0L, 1L, 10L, -1L), (0L, 2L, 20L, -1L), (1L, 3L, 30L, 300L)))
  }
}
