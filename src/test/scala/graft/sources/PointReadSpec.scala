package graft.sources

import java.nio.file.Files

import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The point reads return exactly the live rows whose key equals the
  * probed value. Candidates that Spark's file planner packs into one
  * scan task decode on the calling thread (no Spark job, a local
  * relation, no input files); larger candidate sets run the
  * distributed indexed scan. Every case here runs through both paths,
  * the second forced by a split size smaller than any file, and the
  * two must return the same rows under the same schema. */
class PointReadSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def newRoot(): String = graft.TempDirs.deleteOnExit(
    Files.createTempDirectory("graft_point_read")).toString

  /** Every file is cut into several splits, so every candidate set
    * spans more than one scan task. */
  private def withSplitJob[T](body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "256")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def inProcess(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** The rows `read` returns in-process and through the job, asserted
    * identical. Under the default settings the read must be a local
    * relation with no input files; over more than one split it must be
    * the distributed scan, unless it is a `miss`, which plans no scan
    * either way. */
  private def bothPaths(read: => DataFrame, miss: Boolean = false)
      : Seq[Row] = {
    val here = read
    val job = withSplitJob(read)
    assert(inProcess(here) && here.inputFiles.isEmpty)
    assert(inProcess(job) == miss && job.inputFiles.isEmpty == miss)
    assert(here.schema == job.schema)
    val out = rows(here)
    assert(out == rows(job), "in-process and job paths differ")
    out
  }

  /** 400 rows in 4 files, every key on two adjacent rows; one table
    * per bloom column. */
  private def typedTable(bloom: String): String = {
    val root = newRoot()
    val id = col("id")
    val k = (id / 2).cast("long")
    SinglePassWriter.writeCommit(
      spark.range(400).select(id.as("row"), k.as("k"),
        k.cast("int").as("i"), date_from_unix_date(k.cast("int")).as("d"),
        timestamp_micros(k * 1000L).as("ts"),
        concat(lit("s"), k.cast("string")).as("s"))
        .repartitionByRange(4, col("row")),
      root, "data/v0", 0, statsCols = Seq("row"), bloomCol = Some(bloom))
    root
  }

  test("LONG, INT, DATE, TIMESTAMP and STRING keys: both paths return " +
      "every row of the key, and only those") {
    def keys(rs: Seq[Row]) = rs.map(_.getAs[Long]("row"))
    Seq("k", "i", "d", "ts").foreach { c =>
      val root = typedTable(c)
      val probe = if (c == "ts") 57000L else 57L
      val got = bothPaths(ManifestLog.readVersionPoint(spark, root, 0, c, probe))
      assert(keys(got) == Seq(114L, 115L), c)
      assert(got.forall(_.getAs[Long]("k") == 57L), c)
    }
    val root = typedTable("s")
    val got = bothPaths(ManifestLog.readVersionStrPoint(spark, root, 0, "s", "s57"))
    assert(keys(got) == Seq(114L, 115L))
  }

  test("a miss plans no scan; a bloom false positive returns 0 rows " +
      "from both paths") {
    val root = typedTable("k")
    val r = ManifestLog.snapshot(root, 0)
    val miss = Iterator.from(1000000).map(_.toLong)
      .find(ManifestLog.filesMatchingPoint(root, r, "k", _).isEmpty).get
    assert(bothPaths(ManifestLog.readVersionPoint(spark, root, 0, "k", miss),
      miss = true).isEmpty)
    val fp = Iterator.from(1000000).take(2000000).map(_.toLong)
      .find(ManifestLog.filesMatchingPoint(root, r, "k", _).size == 1)
      .getOrElse(fail("no bloom false positive in 2M probes"))
    assert(bothPaths(ManifestLog.readVersionPoint(spark, root, 0, "k", fp))
      .isEmpty)
  }

  test("a deletion vector drops its rows on both paths, on the table " +
      "and through a shallow clone's absolute refs") {
    val root = typedTable("k")
    ManifestLog.deleteWhereMor(spark, root, 0, 1, col("row") === 114L)
    def read(t: String, v: Long) =
      bothPaths(ManifestLog.readVersionPoint(spark, t, v, "k", 57L))
        .map(_.getAs[Long]("row"))
    assert(read(root, 1) == Seq(115L))
    assert(read(root, 0) == Seq(114L, 115L))
    val dst = newRoot()
    assert(ManifestLog.cloneShallow(root, dst, 1).forall(_.startsWith("/")))
    assert(read(dst, 0) == Seq(115L))
  }

  test("an evolved table reads a key from a file that predates a " +
      "declared column as NULL in that column, on both paths") {
    import spark.implicits._
    val root = newRoot()
    def gen(v: Long, df: DataFrame, ddl: String): Unit =
      ManifestLog.commit(root, v, ManifestLog.Commit("write",
        SinglePassWriter.addFiles(SinglePassWriter.writeFiles(df, root,
          s"data/v$v", bloomCol = Some("k")), Nil, Nil, Some("k")),
        schemaDdl = Some(ddl)))
    gen(0, Seq((1L, 10L), (2L, 20L)).toDF("k", "a").coalesce(1),
      "k BIGINT, a BIGINT")
    gen(1, Seq((3L, 30L, 3.5)).toDF("k", "a", "b").coalesce(1),
      "k BIGINT, a BIGINT, b DOUBLE")
    def read(k: Long) =
      bothPaths(ManifestLog.readVersionPoint(spark, root, 1, "k", k))
    assert(read(2L) == Seq(Row(2L, 20L, null)))
    assert(read(3L) == Seq(Row(3L, 30L, 3.5)))
  }

  test("an in-process point read launches no Spark job, built and " +
      "collected; the same read over more than one split launches one") {
    val root = typedTable("k")
    def probe(): Array[Row] =
      ManifestLog.readVersionPoint(spark, root, 0, "k", 57L)
        .filter(col("k") === 57L).collect()
    val (here, jobs) = GraftListenerBus.jobsWhile(spark.sparkContext)(probe())
    assert(here.length == 2)
    assert(jobs == 0, s"in-process point read launched $jobs jobs")
    val (_, splitJobs) =
      GraftListenerBus.jobsWhile(spark.sparkContext)(withSplitJob(probe()))
    assert(splitJobs >= 1)
  }

  test("keyed and range reads that no file admits scan nothing and " +
      "return 0 rows under the table's schema") {
    import spark.implicits._
    val root = typedTable("k")
    val keyed = ManifestLog.readVersionKeys(spark, root, 0, "k",
      Seq(5000L, 6000L).toDF("k"))
    val ranged = ManifestLog.readVersionWhereCols(spark, root, 0,
      Seq(("row", 5000L, 6000L)))
    Seq(keyed, ranged).foreach { df =>
      assert(df.inputFiles.isEmpty)
      assert(df.count() == 0L)
      assert(df.columns.toSeq == Seq("row", "k", "i", "d", "ts", "s"))
    }
  }
}
