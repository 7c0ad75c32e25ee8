package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import LogKit.ReplayMaps

/** The manifest-log FORMAT FLOOR: a log written at the floor resolves
  * exactly (a checked-in table written by the build that set the
  * floor), and every shape older than the floor is refused loudly —
  * naming the file and the floor — on every path that reads it, never
  * read under a guess. */
class ManifestFormatFloorSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def freshRoot(): String = graft.TempDirs.deleteOnExit(
    Files.createTempDirectory("graft_floor")).toString

  private def name(v: Long) = f"$v%020d.json"
  private def ckpt(v: Long) = f"$v%020d.checkpoint.json"
  private def meta(v: Long) = f"$v%020d.checkpoint.meta.json"

  /** Replace one log file's content (publish is create-if-absent). */
  private def rewrite(store: LogStore, file: String)(
      f: String => String): Unit = {
    val json = store.read(file)
    store.delete(file)
    assert(store.publish(file, f(json)))
  }

  /** `body` fails loudly, naming `file` and the floor — also when the
    * refusal crossed a Spark task boundary. */
  private def refused(file: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString("\n")
    assert(msgs.contains("format floor") && msgs.contains(file),
      s"expected a floor refusal naming $file, got: $msgs")
  }

  /** v0 and v1 appends, each with a long bloom and a commit stamp,
    * plus a declared CHECK so the commit gate has work to do. */
  private def table(): (String, LogStore) = {
    import ManifestLog.{BloomRef, FileStat}
    val root = freshRoot()
    val store = ManifestLog.storeFor(root)
    (0L to 1L).foreach { v =>
      val f = s"data/v$v.parquet"
      LogKit.commitIn(store, v, Seq(f), Seq.empty, "append",
        colStats = Map(f -> Map("k" -> FileStat(0, 9))),
        blooms = Map(f -> Map("k" -> BloomRef("k", s"$f.bloom", 64, 4))),
        checks = if (v == 0) Some(Seq("k_nonneg" -> "k >= 0")) else None,
        commitMs = Some(1000L * (v + 1)))
    }
    (root, store)
  }

  /** Every entry point that reads manifest `v` or its checkpoint. */
  private def readers(root: String, store: LogStore,
      v: Long): Seq[(String, () => Any)] = Seq(
    "snapshot" -> (() => ManifestLog.snapshot(root, v)),
    "commit gate" -> (() => LogKit.commitIn(store, v + 1,
      Seq("data/next.parquet"), Seq.empty, "append",
      colStats = Map("data/next.parquet" ->
        Map("k" -> ManifestLog.FileStat(0, 9))))),
    "latest snapshot" -> (() => ManifestLog.latestSnapshot(root)
      .flatMap(_.txns.get("app"))),
    "timestamp" -> (() => ManifestLog.versionAtTimestamp(root, 5000L)),
    "vacuum" -> (() => ManifestLog.vacuum(root, dryRun = true)),
    "dvs-ever" -> (() => ManifestLog.dvsEverThrough(store, v)))

  private def refusedEverywhere(root: String, store: LogStore, v: Long,
      file: String, extra: Seq[(String, () => Any)] = Seq.empty): Unit =
    (readers(root, store, v) ++ extra).foreach { case (what, read) =>
      withClue(s"[$what] ")(refused(file)(read()))
    }

  test("a table written at the floor (checked in) resolves to the " +
      "files, DVs, blooms, stats, txns, schema, checks and rows its " +
      "writer reported, at every resolvable version") {
    val src = Paths.get(getClass.getResource(
      "/manifest_floor_fixture/table").toURI)
    val root = Paths.get(freshRoot())
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = root.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    }
    val want = new String(Files.readAllBytes(Paths.get(getClass
      .getResource("/manifest_floor_fixture/parent_report.txt").toURI)),
      "UTF-8").linesIterator.toSeq
    assert(report(root.toString) == want)
    // the commit gate reads the floor-era meta sibling: the fixture's
    // CHECK amount >= 0 still refuses an add its stats cannot prove
    val store = ManifestLog.storeFor(root.toString)
    def add(min: Long) = LogKit.commitIn(store, 6,
      Seq("data/d.parquet"), Seq.empty, "append", colStats = Map(
        "data/d.parquet" -> Map("amount" -> ManifestLog.FileStat(min, 9))))
    intercept[IllegalArgumentException](add(-1))
    add(0)
    // the string blooms prune every file that has one (no row holds
    // tag "zz"); the last file's bloom is on `id`, so it is must-read
    assert(ManifestLog.filesMatchingStrPoint(root.toString,
      ManifestLog.snapshot(root.toString, 5), "tag", "zz") ==
      Seq("data/c/part-00000-6bda050d.parquet"))
  }

  /** One line per resolved fact (the format `tools/make_floor_fixture
    * .scala` wrote the checked-in report in). */
  private def report(root: String): Seq[String] = {
    val store = ManifestLog.storeFor(root)
    val vs = (ManifestLog.versions(root) ++
      ManifestLog.checkpointVersions(root)).distinct.sorted
    vs.flatMap { v =>
      val r = ManifestLog.snapshot(root, v)
      def sorted[A](m: Map[String, A]) = m.toSeq.sortBy(_._1)
      Seq(s"version $v") ++
        r.files.map(f => s"file $f") ++
        sorted(r.dvs).map { case (f, d) =>
          s"dv $f ${d.sidecar} ${d.nDeleted}" } ++
        sorted(r.blooms).flatMap { case (f, bs) => sorted(bs).map {
          case (c, b) => s"bloom $f $c ${b.sidecar} ${b.m} ${b.k} ${b.str}" } } ++
        sorted(r.colStats).flatMap { case (f, cs) => sorted(cs).map {
          case (c, s) => s"colstat $f $c ${s.min} ${s.max} ${s.dbl}" } } ++
        sorted(r.nullStats).flatMap { case (f, ns) => sorted(ns).map {
          case (c, s) => s"nullstat $f $c ${s.nulls} ${s.rows}" } } ++
        sorted(r.txns).map { case (a, b) => s"txn $a $b" } ++
        r.schemaDdl.map(d => s"schema $d") ++
        sorted(r.checks).map { case (n, e) => s"check $n $e" } ++
        Seq(s"dvsever ${ManifestLog.dvsEverThrough(store, v)}") ++
        ManifestLog.readVersion(spark, root, v).collect()
          .map(_.mkString(",")).sorted.map(x => s"row $x")
    } :+ s"at ${ManifestLog.versionAtTimestamp(root, 1700000003500L)}"
  }

  test("a manifest without the fmt tag (pre-fmt, untyped blooms) is " +
      "refused by every reader: snapshot, commit gate, timestamp, " +
      "vacuum, dvs-ever probe, change feeds, checkpoint writer") {
    val (root, store) = table()
    rewrite(store, name(1))(_.replace("\"fmt\":[\"2\"],", ""))
    refusedEverywhere(root, store, 1, name(1), Seq(
      "change feed" -> (() => LogKit.changesBetween(root, 0, 1)),
      "cdc planning" -> (() => ManifestLog.changeRangeIn(store, 0, 1)),
      "checkpoint" -> (() => ManifestLog.writeCheckpoint(root, 1))))
  }

  test("a legacy-untyped (|l) bloom ref is refused by every reader, " +
      "even in an fmt-2 manifest — its key type is unknowable") {
    val (root, store) = table()
    rewrite(store, name(1))(
      _.replace("data/v1.parquet.bloom|64|4", "data/v1.parquet.bloom|64|4|l"))
    assert(store.read(name(1)).contains("|64|4|l\""))
    refusedEverywhere(root, store, 1, name(1), Seq(
      "change feed" -> (() => LogKit.changesBetween(root, 0, 1)),
      "checkpoint" -> (() => ManifestLog.writeCheckpoint(root, 1))))
  }

  test("an all-JSON checkpoint (no pq marker, no columnar sidecar) is " +
      "refused by every reader, the commit gate's meta-sibling read " +
      "included") {
    val (root, store) = table()
    ManifestLog.writeCheckpointIn(store, 1)
    // the all-JSON layout: per-file state inline, no sidecar; the
    // meta sibling is byte-identical to a columnar checkpoint's
    store.delete(f"${1L}%020d.checkpoint.parquet")
    store.delete(ckpt(1))
    store.publish(ckpt(1),
      """{"version":1,"fmt":["2"],"files":["data/v0.parquet",""" +
        """"data/v1.parquet"],"stats":[],"colstats":[""" +
        """"data/v0.parquet|k|0|9","data/v1.parquet|k|0|9"],""" +
        """"blooms":["data/v0.parquet|k|data/v0.parquet.bloom|64|4",""" +
        """"data/v1.parquet|k|data/v1.parquet.bloom|64|4"],""" +
        """"txns":[],"dvs":[],"schema":[],"checks":["k_nonneg|ayA+PSAw"],""" +
        """"at":["2000"],"strstats":[],"nullstats":[],"dvsever":["0"]}""")
    (0L to 1L).foreach(v => store.delete(name(v)))
    refusedEverywhere(root, store, 1, ckpt(1))
  }

  test("a checkpoint without the dvs-ever bit is refused — through the " +
      "checkpoint JSON, through its meta sibling, and through the " +
      "checkpoint when the sibling never landed") {
    val (root, store) = table()
    ManifestLog.writeCheckpointIn(store, 1)
    (0L to 1L).foreach(v => store.delete(name(v)))
    Seq(ckpt(1), meta(1)).foreach(f =>
      rewrite(store, f)(_.replace(",\"dvsever\":[\"0\"]", "")))
    refusedEverywhere(root, store, 1, f"${1L}%020d.checkpoint")
    // only the sibling lacks it: the metadata readers refuse it
    val (root2, store2) = table()
    ManifestLog.writeCheckpointIn(store2, 1)
    rewrite(store2, meta(1))(_.replace(",\"dvsever\":[\"0\"]", ""))
    Seq[() => Any](
      () => LogKit.commitIn(store2, 2, Seq("data/n.parquet"),
        Seq.empty, "append", colStats = Map("data/n.parquet" ->
          Map("k" -> ManifestLog.FileStat(0, 9)))),
      () => ManifestLog.dvsEverThrough(store2, 1))
      .foreach(read => refused(meta(1))(read()))
    // the crash window: no sibling, a bitless checkpoint
    val (root3, store3) = table()
    ManifestLog.writeCheckpointIn(store3, 1)
    store3.delete(meta(1))
    (0L to 1L).foreach(v => store3.delete(name(v)))
    rewrite(store3, ckpt(1))(_.replace(",\"dvsever\":[\"0\"]", ""))
    refusedEverywhere(root3, store3, 1, ckpt(1))
  }

  test("a v1 deletion-vector sidecar (raw longs, no format tag) is " +
      "refused by every read that decodes it: the MOR read, the " +
      "change-image feed and a follow-up MOR delete") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = freshRoot()
    (1L to 8L).map(i => (i, i * 10)).toDF("id", "amount").coalesce(1)
      .write.parquet(s"$root/data/v0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, "write")
    val dv = ManifestLog.deleteWhereMor(spark, root, 0, 1,
      col("id") === 3L).head._2.sidecar
    // the same dead row in the v1 layout: 8-byte big-endian longs
    Files.write(Paths.get(root, dv),
      java.nio.ByteBuffer.allocate(8).putLong(2L).array())
    Seq[(String, () => Any)](
      "MOR read" -> (() => ManifestLog.readVersion(spark, root, 1).count()),
      "change images" -> (() => ManifestLog.readChangeImages(spark, root,
        0, 1, Seq("id")).count()),
      "MOR delete" -> (() => ManifestLog.deleteWhereMor(spark, root, 1, 2,
        col("id") === 4L)))
      .foreach { case (what, read) => withClue(s"[$what] ")(refused(dv)(read())) }
  }
}
