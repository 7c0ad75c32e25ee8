// FORMAT-FLOOR FIXTURE: writes the small table checked in under
// src/test/resources/manifest_floor_fixture/ and the report of what
// the writing build resolves it to. The checked-in copy was written by
// the build that defined the floor, so ManifestFloorFixtureSpec proves
// later builds still resolve a floor-era log exactly.
//
// The table holds: a declared schema and one CHECK (v0), a guarded
// append with a STRING (`|s`) bloom and stats (v1), a txn marker (v2,
// checkpoint), a merge-on-read delete with a v2 DV sidecar (v3), a
// second append (v4, checkpoint; manifests <= 2 pruned) and a tail
// append with a LONG bloom (v5). Resolvable versions: 2..5.
//
// Run (classes compiled; writes only under FIXTURE_DIR):
//   FIXTURE_DIR=/tmp/floor SPARK_SUBMIT_OPTS="-Dfile.encoding=UTF-8" \
//     "$SPARK_HOME"/bin/spark-shell --master "local[2]" \
//     --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false --conf spark.sql.session.timeZone=UTC \
//     -i tools/make_floor_fixture.scala
// then copy $FIXTURE_DIR/table and $FIXTURE_DIR/report.txt into the
// resource directory. The report format is the one the spec computes.
import graft.sources.ManifestLog
import org.apache.spark.sql.functions.col
import spark.implicits._

val dir = sys.env("FIXTURE_DIR")
val root = s"$dir/table"
val policy = Some(ManifestLog.CheckpointPolicy(every = 2))
def rows(ids: Range) =
  ids.map(i => (i.toLong, s"t${i % 3}", i * 10L)).toDF("id", "tag", "amount")
def at(v: Long) = Some(1700000000000L + v * 1000L)

ManifestLog.commit(root, 0, ManifestLog.Commit("init",
  schemaDdl = Some("id BIGINT, tag STRING, amount BIGINT"),
  checks = Some(Seq("amount_nonneg" -> "amount >= 0")), commitMs = at(0)))
ManifestLog.appendChecked(spark, rows(1 to 8).repartition(2, col("id")),
  root, "data/a", statsCols = Seq("id", "amount"), bloomCol = Some("tag"),
  policy = policy, commitMs = at(1))
ManifestLog.commit(root, 2, ManifestLog.Commit("txn",
  txn = Some(("fixture_app", 7L)), commitMs = at(2)), policy)
ManifestLog.deleteWhereMor(spark, root, 2, 3, col("id") === 3L,
  policy = policy)
ManifestLog.appendChecked(spark, rows(9 to 12).coalesce(1), root, "data/b",
  statsCols = Seq("id", "amount"), bloomCol = Some("tag"), policy = policy,
  commitMs = at(4))
ManifestLog.appendChecked(spark, rows(13 to 14).coalesce(1), root,
  "data/c", statsCols = Seq("id", "amount"), bloomCol = Some("id"),
  policy = policy, commitMs = at(5))

// one line per resolved fact, every resolvable version
def report(root: String): Seq[String] = {
  val store = ManifestLog.storeFor(root)
  val vs = (ManifestLog.versions(root) ++
    ManifestLog.checkpointVersions(root)).distinct.sorted
  vs.flatMap { v =>
    val r = ManifestLog.snapshot(root, v)
    def sorted[A](m: scala.collection.Map[String, A]) = m.toSeq.sortBy(_._1)
    def per[A](f: ManifestLog.AddFile => Map[String, A]) =
      sorted(r.live).flatMap { case (p, a) => sorted(f(a)).map(p -> _) }
    Seq(s"version $v") ++
      r.files.map(f => s"file $f") ++
      sorted(r.live).flatMap { case (f, a) => a.dv.map(d =>
        s"dv $f ${d.sidecar} ${d.nDeleted}") } ++
      per(_.blooms).map { case (f, (c, b)) =>
        s"bloom $f $c ${b.sidecar} ${b.m} ${b.k} ${b.str}" } ++
      per(_.colStats).map { case (f, (c, s)) =>
        s"colstat $f $c ${s.min} ${s.max} ${s.dbl}" } ++
      per(_.nullStats).map { case (f, (c, s)) =>
        s"nullstat $f $c ${s.nulls} ${s.rows}" } ++
      sorted(r.txns).map { case (a, b) => s"txn $a $b" } ++
      r.schemaDdl.map(d => s"schema $d") ++
      sorted(r.checks).map { case (n, e) => s"check $n $e" } ++
      Seq(s"dvsever ${ManifestLog.dvsEverThrough(store, v)}") ++
      ManifestLog.readVersion(spark, root, v).collect()
        .map(_.mkString(",")).sorted.map(x => s"row $x")
  } :+ s"at ${ManifestLog.versionAtTimestamp(root, 1700000003500L)}"
}

java.nio.file.Files.write(java.nio.file.Paths.get(dir, "report.txt"),
  (report(root).mkString("\n") + "\n").getBytes("UTF-8"))
System.exit(0)
