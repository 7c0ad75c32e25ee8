// WRITER BYTE-IDENTITY FIXTURE: writes one SinglePassWriter file per
// supported column shape, with the summaries the writing build returned,
// into the layout checked in under src/test/resources/writer_fixture/.
// The checked-in copy was written by the Group-API writer (the last
// build that encoded rows through parquet's example model), so
// WriterFixtureSpec proves later writers emit the same bytes.
//
// Each case is one SQL query over a `range` with a fixed partition
// count, plus the writer's stats, bloom, string-bounds and CHECK column
// arguments. The cases go to `cases.tsv`, which the spec reads, so the
// generator and the spec share one definition. Files are renamed to
// drop the per-call token (`part-00000-<token>.parquet` becomes
// `part-00000.parquet`); summaries are written with the same
// normalisation, one `<case>\t<summary>` line per file.
//
// Run (classes compiled; writes only under FIXTURE_DIR):
//   FIXTURE_DIR=/tmp/writer_fixture SPARK_SUBMIT_OPTS="-Dfile.encoding=UTF-8" \
//     "$SPARK_HOME"/bin/spark-shell --master "local[2]" \
//     --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false --conf spark.sql.session.timeZone=UTC \
//     -i tools/make_writer_fixture.scala
// then copy the contents of $FIXTURE_DIR into the resource directory.
import java.nio.file.{Files, Paths}
import graft.sources.SinglePassWriter

val dir = sys.env("FIXTURE_DIR")

// name, SQL, stats columns, bloom column, string-stats columns, CHECK
// columns (comma-separated; "-" for none)
val cases: Seq[Seq[String]] = Seq(
  Seq("long", "SELECT id, IF(id % 7 = 3, NULL, id * 1000003 - 50000) AS k " +
    "FROM range(0, 300, 1, 1)", "k", "k", "-", "-"),
  Seq("int", "SELECT id, CAST(IF(id % 5 = 0, NULL, 1000 - id * 17) AS INT) " +
    "AS i FROM range(0, 200, 1, 1)", "i", "-", "-", "-"),
  Seq("double", "SELECT id, CASE id % 9 WHEN 0 THEN NULL " +
    "WHEN 1 THEN CAST('NaN' AS DOUBLE) WHEN 2 THEN -0.0D " +
    "WHEN 3 THEN CAST('-Infinity' AS DOUBLE) ELSE id / 7.0D - 11 END AS d " +
    "FROM range(0, 200, 1, 1)", "d", "-", "-", "-"),
  Seq("string", "SELECT id, CASE id % 6 WHEN 0 THEN NULL " +
    "WHEN 1 THEN concat('été', id) WHEN 2 THEN concat('日本', id) " +
    "WHEN 3 THEN '' WHEN 4 THEN concat('😀', id) ELSE concat('s', id) END AS s " +
    "FROM range(0, 240, 1, 1)", "-", "s", "s", "-"),
  Seq("boolean", "SELECT id, IF(id % 3 = 0, NULL, id % 2 = 0) AS b " +
    "FROM range(0, 100, 1, 1)", "-", "-", "-", "-"),
  Seq("timestamp", "SELECT id, IF(id % 8 = 0, NULL, " +
    "timestamp_micros(1600000000123456 + id * 98765432101 - 7000000000000)) " +
    "AS t FROM range(0, 200, 1, 1)", "t", "t", "-", "-"),
  Seq("date", "SELECT id, IF(id % 8 = 1, NULL, " +
    "date_add(DATE'1970-01-01', CAST(id * 97 - 9000 AS INT))) AS dt " +
    "FROM range(0, 200, 1, 1)", "dt", "dt", "-", "-"),
  Seq("decimal", "SELECT id, CAST(IF(id % 6 = 0, NULL, id * 12345.6789D - 1e6) " +
    "AS DECIMAL(18,4)) AS d18, CAST(IF(id % 4 = 1, NULL, 3.25D - id * 1.5D) " +
    "AS DECIMAL(9,2)) AS d9 FROM range(0, 200, 1, 1)", "-", "-", "-", "-"),
  Seq("array_long", "SELECT id, CAST(CASE id % 5 WHEN 0 THEN NULL " +
    "WHEN 1 THEN array() WHEN 2 THEN array(id, NULL, id * 2) " +
    "ELSE array(id) END AS ARRAY<BIGINT>) AS a FROM range(0, 100, 1, 1)",
    "-", "-", "-", "-"),
  Seq("array_float", "SELECT id, CAST(CASE id % 4 WHEN 0 THEN NULL " +
    "WHEN 1 THEN array() ELSE array(id / 3.0D, NULL, -id) END AS ARRAY<FLOAT>) " +
    "AS a FROM range(0, 100, 1, 1)", "-", "-", "-", "-"),
  Seq("array_string", "SELECT id, CAST(CASE id % 4 WHEN 0 THEN NULL " +
    "WHEN 1 THEN array() ELSE array(concat('ü', id), NULL, '') END " +
    "AS ARRAY<STRING>) AS a FROM range(0, 100, 1, 1)", "-", "-", "-", "-"),
  Seq("array_struct", "SELECT id, CAST(CASE id % 4 WHEN 0 THEN NULL " +
    "WHEN 1 THEN array() ELSE array(named_struct('a', id, 'b', concat('x', id), " +
    "'c', id / 2.0D), NULL, named_struct('a', NULL, 'b', NULL, 'c', NULL)) END " +
    "AS ARRAY<STRUCT<a: BIGINT, b: STRING, c: DOUBLE>>) AS a " +
    "FROM range(0, 100, 1, 1)", "-", "-", "-", "-"),
  Seq("struct", "SELECT id, IF(id % 6 = 0, NULL, named_struct('x', id, " +
    "'y', IF(id % 4 = 0, NULL, concat('y', id)), 'z', id % 2 = 0, " +
    "'w', CAST(id AS DOUBLE), 'f', CAST(id AS FLOAT), 'i', CAST(id AS INT))) " +
    "AS st FROM range(0, 100, 1, 1)", "-", "-", "-", "-"),
  Seq("checked", "SELECT id, id * 3 - 100 AS v, IF(id % 10 = 0, NULL, " +
    "id * 3 - 100 < 0) AS v_neg, IF(id % 2 = 0, NULL, false) AS v_none " +
    "FROM range(0, 100, 1, 1)", "id,v", "-", "-", "v_neg,v_none"),
  Seq("mixed", "SELECT id, timestamp_micros(1700000000000000 + id * 1000) AS ts, " +
    "concat('u', id % 97) AS user, id * 0.25D AS amount, CAST(id % 13 AS INT) AS q " +
    "FROM range(0, 3000, 1, 2)", "id,ts,amount", "id", "user", "-"))

def cols(s: String): Seq[String] = if (s == "-") Seq.empty else s.split(",").toSeq

def normalised(s: SinglePassWriter.FileSummary): String =
  s.copy(rel = s.rel.replaceAll("-[0-9a-f]{8}\\.parquet$", ".parquet"),
    los = s.los.toList, his = s.his.toList, viols = s.viols.toList,
    sLos = s.sLos.toList, sHis = s.sHis.toList, sSeen = s.sSeen.toList,
    dbl = s.dbl.toList, nulls = s.nulls.toList, sNulls = s.sNulls.toList)
    .toString

val lines = cases.flatMap { case Seq(name, sql, stats, bloom, strStats, checks) =>
  val summaries = SinglePassWriter.writeFiles(spark.sql(sql), dir, name,
    statsCols = cols(stats), bloomCol = cols(bloom).headOption,
    checkCols = cols(checks), strStatsCols = cols(strStats))
  summaries.foreach { s =>
    val to = s.rel.replaceAll("-[0-9a-f]{8}\\.parquet$", ".parquet")
    Files.move(Paths.get(dir, s.rel), Paths.get(dir, to))
    if (s.bloomM > 0)
      Files.move(Paths.get(dir, s"${s.rel}.bloom"), Paths.get(dir, s"$to.bloom"))
  }
  // Hadoop's local file system leaves a `.crc` beside each file
  Files.list(Paths.get(dir, name)).toArray.map(_.asInstanceOf[java.nio.file.Path])
    .filter(_.getFileName.toString.endsWith(".crc")).foreach(Files.delete)
  summaries.map(s => s"$name\t${normalised(s)}")
}
Files.write(Paths.get(dir, "cases.tsv"),
  (cases.map(_.mkString("\t")).mkString("\n") + "\n").getBytes("UTF-8"))
Files.write(Paths.get(dir, "summaries.txt"),
  (lines.mkString("\n") + "\n").getBytes("UTF-8"))
System.exit(0)
