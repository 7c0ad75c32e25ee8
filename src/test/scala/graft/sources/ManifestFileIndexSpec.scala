package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import ManifestLog.FileStat

/** The manifest-planned scan (r15 verdict #1/#2): snapshot reads plan
  * from the log's own file list through [[ManifestFileIndex]] — no
  * directory listing, no InMemoryFileIndex — and the manifest's
  * per-file column stats answer Catalyst's pushed-down predicates
  * during planning. Pins the scan SHAPE (index class, post-prune file
  * count) and the conservative-prune contract, plus the flat resolve
  * cost at a synthetic 100k-file manifest. */
class ManifestFileIndexSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def attr(name: String) = AttributeReference(name, LongType)()

  // ---- range extraction (the planning-time prune's input) ----

  test("range extraction: comparison shapes, flipped sides, " +
      "conjunction intersects, IN bounds, unknown shapes ignored") {
    val u = attr("user_id")
    def r(es: Expression*) = ManifestFileIndex.ranges(es)
    assert(r(EqualTo(u, Literal(5L))) == Map("user_id" -> (5L, 5L)))
    assert(r(EqualTo(Literal(5L), u)) == Map("user_id" -> (5L, 5L)))
    assert(r(GreaterThan(u, Literal(5L))) ==
      Map("user_id" -> (6L, Long.MaxValue)))
    assert(r(GreaterThanOrEqual(u, Literal(5L))) ==
      Map("user_id" -> (5L, Long.MaxValue)))
    assert(r(LessThan(u, Literal(5L))) ==
      Map("user_id" -> (Long.MinValue, 4L)))
    assert(r(LessThanOrEqual(u, Literal(5L))) ==
      Map("user_id" -> (Long.MinValue, 5L)))
    // flipped literal side: 5 > u  ≡  u < 5
    assert(r(GreaterThan(Literal(5L), u)) ==
      Map("user_id" -> (Long.MinValue, 4L)))
    assert(r(LessThan(Literal(5L), u)) ==
      Map("user_id" -> (6L, Long.MaxValue)))
    // BETWEEN arrives as two conjuncts — they intersect
    assert(r(GreaterThanOrEqual(u, Literal(1L)),
      LessThanOrEqual(u, Literal(8L))) == Map("user_id" -> (1L, 8L)))
    // nested And handled defensively
    assert(r(And(GreaterThanOrEqual(u, Literal(1L)),
      LessThanOrEqual(u, Literal(8L)))) == Map("user_id" -> (1L, 8L)))
    // IN prunes by [min, max] of the set
    assert(r(In(u, Seq(Literal(7L), Literal(3L), Literal(9L)))) ==
      Map("user_id" -> (3L, 9L)))
    // int literals of narrower integral types widen
    assert(r(EqualTo(u, Literal(5))) == Map("user_id" -> (5L, 5L)))
    // unsupported shapes contribute nothing (conservative): IsNotNull,
    // disjunction, cast-wrapped attribute, non-integral literal
    assert(r(IsNotNull(u)).isEmpty)
    assert(r(Or(EqualTo(u, Literal(1L)), EqualTo(u, Literal(2L)))).isEmpty)
    assert(r(EqualTo(Cast(u, LongType), Literal(1L))).isEmpty)
    assert(r(EqualTo(attr("s"), Literal("x"))).isEmpty)
    // saturating edges never wrap
    assert(r(GreaterThan(u, Literal(Long.MaxValue))) ==
      Map("user_id" -> (Long.MaxValue, Long.MaxValue)))
    assert(r(LessThan(u, Literal(Long.MinValue))) ==
      Map("user_id" -> (Long.MinValue, Long.MinValue)))
  }

  test("listFiles: stats-bearing files prune by intersection, " +
      "stats-less files are must-read, no filters keeps everything") {
    val entries = Seq(
      ManifestFileEntry("data/a.parquet", 10, Map("x" -> FileStat(0, 9))),
      ManifestFileEntry("data/b.parquet", 10, Map("x" -> FileStat(10, 19))),
      ManifestFileEntry("data/legacy.parquet", 10))
    val idx = new ManifestFileIndex("/tmp/mfi_unit", entries)
    def names(filters: Seq[Expression]) =
      idx.listFiles(Nil, filters).flatMap(_.files)
        .map(_.getPath.getName).sorted
    assert(names(Nil) ==
      Seq("a.parquet", "b.parquet", "legacy.parquet"))
    assert(names(Seq(EqualTo(attr("x"), Literal(12L)))) ==
      Seq("b.parquet", "legacy.parquet"))
    // untracked column: nothing prunes
    assert(names(Seq(EqualTo(attr("y"), Literal(12L)))).size == 3)
    // contradictory conjunction: every stats-bearing file drops,
    // must-reads stay
    assert(names(Seq(GreaterThan(attr("x"), Literal(100L)),
      LessThan(attr("x"), Literal(50L)))) == Seq("legacy.parquet"))
    // sizeInBytes is the entry sum (drives broadcast decisions)
    assert(idx.sizeInBytes == 30)
  }

  // ---- string bounds (r17) ----

  test("strRanges extraction: equality, comparisons, IN bounds, " +
      "conjunction intersects in UTF-8 order, non-string shapes " +
      "ignored, exclusive bounds widened to closed") {
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val s = AttributeReference("lang", StringType)()
    def lit(v: String) = Literal(UTF8String.fromString(v), StringType)
    def r(es: Expression*) = ManifestFileIndex.strRanges(es)
    assert(r(EqualTo(s, lit("en"))) ==
      Map("lang" -> (Some("en"), Some("en"))))
    assert(r(EqualTo(lit("en"), s)) ==
      Map("lang" -> (Some("en"), Some("en"))))
    assert(r(GreaterThanOrEqual(s, lit("de"))) ==
      Map("lang" -> (Some("de"), None)))
    assert(r(LessThan(s, lit("zh"))) ==
      Map("lang" -> (None, Some("zh")))) // closed: widened, not split
    assert(r(GreaterThanOrEqual(s, lit("de")),
      LessThanOrEqual(s, lit("fr"))) ==
      Map("lang" -> (Some("de"), Some("fr"))))
    assert(r(In(s, Seq(lit("fr"), lit("de"), lit("it")))) ==
      Map("lang" -> (Some("de"), Some("it"))))
    // conjunction intersects: max of lows, min of highs
    assert(r(GreaterThanOrEqual(s, lit("aa")),
      GreaterThanOrEqual(s, lit("de"))) ==
      Map("lang" -> (Some("de"), None)))
    // UTF-8 byte order, not UTF-16: U+10000 (F0 90 80 80) sorts
    // ABOVE U+FFFD (EF BF BD) in UTF-8 while UTF-16 surrogates
    // (D800) sort BELOW it — the extractor must pick UTF-8
    val supp = new String(Character.toChars(0x10000))
    assert(r(In(s, Seq(lit("�"), lit(supp)))) ==
      Map("lang" -> (Some("�"), Some(supp))))
    assert(ManifestFileIndex.utf8Cmp(supp, "�") > 0 &&
      supp.compareTo("�") < 0)
    // non-string literals and unsupported shapes contribute nothing
    assert(r(EqualTo(s, Literal(5L))).isEmpty)
    assert(r(IsNotNull(s)).isEmpty)
    assert(r(Or(EqualTo(s, lit("a")), EqualTo(s, lit("b")))).isEmpty)
  }

  test("listFiles prunes by string bounds: intersection keeps, " +
      "disjoint drops, bound-less files are must-read") {
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import ManifestLog.StrStat
    val entries = Seq(
      ManifestFileEntry("data/a.parquet", 10,
        strStats = Map("lang" -> StrStat("de", "es"))),
      ManifestFileEntry("data/b.parquet", 10,
        strStats = Map("lang" -> StrStat("fr", "ja"))),
      ManifestFileEntry("data/legacy.parquet", 10))
    val idx = new ManifestFileIndex("/tmp/mfi_str_unit", entries)
    val s = AttributeReference("lang", StringType)()
    def lit(v: String) = Literal(UTF8String.fromString(v), StringType)
    def names(filters: Seq[Expression]) =
      idx.listFiles(Nil, filters).flatMap(_.files)
        .map(_.getPath.getName).sorted
    assert(names(Seq(EqualTo(s, lit("en")))) ==
      Seq("a.parquet", "legacy.parquet"))
    assert(names(Seq(EqualTo(s, lit("fr")))) ==
      Seq("b.parquet", "legacy.parquet"))
    // boundary values intersect (closed intervals)
    assert(names(Seq(EqualTo(s, lit("es")))) ==
      Seq("a.parquet", "legacy.parquet"))
    // a range spanning both keeps both
    assert(names(Seq(GreaterThanOrEqual(s, lit("el")),
      LessThanOrEqual(s, lit("gd")))).size == 3)
    // untracked string column: nothing prunes
    val t = AttributeReference("source", StringType)()
    assert(names(Seq(EqualTo(t, lit("x")))).size == 3)
  }

  // ---- double bounds (r17) ----

  test("double range extraction: literals ride as sortable-bits " +
      "images, strict bounds step one ULP, IN bounds by value order, " +
      "NaN/-0.0 calibrated to Spark's comparison semantics") {
    import org.apache.spark.sql.types.DoubleType
    val key = ManifestFileIndex.dblKey _
    val p = AttributeReference("price", DoubleType)()
    def lit(v: Double) = Literal(v, DoubleType)
    def r(es: Expression*) = ManifestFileIndex.ranges(es)
    assert(r(EqualTo(p, lit(2.5))) ==
      Map("price" -> (key(2.5), key(2.5))))
    // x > 2.5 ⇒ lo = image(nextUp 2.5) — exact, because adjacent
    // doubles map to adjacent longs
    assert(r(GreaterThan(p, lit(2.5))) ==
      Map("price" -> (key(Math.nextUp(2.5)), Long.MaxValue)))
    assert(r(LessThan(p, lit(-1.5))) ==
      Map("price" -> (Long.MinValue, key(Math.nextDown(-1.5)))))
    // a band arrives as two conjuncts and intersects in image space
    assert(r(GreaterThanOrEqual(p, lit(1.0)),
      LessThan(p, lit(2.0))) ==
      Map("price" -> (key(1.0), key(Math.nextDown(2.0)))))
    assert(r(In(p, Seq(lit(7.5), lit(-3.0), lit(0.25)))) ==
      Map("price" -> (key(-3.0), key(7.5))))
    // -0.0 and 0.0 share one image (Spark compares them equal)
    assert(r(EqualTo(p, lit(-0.0))) ==
      Map("price" -> (key(0.0), key(0.0))))
    // NaN sits above +Infinity (Spark: larger than any other value)
    assert(key(Double.NaN) > key(Double.PositiveInfinity))
  }

  test("listFiles prunes by double stats: band drops out-of-range " +
      "files, an all-NaN file survives x > v and prunes under " +
      "x < v, stats-less files are must-read") {
    import org.apache.spark.sql.types.DoubleType
    val key = ManifestFileIndex.dblKey _
    val entries = Seq(
      ManifestFileEntry("data/neg.parquet", 10,
        Map("price" -> FileStat(key(-9.0), key(-1.0)))),
      ManifestFileEntry("data/low.parquet", 10,
        Map("price" -> FileStat(key(0.5), key(4.75)))),
      ManifestFileEntry("data/high.parquet", 10,
        Map("price" -> FileStat(key(100.25), key(900.0)))),
      ManifestFileEntry("data/nan.parquet", 10,
        Map("price" -> FileStat(key(Double.NaN), key(Double.NaN)))),
      ManifestFileEntry("data/legacy.parquet", 10))
    val idx = new ManifestFileIndex("/tmp/mfi_dbl_unit", entries)
    val p = AttributeReference("price", DoubleType)()
    def lit(v: Double) = Literal(v, DoubleType)
    def names(filters: Seq[Expression]) =
      idx.listFiles(Nil, filters).flatMap(_.files)
        .map(_.getPath.getName).sorted
    assert(names(Seq(LessThan(p, lit(5.0)))) ==
      Seq("legacy.parquet", "low.parquet", "neg.parquet"))
    assert(names(Seq(GreaterThan(p, lit(50.0)))) ==
      Seq("high.parquet", "legacy.parquet", "nan.parquet"))
    assert(names(Seq(EqualTo(p, lit(0.5)))) ==
      Seq("legacy.parquet", "low.parquet"))
    // closed-boundary intersection: max == literal survives <=
    assert(names(Seq(LessThanOrEqual(p, lit(-9.0)))) ==
      Seq("legacy.parquet", "neg.parquet"))
    // negative band: image order matches double order below zero
    assert(names(Seq(GreaterThanOrEqual(p, lit(-5.0)),
      LessThan(p, lit(0.0)))) ==
      Seq("legacy.parquet", "neg.parquet"))
  }

  test("partition values: a file missing a segment surfaces NULL " +
      "for that partition column — equality excludes it, IS NULL " +
      "selects it (partition-spec addition, r17)") {
    import org.apache.spark.sql.types.{LongType => LT, StructField, StructType}
    val entries = Seq(
      ManifestFileEntry("data/old/a.parquet", 10),
      ManifestFileEntry("data/day=5/b.parquet", 10),
      ManifestFileEntry("data/day=6/c.parquet", 10))
    val idx = new ManifestFileIndex("/tmp/mfi_pevo_unit", entries,
      StructType(Seq(StructField("day", LT, nullable = true))))
    val day = AttributeReference("day", LT)()
    def names(filters: Seq[Expression]) =
      idx.listFiles(filters, Nil).flatMap(_.files)
        .map(_.getPath.getName).sorted
    assert(names(Nil).size == 3)
    assert(names(Seq(EqualTo(day, Literal(5L)))) == Seq("b.parquet"))
    assert(names(Seq(IsNull(day))) == Seq("a.parquet"))
    assert(names(Seq(IsNotNull(day))) ==
      Seq("b.parquet", "c.parquet"))
  }

  // ---- end-to-end: plan shape + row parity on a real table ----

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    } match {
      case Seq(one) => one
      case other => fail(s"expected exactly one file scan, got $other")
    }

  private def statsTable(): String = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_mfi_e2e").toString
    import spark.implicits._
    // 4 files with disjoint user_id deciles + one stats-less file
    (0 until 4).foreach { i =>
      (i * 10 until i * 10 + 10).map(u => (u.toLong, u * 100L))
        .toDF("user_id", "amount")
        .coalesce(1).write.parquet(s"$root/data/f$i")
    }
    Seq((99L, 9900L)).toDF("user_id", "amount")
      .coalesce(1).write.parquet(s"$root/data/legacy")
    val adds = (0 until 4).map(i =>
      ManifestLog.partFiles(root, s"data/f$i").head) :+
      ManifestLog.partFiles(root, "data/legacy").head
    val colStats = (0 until 4).map(i => adds(i) ->
      Map("user_id" -> FileStat(i * 10L, i * 10L + 9))).toMap
    ManifestLog.commit(root, 0, adds, Seq.empty, "write",
      colStats = colStats)
    root
  }

  test("readVersionIndexed plans from the log: the scan's location IS " +
      "the ManifestFileIndex (no InMemoryFileIndex listing), and a " +
      "pushed-down predicate prunes files during planning") {
    val root = statsTable()
    val df = ManifestLog.readVersionIndexed(spark, root, 0)
    val scan = scanOf(df)
    assert(scan.relation.location.isInstanceOf[ManifestFileIndex],
      s"scan must plan from the manifest index: ${scan.relation.location}")
    assert(scan.selectedPartitions.totalNumberOfFiles == 5)
    // the query's own filter becomes the file prune: band [0, 9] hits
    // one stats file + the stats-less must-read
    val pruned = df.filter(col("user_id").between(0, 9))
    val prunedScan = scanOf(pruned)
    assert(prunedScan.selectedPartitions.totalNumberOfFiles == 2,
      "BETWEEN must prune to 1 stats file + 1 must-read")
    // equality prunes the same way
    assert(scanOf(df.filter(col("user_id") === 25L))
      .selectedPartitions.totalNumberOfFiles == 2)
    // a predicate on an untracked column prunes nothing
    assert(scanOf(df.filter(col("amount") === 100L))
      .selectedPartitions.totalNumberOfFiles == 5)
    // and the rows are EXACT despite the prune
    assert(pruned.agg(sum("amount")).collect().head.getLong(0) ==
      (0 until 10).map(_ * 100L).sum)
    assert(df.count() == 41)
  }

  test("string bounds end-to-end (r17): single-pass-committed lang " +
      "bounds prune the planned scan; rows stay exact; checkpoint " +
      "folds the bounds") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_mfi_str_e2e").toString
    import spark.implicits._
    val docs = Seq(
      ("de", 1L), ("de", 2L), ("en", 3L), ("en", 4L),
      ("fr", 5L), ("ja", 6L), ("zh", 7L), ("zh", 8L))
      .toDF("lang", "doc_id")
    SinglePassWriter.writeCommit(
      docs.repartitionByRange(4, col("lang"), col("doc_id")),
      root, "data/v0", 0, statsCols = Seq("doc_id"),
      strStatsCols = Seq("lang"))
    val df = ManifestLog.readVersionIndexed(spark, root, 0)
    val total = scanOf(df).selectedPartitions.totalNumberOfFiles
    assert(total >= 3, s"range clustering should land several files")
    val pruned = scanOf(df.filter(col("lang") === "en"))
      .selectedPartitions.totalNumberOfFiles
    assert(pruned < total,
      s"lang equality must prune files: $pruned of $total")
    assert(df.filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    // bounds survive a checkpoint-seeded replay (the checkpoint at 0
    // becomes the replay seed, so this parses the checkpoint's own
    // strstats field)
    val direct = ManifestLog.snapshot(root, 0).strColStats
    ManifestLog.writeCheckpoint(root, 0)
    assert(ManifestLog.snapshot(root, 0).strColStats == direct &&
      direct.nonEmpty && direct.values.forall(_.contains("lang")))
  }

  test("readVersion (the default snapshot read) routes through the " +
      "index too, and legacy single-column stats map in via statsColumn") {
    val root = statsTable()
    assert(scanOf(ManifestLog.readVersion(spark, root, 0))
      .relation.location.isInstanceOf[ManifestFileIndex])
    // single-column stats (the FileStat-without-a-name seam): a fresh
    // root committed with stats= instead of colStats= (a re-commit on
    // the same root would inherit v0's named colstats — adds never
    // clear a live file's stats, only removes do)
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_mfi_single").toString
    import spark.implicits._
    (0 until 4).foreach { i =>
      (i * 10 until i * 10 + 10).map(u => (u.toLong, u * 100L))
        .toDF("user_id", "amount")
        .coalesce(1).write.parquet(s"$root2/data/f$i")
    }
    val adds = (0 until 4).map(i =>
      ManifestLog.partFiles(root2, s"data/f$i").head)
    ManifestLog.commit(root2, 0, adds, Seq.empty, "write",
      stats = adds.zipWithIndex.map { case (f, i) =>
        f -> FileStat(i * 10L, i * 10L + 9) }.toMap)
    val mapped = ManifestLog.readVersionIndexed(spark, root2, 0,
      statsColumn = Some("user_id"))
    assert(scanOf(mapped.filter(col("user_id") === 25L))
      .selectedPartitions.totalNumberOfFiles == 1)
    // without the mapping the stats are anonymous: no prune, same rows
    val unmapped = ManifestLog.readVersionIndexed(spark, root2, 0)
    assert(scanOf(unmapped.filter(col("user_id") === 25L))
      .selectedPartitions.totalNumberOfFiles == 4)
    assert(mapped.filter(col("user_id") === 25L).count() ==
      unmapped.filter(col("user_id") === 25L).count())
  }

  test("optimized predicate shapes prune too: InSet (large IN lists) " +
      "and null-safe equality; null-bearing sets stay conservative") {
    val u = attr("user_id")
    def r(es: Expression*) = ManifestFileIndex.ranges(es)
    assert(r(InSet(u, Set[Any](7L, 3L, 9L))) ==
      Map("user_id" -> (3L, 9L)))
    assert(r(InSet(u, Set[Any](5, 2, 8))) == Map("user_id" -> (2L, 8L)))
    // a null or non-integral member keeps the predicate out entirely
    assert(r(InSet(u, Set[Any](3L, null))).isEmpty)
    assert(r(InSet(u, Set[Any](3L, "x"))).isEmpty)
    assert(r(EqualNullSafe(u, Literal(5L))) == Map("user_id" -> (5L, 5L)))
    assert(r(EqualNullSafe(Literal(5L), u)) == Map("user_id" -> (5L, 5L)))
    // a <=> NULL asks about null membership — stats cannot answer it
    assert(r(EqualNullSafe(u, Literal(null,
      org.apache.spark.sql.types.LongType))).isEmpty)
  }

  test("readVersionKeys: a runtime dim key set prunes files through " +
      "the manifest, rows stay exact, an oversized dim fails loudly") {
    val root = statsTable()
    import spark.implicits._
    // dim keys 3 and 25 live in files f0 and f2; the legacy file is
    // must-read — 3 of 5 files survive the prune
    val dim = Seq(3L, 25L).toDF("k")
    val df = ManifestLog.readVersionKeys(spark, root, 0, "user_id", dim)
    assert(scanOf(df).selectedPartitions.totalNumberOfFiles == 3)
    // the read is the PRUNED snapshot; the join's exact equality is
    // the caller's job — replay it and check rows
    val got = df.filter(col("user_id").isin(3L, 25L))
      .select("user_id", "amount").collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).sorted.toSeq
    assert(got == Seq((3L, 300L), (25L, 2500L)))
    // loud bound: the dim side must stay broadcast-sized
    intercept[IllegalArgumentException] {
      ManifestLog.readVersionKeys(spark, root, 0, "user_id",
        spark.range(10).toDF("k").select(col("k")), maxKeys = 5)
    }
  }

  test("collectBoundedKeys (r20; r19 verdict what's-wrong #1): the " +
      "dim-key collect is bounded INSIDE the plan — an over-bound " +
      "frame materializes at most maxKeys + 2 rows on the driver " +
      "(never the corpus), a null at exactly the bound neither " +
      "truncates nor miscounts, and the over-bound read still " +
      "refuses loudly") {
    import spark.implicits._
    // 1M distinct keys against bound 10: the seam returns ≤ 12 rows —
    // the pre-r20 code collected all 1M before checking the bound
    val got = ManifestLog.collectBoundedKeys(
      spark.range(1000000).toDF("k"), 10)
    assert(got.size <= 12,
      s"collect not plan-bounded: ${got.size} rows reached the driver")
    // exactly maxKeys non-null keys + a null: the +2 window keeps the
    // non-null count exact (5 ≤ bound) instead of a truncated set
    // sneaking back under it; the null is dropped — a null key never
    // matches an equi-join, so the prune stays exact without it
    val withNull = Seq[java.lang.Long](1L, 2L, 3L, 4L, 5L, null)
      .toDF("k")
    val rows = ManifestLog.collectBoundedKeys(withNull, 5)
    assert(rows.size == 5 && rows.forall(!_.isNullAt(0)))
    // end-to-end: a corpus-sized dim refuses loudly and CHEAPLY
    val root = statsTable()
    val e = intercept[IllegalArgumentException] {
      ManifestLog.readVersionKeys(spark, root, 0, "user_id",
        spark.range(1000000).toDF("k"), maxKeys = 100)
    }
    assert(e.getMessage.contains("bloom filter"),
      s"wrong refusal: ${e.getMessage}")
    // a null-bearing but under-bound dim still prunes and reads
    val dimN = Seq[java.lang.Long](3L, 25L, null).toDF("k")
    val df = ManifestLog.readVersionKeys(spark, root, 0, "user_id",
      dimN)
    assert(df.filter(col("user_id").isin(3L, 25L)).count() == 2)
  }

  test("100k-file manifest: resolve + planning-time prune is " +
      "metadata-flat (no filesystem touched)") {
    val entries = (0 until 100000).map { i =>
      ManifestFileEntry(f"data/part-$i%06d.parquet", 128L * 1024 * 1024,
        Map("ts" -> FileStat(i * 1000L, i * 1000L + 999)))
    }
    val idx = new ManifestFileIndex("/tmp/mfi_rung_never_listed", entries)
    val t0 = System.nanoTime()
    val kept = idx.listFiles(Nil, Seq(
      GreaterThanOrEqual(attr("ts"), Literal(50_000_000L)),
      LessThan(attr("ts"), Literal(50_100_000L))))
      .head.files.size
    val ms = (System.nanoTime() - t0) / 1e6
    // files i=50000..50099 overlap [50_000_000, 50_099_999]
    assert(kept == 100, s"expected the 100 overlapping files, got $kept")
    // generous bound: the prune is one in-memory pass over 100k
    // entries (measured ~10 ms); a filesystem listing would be >100x
    assert(ms < 2000, s"100k-file prune took ${ms}ms — not metadata-flat")
    assert(idx.sizeInBytes == 100000L * 128 * 1024 * 1024)
  }
}
