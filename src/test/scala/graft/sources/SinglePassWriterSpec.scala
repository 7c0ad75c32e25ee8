package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The single-pass stats-bearing writer (r16; SURVEY §8.3.1-3): one
  * job writes the data files AND commits their manifest metadata —
  * no read-back pass. Pins round-trip fidelity (rows + types + nulls),
  * stats == read-back equality, exact-ndv bloom sizing + membership,
  * empty-partition handling, and loud unsupported-type rejection. */
class SinglePassWriterSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def newRoot(): String = graft.TempDirs.deleteOnExit(
    Files.createTempDirectory("graft_spw")).toString

  test("round trip: rows, types and nulls survive; stats equal an " +
      "independent read-back; blooms answer membership") {
    import spark.implicits._
    val root = newRoot()
    val df = (0L until 100L).map { i =>
      (i, if (i % 10 == 0) None else Some(i * 3),
        i / 7.0, s"s$i", i % 2 == 0)
    }.toDF("k", "opt", "d", "s", "b")
      .repartitionByRange(4, col("k"))
    val summaries = SinglePassWriter.writeCommit(df, root, "data/v0", 0,
      statsCols = Seq("k"), bloomCol = Some("k"))
    assert(summaries.size == 4 && summaries.map(_.n).sum == 100)
    val back = ManifestLog.readVersion(spark, root, 0)
    assert(back.count() == 100)
    // content identical, nulls included
    assert(back.orderBy("k").collect().toSeq ==
      df.orderBy("k").collect().toSeq)
    // stats: pass-computed == read-back-computed
    val readBack = back.groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi")).collect()
      .map(r => s"data/v0/${r.getString(0).split('/').last}" ->
        ManifestLog.FileStat(r.getLong(1), r.getLong(2))).toMap
    assert(ManifestLog.snapshot(root, 0).colStats
      .view.mapValues(_("k")).toMap == readBack)
    // blooms: every inserted key is contained; the point prune keeps
    // exactly the one range-partitioned file for an existing key
    val hit = ManifestLog.filesMatchingPoint(
      root, ManifestLog.snapshot(root, 0), "k", 42L)
    assert(hit.size == 1)
    assert(ManifestLog.readVersionPoint(spark, root, 0, "k", 42L)
      .filter(col("k") === 42L).count() == 1)
    // range prune serves the planning-time index
    val pruned = ManifestLog.filesMatchingCols(ManifestLog.snapshot(root, 0),
      Seq(("k", 0L, 20L)))
    assert(pruned.size == 1, pruned)
  }

  test("empty partitions write no file; stats skip null-only values") {
    import spark.implicits._
    val root = newRoot()
    val df = Seq((1L, Option.empty[Long]), (2L, Some(5L)))
      .toDF("k", "v").repartition(8)
    val summaries = SinglePassWriter.writeCommit(df, root, "data/v0", 0,
      statsCols = Seq("k"))
    assert(summaries.size <= 2, "empty partitions must not land files")
    assert(ManifestLog.readVersion(spark, root, 0).count() == 2)
  }

  test("timestamp and date columns round-trip with their Spark types " +
      "and date stats prune by epoch-day literals") {
    import spark.implicits._
    val root = newRoot()
    val df = (0 until 60).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(s"2024-01-${i % 28 + 1} 10:30:0${i % 10}"),
        java.sql.Date.valueOf(s"2024-0${i / 10 + 1}-15"))
    }.toDF("k", "ts", "d").repartitionByRange(3, col("d"))
    SinglePassWriter.writeCommit(df, root, "data/v0", 0,
      statsCols = Seq("d", "ts"))
    val back = ManifestLog.readVersion(spark, root, 0)
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(back.schema("d").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(back.orderBy("k").collect().toSeq ==
      df.orderBy("k").collect().toSeq)
    // day-granular stats prune: only the files whose interval meets
    // May/June survive
    val kept = ManifestLog.filesMatchingCols(ManifestLog.snapshot(root, 0),
      Seq(("d", java.time.LocalDate.parse("2024-05-01").toEpochDay,
        Long.MaxValue)))
    assert(kept.size < ManifestLog.filesAsOf(root, 0).size, kept)
    // and the planning-time path prunes on the pushed-down date literal
    assert(ManifestLog.readVersion(spark, root, 0)
      .filter(col("d") >= org.apache.spark.sql.functions.lit("2024-05-01")
        .cast(org.apache.spark.sql.types.DateType))
      .count() == 20)
  }

  test("decimal(p<=18) round-trips exactly as INT64 unscaled; " +
      "p>18 stays loudly refused (r17)") {
    import spark.implicits._
    val root = newRoot()
    val df = (0L until 50L).map(i => (i, BigDecimal(i) / 100 + 7))
      .toDF("k", "m")
      .withColumn("m", col("m").cast(
        org.apache.spark.sql.types.DecimalType(18, 2)))
      .repartitionByRange(2, col("k"))
    SinglePassWriter.writeCommit(df, root, "data/v0", 0,
      statsCols = Seq("k"))
    val back = ManifestLog.readVersion(spark, root, 0)
    assert(back.schema("m").dataType ==
      org.apache.spark.sql.types.DecimalType(18, 2))
    assert(back.orderBy("k").collect().toSeq ==
      df.orderBy("k").collect().toSeq)
    // exact decimal aggregate over the persisted column
    assert(back.agg(sum("m")).collect().head.getDecimal(0) ==
      df.agg(sum("m")).collect().head.getDecimal(0))
    // p > 18 is a refused write, never a silent downcast
    intercept[IllegalArgumentException] {
      SinglePassWriter.writeCommit(
        Seq((1L, BigDecimal("1.5"))).toDF("k", "big")
          .withColumn("big", col("big").cast(
            org.apache.spark.sql.types.DecimalType(25, 2))),
        root, "data/huge", 1)
    }
  }

  test("string bounds (r17): UTF-8-ordered per-file [min,max] fold in " +
      "the write loop, all-null columns are omitted (no inverted " +
      "sentinels for integrals either), and the committed bounds " +
      "equal an independent read-back") {
    import spark.implicits._
    val root = newRoot()
    val supp = new String(Character.toChars(0x10000)) // UTF-8 > U+FFFD
    val df = Seq(
      (1L, Some("de"), Option.empty[Long]),
      (2L, Some("en"), Option.empty[Long]),
      (3L, Some("�"), Option.empty[Long]),
      (4L, Some(supp), Option.empty[Long]),
      (5L, Option.empty[String], Option.empty[Long]))
      .toDF("k", "lang", "dead").coalesce(1)
    val summaries = SinglePassWriter.writeCommit(df, root, "data/v0", 0,
      statsCols = Seq("k", "dead"), strStatsCols = Seq("lang"))
    assert(summaries.size == 1)
    val str = ManifestLog.snapshot(root, 0).strColStats.values.head("lang")
    // UTF-8 order: the supplementary char is the MAX (UTF-16 order
    // would have picked U+FFFD — the collation hazard this feature
    // must not have)
    assert(str == ManifestLog.StrStat("de", supp), str)
    // the all-null integral column committed NO stat — no inverted
    // (MaxValue, MinValue) sentinel in the manifest (r17 advice)
    val cols = ManifestLog.snapshot(root, 0).colStats.values.head
    assert(cols.contains("k") && !cols.contains("dead"), cols)
    // an all-null STRING column is likewise omitted
    val root2 = newRoot()
    SinglePassWriter.writeCommit(
      Seq((1L, Option.empty[String])).toDF("k", "s").coalesce(1),
      root2, "data/v0", 0, strStatsCols = Seq("s"))
    assert(ManifestLog.snapshot(root2, 0).strColStats.isEmpty)
    // loud rejection: a non-string strStats column
    intercept[IllegalArgumentException] {
      SinglePassWriter.writeCommit(
        Seq((1L, 2L)).toDF("k", "v"), root2, "data/bad", 1,
        strStatsCols = Seq("v"))
    }
  }

  test("unsupported column and non-statable stats columns fail loud") {
    import spark.implicits._
    val root = newRoot()
    intercept[IllegalArgumentException] {
      SinglePassWriter.writeCommit(
        Seq((1L, BigDecimal(1))).toDF("k", "dec"), root, "d", 0)
    }
    // a STRING column in the integral/double stats list is a caller
    // bug (string bounds have their own fold + storage: strStatsCols)
    intercept[IllegalArgumentException] {
      SinglePassWriter.writeCommit(
        Seq((1L, "x")).toDF("k", "s"), root, "d", 0,
        statsCols = Seq("s"))
    }
    // blooms stay integral-only — a double bloom key is refused
    intercept[IllegalArgumentException] {
      SinglePassWriter.writeCommit(
        Seq((1L, 1.5)).toDF("k", "d"), root, "d", 0,
        bloomCol = Some("d"))
    }
  }

  test("string blooms (r17): the write loop folds FNV-1a keys, the " +
      "point prune has no false negatives and drops tag-free files, " +
      "and the string-keyed DFP consults the bloom alongside bounds") {
    import spark.implicits._
    val root = newRoot()
    // 4 files, each with a DISJOINT tag set the bounds cannot
    // separate (interleaved lexicographic order)
    SinglePassWriter.writeCommit(
      (0L until 400L).map(i => (i, s"t${i % 97}"))
        .toDF("k", "tag").repartition(4, col("k")),
      root, "data/v0", 0, bloomCol = Some("tag"),
      strStatsCols = Seq("tag"))
    // every present tag's containing files survive (no false negative)
    (0 until 97).foreach { t =>
      val kept = ManifestLog.filesMatchingStrPoint(
        root, ManifestLog.snapshot(root, 0), "tag", s"t$t")
      val actual = ManifestLog.readVersion(spark, root, 0)
        .filter(col("tag") === s"t$t").count()
      assert(actual > 0)
      val exact = graft.sources.ManifestLog
        .readVersionStrPoint(spark, root, 0, "tag", s"t$t")
        .filter(col("tag") === s"t$t").count()
      assert(exact == actual, s"t$t lost rows through the prune")
      assert(kept.nonEmpty)
    }
    // an absent tag prunes everything (bounds contain it; the bloom
    // says definitely absent — modulo fp, overwhelmingly unlikely
    // across 4 small filters for one fixed probe)
    assert(ManifestLog.filesMatchingStrPoint(
      root, ManifestLog.snapshot(root, 0), "tag", "zzz")
      .size <= 1)
    // the string-keyed DFP path consults the bloom too
    val viaKeys = ManifestLog.filesMatchingStrKeys(
      root, ManifestLog.snapshot(root, 0), "tag", Seq("zzz", "yyy"))
    assert(viaKeys.size <= 1)
  }

  test("double stats (r17): the write loop folds IEEE sortable-bits " +
      "[min,max] images that match an independent read-back, NaN " +
      "folds above +Inf, -0.0 collapses onto +0.0, and all-null " +
      "double columns commit no entry") {
    import spark.implicits._
    val key = ManifestFileIndex.dblKey _
    val root = newRoot()
    SinglePassWriter.writeCommit(
      Seq(-2.5, -0.0, 3.25, Double.NaN, 0.5)
        .toDF("price").coalesce(1),
      root, "data/v0", 0, statsCols = Seq("price"))
    val st = ManifestLog.snapshot(root, 0).colStats.values.head("price")
    // min is -2.5's image; max is NaN's (above +Infinity's) — the
    // Spark ordering where NaN is larger than any other value; the
    // entry commits dbl-TAGGED so the CHECK proof picks image
    // arithmetic
    assert(st.min == key(-2.5) && st.max == key(Double.NaN))
    assert(st.dbl, "double stats must commit with the image tag")
    assert(key(Double.NaN) > key(Double.PositiveInfinity))
    assert(key(-0.0) == key(0.0))
    // adjacency: strict-bound succ/pred arithmetic is exact in
    // image space
    assert(key(Math.nextUp(3.25)) == key(3.25) + 1)
    assert(key(Math.nextUp(-2.5)) == key(-2.5) + 1)
    // monotone across the sign boundary
    val ordered = Seq(Double.NegativeInfinity, -1.0e300, -2.5,
      -1.0e-300, 0.0, 1.0e-300, 3.25, 1.0e300,
      Double.PositiveInfinity, Double.NaN)
    assert(ordered.map(key) == ordered.map(key).sorted)
    // round trip: the persisted doubles are bit-exact (NaN included)
    val back = ManifestLog.readVersion(spark, root, 0)
      .collect().map(_.getDouble(0))
    assert(back.count(_.isNaN) == 1)
    assert(back.filterNot(_.isNaN).sorted.toSeq ==
      Seq(-2.5, -0.0, 0.5, 3.25))
    // all-null double column: no entry, never an inverted sentinel
    val root2 = newRoot()
    SinglePassWriter.writeCommit(
      Seq((1L, Option.empty[Double])).toDF("k", "d").coalesce(1),
      root2, "data/v0", 0, statsCols = Seq("d"))
    assert(!ManifestLog.snapshot(root2, 0).colStats
      .values.exists(_.contains("d")))
  }

  test("bloom refs carry their KEY TYPE (r18 advice): the writer tags " +
      "string blooms itself, mismatched probes degrade to must-read " +
      "instead of false-negative pruning, and the tag round-trips " +
      "manifest AND checkpoint folding") {
    import spark.implicits._
    // string-keyed bloom table
    val rootS = newRoot()
    SinglePassWriter.writeCommit(
      Seq(("aa", 1L), ("bb", 2L), ("mm", 3L), ("zz", 4L))
        .toDF("code", "v").repartitionByRange(2, col("code")),
      rootS, "data/v0", 0, bloomCol = Some("code"))
    val refsS = ManifestLog.snapshot(rootS, 0).blooms
    assert(refsS.nonEmpty && refsS.values.forall(_("code").str),
      s"string blooms must be tagged: $refsS")
    // a LONG probe of the string-bloomed column hashes differently —
    // with the tag it skips the bloom (must-read, every file
    // survives); without it, a false negative could DROP the
    // containing file
    assert(ManifestLog.filesMatchingPoint(
      rootS, ManifestLog.snapshot(rootS, 0), "code", 42L)
      .size == ManifestLog.filesAsOf(rootS, 0).size)
    // the string path still probes string blooms: the containing
    // file always survives
    assert(ManifestLog.filesMatchingStrPoint(
      rootS, ManifestLog.snapshot(rootS, 0), "code", "mm")
      .exists(f => spark.read.parquet(s"$rootS/$f")
        .filter(col("code") === "mm").count() == 1))
    // long-keyed bloom table: the STRING path must skip it
    val rootL = newRoot()
    SinglePassWriter.writeCommit(
      (0L until 20L).map(k => (k, k * 10L)).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      rootL, "data/v0", 0, bloomCol = Some("k"))
    assert(ManifestLog.snapshot(rootL, 0).blooms
      .values.forall(!_("k").str))
    assert(ManifestLog.filesMatchingStrPoint(
      rootL, ManifestLog.snapshot(rootL, 0), "k", "7")
      .size == ManifestLog.filesAsOf(rootL, 0).size,
      "a string probe of a long-keyed bloom must be must-read")
    // the tag survives checkpoint folding + manifest pruning
    ManifestLog.writeCheckpoint(rootS, 0)
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      rootS, "_log", f"${0L}%020d.json"))
    assert(ManifestLog.snapshot(rootS, 0).blooms
      .values.forall(_("code").str),
      "the str tag must survive the checkpoint fold")
  }

  test("null-count stats (r18): the write loop folds per-column null " +
      "counts, IS NULL prunes zero-null files and IS NOT NULL prunes " +
      "all-null files at planning time, count-less files are " +
      "must-read, and the counts round-trip manifest AND checkpoint") {
    import spark.implicits._
    val root = newRoot()
    def file(sub: String,
        rows: Seq[(Long, Option[Long])]): Seq[SinglePassWriter.FileSummary] =
      SinglePassWriter.writeFiles(
        rows.toDF("k", "v").coalesce(1), root, sub,
        statsCols = Seq("k", "v"))
    // a: v never null; b: mixed; c: v ALWAYS null — one commit
    val sa = file("data/a", (0L until 10L).map(k => (k, Some(k * 10L))))
    val sb = file("data/b",
      (10L until 20L).map(k => (k, if (k % 2 == 0) None else Some(k))))
    val sc = file("data/c", (20L until 30L).map(k => (k, None)))
    val all = sa ++ sb ++ sc
    ManifestLog.commit(root, 0, adds = all.map(_.rel),
      removes = Seq.empty, op = "write",
      colStats = SinglePassWriter.colStatsOf(all, Seq("k", "v")),
      nullStats = SinglePassWriter.nullStatsOf(all, Seq("k", "v")))
    val ns = ManifestLog.snapshot(root, 0).nullStats
    assert(ns(sa.head.rel)("v") == ManifestLog.NullStat(0L, 10L))
    assert(ns(sb.head.rel)("v") == ManifestLog.NullStat(5L, 10L))
    assert(ns(sc.head.rel)("v") == ManifestLog.NullStat(10L, 10L))
    def scannedFiles(f: org.apache.spark.sql.DataFrame): Long = {
      f.collect()
      f.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head.metrics("numFiles").value
    }
    def snap = ManifestLog.readVersion(spark, root, 0)
    // IS NULL: the zero-null file a drops; b and c scan
    assert(scannedFiles(snap.filter(col("v").isNull)) == 2)
    assert(snap.filter(col("v").isNull).count() == 15)
    // IS NOT NULL: the all-null file c drops; a and b scan
    assert(scannedFiles(snap.filter(col("v").isNotNull)) == 2)
    assert(snap.filter(col("v").isNotNull).count() == 15)
    // an ordinary predicate composes for free through Catalyst's
    // implicit IsNotNull: c (all-null, bounds-less for v) could
    // never drop by range stats — the null count is what drops it
    assert(scannedFiles(snap.filter(col("v") > 0L)) == 2)
    // count-less files stay must-read: a raw commit without
    // nullstats never prunes
    val bare = newRoot()
    val sb2 = SinglePassWriter.writeFiles(
      (0L until 4L).map(k => (k, Option.empty[Long]))
        .toDF("k", "v").coalesce(1), bare, "data/a",
      statsCols = Seq("k"))
    ManifestLog.commit(bare, 0, sb2.map(_.rel), Seq.empty, "write")
    assert(scannedFiles(ManifestLog.readVersion(spark, bare, 0)
      .filter(col("v").isNotNull)) == 1)
    // round-trip through the checkpoint fold + manifest pruning
    ManifestLog.writeCheckpoint(root, 0)
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      root, "_log", f"${0L}%020d.json"))
    assert(ManifestLog.snapshot(root, 0).nullStats == ns,
      "null counts must survive the checkpoint fold")
    assert(scannedFiles(snap.filter(col("v").isNull)) == 2)
  }

  test("ARRAY columns (r19): standard 3-level LIST round-trip — " +
      "values, EMPTY arrays, NULL arrays and NULL ELEMENTS all " +
      "survive — while scalar stats fold beside the array payload " +
      "and prune exactly as on a flat table") {
    import spark.implicits._
    val root = newRoot()
    val rows: Seq[(Long, Seq[java.lang.Float], String)] = Seq(
      (1L, Seq[java.lang.Float](1.5f, -2.25f, 3.0f), "a"),
      (2L, Seq.empty[java.lang.Float], "b"), // empty ≠ null
      (3L, null, "c"),                       // null array
      (4L, Seq[java.lang.Float](0.5f, null, 7.125f), "d")) // null elem
    val df = rows.toDF("id", "emb", "tag")
      .repartitionByRange(2, col("id"))
    val sums = SinglePassWriter.writeFiles(df, root, "data/v0",
      statsCols = Seq("id"))
    ManifestLog.commit(root, 0, sums.map(_.rel), Seq.empty, "write",
      colStats = SinglePassWriter.colStatsOf(sums, Seq("id")))
    val back = ManifestLog.readVersion(spark, root, 0)
    assert(back.schema("emb").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true))
    val got = back.select("id", "emb", "tag").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null
        else r.getSeq[java.lang.Float](1).toList,
        r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, List[java.lang.Float](1.5f, -2.25f, 3.0f), "a"),
      (2L, Nil, "b"),
      (3L, null, "c"),
      (4L, List[java.lang.Float](0.5f, null, 7.125f), "d")),
      s"array round-trip diverged: $got")
    // scalar stats coexist: the id range prune still drops the other
    // file even though the payload column is a must-read array
    val hit = ManifestLog.filesMatchingCols(ManifestLog.snapshot(root, 0),
      Seq(("id", 1L, 1L)))
    assert(hit.size == 1, s"expected 1 pruned file, got $hit")
    // double + long element types bind too
    val root2 = newRoot()
    val s2 = SinglePassWriter.writeFiles(
      Seq((1L, Seq(1.5d, 2.5d), Seq(7L, 8L))).toDF("id", "dv", "lv")
        .coalesce(1), root2, "data/v0")
    ManifestLog.commit(root2, 0, s2.map(_.rel), Seq.empty, "write")
    val r2 = ManifestLog.readVersion(spark, root2, 0).collect()(0)
    assert(r2.getSeq[Double](1) == Seq(1.5d, 2.5d) &&
      r2.getSeq[Long](2) == Seq(7L, 8L))
  }

  test("flat STRUCT columns (r19): values, NULL structs and null " +
      "fields round-trip through the optional-group encoding beside " +
      "scalar stats") {
    import spark.implicits._
    val root = newRoot()
    val rows: Seq[(Long, (String, java.lang.Long))] = Seq(
      (1L, ("en", java.lang.Long.valueOf(10L))),
      (2L, (null, java.lang.Long.valueOf(20L))), // null field
      (3L, null))                                // null struct
    val df = rows.toDF("id", "meta").coalesce(1)
    val sums = SinglePassWriter.writeFiles(df, root, "data/v0",
      statsCols = Seq("id"))
    ManifestLog.commit(root, 0, sums.map(_.rel), Seq.empty, "write",
      colStats = SinglePassWriter.colStatsOf(sums, Seq("id")))
    val got = ManifestLog.readVersion(spark, root, 0)
      .selectExpr("id", "meta._1", "meta._2").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) "-" else r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, "en", 10L), (2L, "-", 20L), (3L, "-", -1L)),
      s"struct round-trip diverged: $got")
    // nested struct-in-struct refuses loudly
    intercept[IllegalArgumentException](SinglePassWriter.writeFiles(
      Seq((1L, ((1L, 2L), "x"))).toDF("id", "m").coalesce(1),
      root, "data/bad"))
  }

  test("ARRAY gates stay scalar-only and loud (r19): stats, blooms " +
      "and check columns on an array refuse; an array of an " +
      "unsupported element type refuses at schema binding") {
    import spark.implicits._
    val root = newRoot()
    val df = Seq((1L, Seq(1.0f))).toDF("id", "emb").coalesce(1)
    intercept[IllegalArgumentException](SinglePassWriter.writeFiles(
      df, root, "data/a", statsCols = Seq("emb")))
    intercept[IllegalArgumentException](SinglePassWriter.writeFiles(
      df, root, "data/b", bloomCol = Some("emb")))
    intercept[IllegalArgumentException](SinglePassWriter.writeFiles(
      df, root, "data/c", checkCols = Seq("emb")))
    // array<array<float>> is not a flat-primitive element — refused
    // at schema binding, before any job runs
    val nested = Seq((1L, Seq(Seq(1.0f)))).toDF("id", "m").coalesce(1)
    val e = intercept[IllegalArgumentException](
      SinglePassWriter.writeFiles(nested, root, "data/d"))
    assert(e.getMessage.contains("flat primitives"),
      s"wrong refusal: ${e.getMessage}")
  }

  test("ARRAY<STRUCT<primitives>> columns (r20; r19 verdict next-8 " +
      "#3): 3-level LIST-of-group round-trip — values, EMPTY arrays, " +
      "NULL arrays, NULL ELEMENTS and NULL FIELDS all survive beside " +
      "scalar stats; deeper element nesting refuses loudly") {
    import spark.implicits._
    val root = newRoot()
    val rows: Seq[(Long, Seq[(java.lang.Long, String)])] = Seq(
      (1L, Seq((java.lang.Long.valueOf(0L), "s0"),
        (java.lang.Long.valueOf(10L), null))), // null FIELD in elem 2
      (2L, Seq.empty),                         // empty ≠ null
      (3L, null),                              // null array
      (4L, Seq(null,                           // null ELEMENT
        (java.lang.Long.valueOf(5L), "s5"))))
    val df = rows.toDF("id", "spans").repartitionByRange(2, col("id"))
    val sums = SinglePassWriter.writeFiles(df, root, "data/v0",
      statsCols = Seq("id"))
    ManifestLog.commit(root, 0, sums.map(_.rel), Seq.empty, "write",
      colStats = SinglePassWriter.colStatsOf(sums, Seq("id")))
    val back = ManifestLog.readVersion(spark, root, 0)
    assert(back.schema("spans").dataType.isInstanceOf[
      org.apache.spark.sql.types.ArrayType])
    val got = back.select("id", "spans").collect()
      .map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) null
          else r.getSeq[org.apache.spark.sql.Row](1).map(e =>
            if (e == null) "null"
            else (if (e.isNullAt(0)) "-" else e.getLong(0).toString) +
              "|" + (if (e.isNullAt(1)) "-" else e.getString(1)))
            .mkString(","))
      }.sortBy(_._1).toSeq
    assert(got == Seq((1L, "0|s0,10|-"), (2L, ""), (3L, null),
      (4L, "null,5|s5")),
      s"list-of-struct round-trip diverged: $got")
    // scalar stats coexist: the id range prune still drops files
    val hit = ManifestLog.filesMatchingCols(
      ManifestLog.snapshot(root, 0), Seq(("id", 1L, 1L)))
    assert(hit.size == 1, s"expected 1 pruned file, got $hit")
    // ARRAY<STRUCT<STRUCT<...>>> refuses loudly at schema binding
    val deep = Seq((1L, Seq(((1L, 2L), "x")))).toDF("id", "m")
      .coalesce(1)
    val e = intercept[IllegalArgumentException](
      SinglePassWriter.writeFiles(deep, root, "data/bad"))
    assert(e.getMessage.contains("flat primitives"),
      s"wrong refusal: ${e.getMessage}")
    // MAP columns refuse loudly too
    val m = intercept[IllegalArgumentException](
      SinglePassWriter.writeFiles(
        Seq((1L, Map("k" -> 1L))).toDF("id", "mp").coalesce(1),
        root, "data/bad2"))
    assert(m.getMessage.contains("does not support"),
      s"wrong refusal: ${m.getMessage}")
  }
}
