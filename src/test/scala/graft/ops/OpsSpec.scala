package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Unit + property tests for the ops layer. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------------- TimeOps ----------------

  test("TimeOps golden values (UTC, millis→second-string)") {
    val df = Seq(1542729770796L).toDF("ts")
      .select(TimeOps.startTimeString(col("ts")).as("s"),
        TimeOps.epochMillisToTs(col("ts")).as("t"))
    val r = df.collect().head
    assert(r.getString(0) == "2018-11-20 16:02:50")
    // the ÷1000.0 keeps the millisecond fraction, exactly like the
    // reference's utcfromtimestamp UDF (etl.py:215)
    assert(r.getTimestamp(1).toInstant.toEpochMilli == 1542729770796L)
  }

  test("TimeOps units agree with java.time across random epochs") {
    val rnd = new scala.util.Random(42) // seeded: property-style, stable
    val samples = Seq.fill(200)(math.abs(rnd.nextLong()) % 4102444800000L)
    val df = samples.toDF("ts")
      .withColumn("t", TimeOps.epochMillisToTs(col("ts")))
    val rows = TimeOps.timeUnits(col("t")).foldLeft(df) {
      case (d, (n, c)) => d.withColumn(n, c)
    }.collect()
    rows.foreach { row =>
      val zdt = java.time.Instant.ofEpochMilli(row.getAs[Long]("ts"))
        .atZone(java.time.ZoneOffset.UTC)
      assert(row.getAs[Int]("hour") == zdt.getHour)
      assert(row.getAs[Int]("day") == zdt.getDayOfMonth)
      assert(row.getAs[Int]("week") ==
        zdt.get(java.time.temporal.IsoFields.WEEK_OF_WEEK_BASED_YEAR))
      assert(row.getAs[Int]("month") == zdt.getMonthValue)
      assert(row.getAs[Int]("year") == zdt.getYear)
      // Spark dayofweek: 1=Sunday; java DayOfWeek: 1=Monday..7=Sunday
      assert(row.getAs[Int]("weekday") ==
        (zdt.getDayOfWeek.getValue % 7) + 1)
    }
  }

  // ---------------- TextOps ----------------

  test("shingles + jaccard on known arrays") {
    val df = Seq(("a b c d", "b c d e"), ("a b c", "x y z"))
      .toDF("t1", "t2")
      .select(
        TextOps.shingles(TextOps.tokens(col("t1")), 2).as("s1"),
        TextOps.shingles(TextOps.tokens(col("t2")), 2).as("s2"))
      .select(TextOps.jaccard(col("s1"), col("s2")).as("j"))
    val js = df.collect().map(_.getDouble(0))
    assert(js(0) == 2.0 / 4.0) // {ab,bc,cd} ∩ {bc,cd,de} = 2; ∪ = 4
    assert(js(1) == 0.0)
  }

  test("shingles shorter than n yield empty array, not garbage") {
    val df = Seq("one two").toDF("t")
      .select(TextOps.shingles(TextOps.tokens(col("t")), 3).as("s"))
    assert(df.collect().head.getSeq[String](0).isEmpty)
  }

  test("native shingles expression equals the built-ins formulation") {
    val docs = graft.sources.Readers
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .select(TextOps.shingles(col("w"), 3).as("native"),
        TextOps.shinglesHof(col("w"), 3).as("hof"))
    assert(docs.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("bag fingerprint is word-order invariant") {
    val df = Seq(("c b a a", "a b c"), ("a b", "a c"))
      .toDF("t1", "t2").select(
        TextOps.bagFingerprint(TextOps.tokens(col("t1"))).as("f1"),
        TextOps.bagFingerprint(TextOps.tokens(col("t2"))).as("f2"))
    val rows = df.collect()
    assert(rows(0).getString(0) == rows(0).getString(1))
    assert(rows(1).getString(0) != rows(1).getString(1))
  }

  // ---------------- Dedup ----------------

  /** 30 synthetic docs: doc i = 40 words; docs 20/21 share 39 of 41
    * positions (planted near-dup), everything else disjoint-ish. */
  private lazy val corpus = {
    val base = (0 until 30).map { i =>
      val words = (0 until 40).map(w => s"w${i}_$w")
      (i.toLong, words.mkString(" "))
    }
    val nearDup = (20L, base(21)._2.replace("w21_39", "w21_x"))
    spark.createDataFrame(base.updated(20, nearDup)).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .withColumn("sh", TextOps.shingles(col("w"), 3))
  }

  test("minhash LSH finds the planted near-dup pair, nothing else") {
    val ex = corpus.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val cands = Dedup.lshCandidates(
      Dedup.minhashBands(ex, "doc_id", "shingle"), "doc_id")
    val sa = corpus.select(col("doc_id").as("a"), col("sh").as("sha"))
    val sb = corpus.select(col("doc_id").as("b"), col("sh").as("shb"))
    val verified = cands.join(sa, "a").join(sb, "b")
      .filter(TextOps.jaccard(col("sha"), col("shb")) >= 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(verified.toSeq == Seq((20L, 21L)))
  }

  test("simhash pigeonhole blocking finds the planted pair") {
    val ex = corpus.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val fps = Dedup.simhash(ex, "doc_id", "shingle")
    val cands = Dedup.simhashCandidates(fps, "doc_id", maxHamming = 12)
    assert(cands.collect().map(r => (r.getLong(0), r.getLong(1)))
      .contains((20L, 21L)))
    // identical docs → identical fingerprints → hamming 0
    val fpMap = fps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(fpMap(20L) ^ fpMap(21L)) <= 12)
  }

  test("inverted-index jaccard is exact on the corpus") {
    val out = Dedup.invertedIndexJaccard(corpus, "doc_id", "sh", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((20L, 21L)))
  }

  test("rolling hash matches the scala recurrence, empty-safe") {
    def expected(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((h, c) => (h * 31 + c) % 2147483647L)
    val inputs = Seq("hello world", "", "a", "the quick brown fox")
    val got = inputs.toDF("t")
      .select(graft.functions.TextExpressions.rollingHash(col("t")))
      .collect().map(_.getLong(0))
    assert(got.toSeq == inputs.map(expected))
  }

  test("canonicalIds: multi-hop chains collapse to the component min") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // chain 1-2-3 (no direct 1-3 edge) + pair 4-5 + singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = Dedup.canonicalIds(docs, "doc_id", pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      9L -> 9L))
  }

  test("canonicalIds drops pair endpoints missing from docs") {
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    // 99 is foreign: the 2-99 edge must be dropped entirely, and no
    // phantom canonical id may leak into the output
    val pairs = Seq((1L, 2L), (2L, 99L)).toDF("doc_a", "doc_b")
    val out = Dedup.canonicalIds(docs, "doc_id", pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("orderedId equals global row_number over unique keys") {
    val df = graft.sources.Readers
      .table(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id")
    val out = graft.ops.Ids.orderedId(df, Seq(col("event_id")), "rid")
      .select("event_id", "rid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = out.keys.toSeq.sorted.zipWithIndex
      .map { case (k, i) => k -> (i + 1L) }.toMap
    assert(out == expected && out.size == 1000)
  }

  test("orderedId fails loudly on duplicate keys instead of mis-ranking") {
    val df = graft.sources.Readers
      .table(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id")
    val ex = intercept[org.apache.spark.SparkException] {
      // user_id repeats across events — the uniqueness precondition the
      // sequential-id contract (and cluster recompute determinism) needs
      graft.ops.Ids.orderedId(df, Seq(col("user_id")), "rid").count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(ex).exists(_.getMessage != null) &&
      chain(ex).exists(t => Option(t.getMessage)
        .exists(_.contains("requires unique keys"))))
  }

  test("prefix-filtered jaccard equals the plain inverted index") {
    val exact = Dedup.invertedIndexJaccard(corpus, "doc_id", "sh", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pref = Dedup.prefixFilteredJaccard(corpus, "doc_id", "sh", 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pref.sortBy(t => (t._1, t._2)).toSeq ==
      exact.sortBy(t => (t._1, t._2)).toSeq)
    assert(pref.nonEmpty)
  }

  // ---------------- VectorOps ----------------

  test("dot/norm/cosine match scala reference computation") {
    val a = Array(1.0f, 2.0f, 3.0f); val b = Array(-1.0f, 0.5f, 2.0f)
    val df = Seq((a, b)).toDF("a", "b")
      .select(
        VectorOps.dot(VectorOps.asDouble(col("a")),
          VectorOps.asDouble(col("b"))).as("dot"),
        VectorOps.l2norm(VectorOps.asDouble(col("a"))).as("na"))
    val r = df.collect().head
    val expDot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    assert(r.getDouble(0) == expDot)
    assert(r.getDouble(1) == math.sqrt(a.map(x => x.toDouble * x).sum))
  }

  test("codegen dot is bit-identical to the higher-order-function fold") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(64)((
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b").select(
      VectorOps.dot(VectorOps.asDouble(col("a")),
        VectorOps.asDouble(col("b"))).as("d1"),
      VectorOps.dotHof(VectorOps.asDouble(col("a")),
        VectorOps.asDouble(col("b"))).as("d2"))
    assert(df.filter(col("d1") =!= col("d2")).count() == 0)
    // also via SQL registration
    graft.functions.VectorExpressions.register(spark)
    rows.toDF("a", "b").createOrReplaceTempView("vecs")
    val sqlRes = spark.sql(
      "SELECT graft_dot(transform(a, x -> cast(x as double)), " +
        "transform(b, x -> cast(x as double))) AS d FROM vecs")
    assert(sqlRes.collect().map(_.getDouble(0)).toSeq ==
      df.select("d1").collect().map(_.getDouble(0)).toSeq)
  }

  test("hyperplane buckets: identical and scaled vectors share a bucket") {
    val vecs = Seq(
      (1L, Array.fill(8)(0.5f)),
      (2L, Array.fill(8)(0.5f)),          // identical → same bucket
      (3L, Array.fill(8)(1.0f)),          // positive scale → same bucket
      (4L, Array.fill(8)(-0.5f)))         // flipped → different bucket
      .toDF("vec_id", "embedding")
    val prepared = VectorOps.prepared(vecs, "vec_id", "embedding")
    val buckets = VectorOps.hyperplaneBuckets(prepared, 8, 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(1L) == buckets(2L))
    assert(buckets(1L) == buckets(3L))
    assert(buckets(1L) != buckets(4L))
  }

  test("LSH banded probe reaches recall@5 >= 0.9 vs brute force") {
    // the multiprobe contract of pipeline_ann_lsh: OR-ing the 16-bit
    // signature as 8 bands x 2 bits recovers >= 90% of the exact top-5
    // (single-bucket equality alone is a filter, not a search).
    val dim = 64; val nBits = 16; val bandBits = 2
    val sigs = VectorOps.hyperplaneBuckets(
        VectorOps.prepared(
          graft.sources.Readers.table(spark, "/root/testdata/sf0.001",
            "embeddings"),
          "vec_id", "embedding"),
        dim, nBits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = graft.sources.Readers
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    def bands(sig: Long): Seq[(Int, Long)] =
      (0 until nBits / bandBits).map { b =>
        b -> ((sig >>> (b * bandBits)) & ((1L << bandBits) - 1))
      }
    val queries = vecs.keys.filter(_ < 20).toSeq
    val recalls = queries.map { q =>
      val exact = (vecs.keySet - q).toSeq
        .sortBy(n => (-cos(vecs(q), vecs(n)), n)).take(5).toSet
      val qBands = bands(sigs(q)).toSet
      val cands = (vecs.keySet - q)
        .filter(n => bands(sigs(n)).exists(qBands.contains))
      val approx = cands.toSeq
        .sortBy(n => (-cos(vecs(q), vecs(n)), n)).take(5).toSet
      exact.intersect(approx).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@5 = $mean")
  }

  test("rankedPrefix equals the per-group window under 90% skew") {
    import org.apache.spark.sql.expressions.Window
    // 10k rows, 90% in one group — the dominant-language shape the
    // two-phase scheme exists for; value is a small varying long
    val df = spark.range(10000).select(
      col("id"),
      when(col("id") % 10 =!= 0, lit("major"))
        .otherwise(concat(lit("minor"), col("id") % 7)).as("g"),
      (col("id") % 13).as("v"))
    val w = Window.partitionBy("g").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df
      .withColumn("rk", org.apache.spark.sql.functions.row_number()
        .over(Window.partitionBy("g").orderBy("id")).cast(LongType))
      .withColumn("cum", sum(col("v")).over(w))
      .select("id", "rk", "cum").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = SkewWindows
      .rankedPrefix(df, "g", Seq(col("id")), Some("v"), "rk", "cum")
      .select("id", "rk", "cum").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected && got.size == 10000)
    // the COST-BASED dispatcher: both branches must equal the window
    // truth, and the branch must flip exactly at the threshold
    def auto() = SkewWindows
      .rankedPrefixAuto(df, "g", Seq(col("id")), Some("v"), "rk", "cum")
      .select("id", "rk", "cum").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(auto() == expected) // 9k-row major group <= default 2e6
    assert(SkewWindows.lastAutoBranch == "window")
    spark.conf.set(SkewWindows.SmallGroupRowsKey, "100")
    try {
      assert(auto() == expected)
      assert(SkewWindows.lastAutoBranch == "twophase")
    } finally spark.conf.unset(SkewWindows.SmallGroupRowsKey)
  }

  test("sessionNumbers equals the lag+cumsum window under a hot key") {
    import org.apache.spark.sql.expressions.Window
    // 20k events, 50% on one hot user; timestamps jump so sessions
    // split both inside partitions and exactly at boundaries
    val df = spark.range(20000).select(
      col("id").as("eid"),
      when(col("id") % 2 === 0, lit(7L))
        .otherwise(col("id") % 37).as("u"),
      // gaps: mostly 10-min steps, every 13th event jumps 2 hours
      (col("id") * 600000000L +
        when(col("id") % 13 === 0, 7200000000L).otherwise(0L)).as("us"))
    val w = Window.partitionBy("u").orderBy(col("us"), col("eid"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("ns",
        when(col("us") - col("prev") <= 1800000000L, 0L).otherwise(1L))
      .withColumn("sess", sum(col("ns")).over(wRun))
      .select("eid", "sess").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SkewWindows
      .sessionNumbers(df, "u", "us", Seq(col("us"), col("eid")),
        1800000000L, "sess")
      .select("eid", "sess").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected && got.size == 20000)
  }

  test("carryForward equals last-ignoreNulls window under a hot key") {
    import org.apache.spark.sql.expressions.Window
    // as-of shape: 50% of rows on one hot key; nulls (left rows) read
    // the latest non-null (right) payload at or before them
    val df = spark.range(20000).select(
      col("id"),
      when(col("id") % 2 === 0, lit(7L)).otherwise(col("id") % 31).as("k"),
      when(col("id") % 3 === 0, struct(col("id").as("v")))
        .otherwise(lit(null)).as("p"))
    val w = Window.partitionBy("k").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df
      .withColumn("c", last(col("p"), ignoreNulls = true).over(w))
      .select(col("id"), col("c.v").as("cv")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    val got = SkewWindows
      .carryForward(df, "k", Seq(col("id")), "p", "c")
      .select(col("id"), col("c.v").as("cv")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got == expected && got.size == 20000)
  }

  test("rankedPrefix spreads the dominant group over many partitions") {
    // the point of the scheme: the 90% group must NOT collapse into one
    // task the way Window.partitionBy(g) would place it
    val df = spark.range(10000).select(
      col("id"),
      when(col("id") % 10 =!= 0, lit("major"))
        .otherwise(concat(lit("minor"), col("id") % 7)).as("g"),
      lit(1L).as("v"))
    val out = SkewWindows
      .rankedPrefix(df, "g", Seq(col("id")), None, "rk", "cum")
    val majorParts = out.filter(col("g") === "major")
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .distinct().count()
    // the test session runs few shuffle partitions; what matters is
    // MANY-not-ONE (Window.partitionBy would pin all 9k rows to 1)
    assert(majorParts >= 3,
      s"dominant group landed on only $majorParts partition(s)")
    val p = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Window ["), s"unexpected window operator:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange:\n$p")
  }

  test("SkewWindows phase-2 collect is O(partitions), not O(groups)") {
    import org.apache.spark.sql.expressions.Window
    // 20k rows over 5,000 distinct groups — per-user cardinality, the
    // shape the round-10 verdict flagged: the old per-(partition,
    // group) summary would collect ~5,000 rows here; boundary-only
    // must stay ≤ 2 per partition. Each function must ALSO still
    // equal its window form (interior groups default to zero-offset).
    val df = spark.range(20000).select(
      col("id"),
      (col("id") % 5000).as("g"),
      (col("id") % 7).as("v"),
      (col("id") * 600000000L).as("us"),
      when(col("id") % 3 === 0, col("id"))
        .otherwise(lit(null)).as("p"))
    def maxPhase2(op: String,
        out: org.apache.spark.sql.DataFrame): Int = {
      val parts = out.rdd.getNumPartitions
      val rows = SkewWindows.lastPhase2Rows(op)
      assert(rows >= 0)
      assert(rows <= 2 * parts,
        s"$op phase-2 collected $rows rows for " +
          s"$parts partitions — O(groups), not O(partitions)")
      parts
    }
    // rankedPrefix
    val w = Window.partitionBy("g").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expRk = df.withColumn("rk", row_number()
        .over(Window.partitionBy("g").orderBy("id")).cast(LongType))
      .withColumn("cum", sum(col("v")).over(w))
      .select("id", "rk", "cum").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val gotRkDf = SkewWindows
      .rankedPrefix(df, "g", Seq(col("id")), Some("v"), "rk", "cum")
    maxPhase2("rankedPrefix", gotRkDf)
    val gotRk = gotRkDf.select("id", "rk", "cum").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotRk == expRk && gotRk.size == 20000)
    // sessionNumbers (every 13th event jumps past the gap)
    val dfS = df.withColumn("us",
      col("us") + when(col("id") % 13 === 0, 7200000000L).otherwise(0L))
    val wS = Window.partitionBy("g").orderBy(col("us"), col("id"))
    val wRun = wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expSe = dfS.withColumn("prev", lag(col("us"), 1).over(wS))
      .withColumn("ns",
        when(col("us") - col("prev") <= 1800000000L, 0L).otherwise(1L))
      .withColumn("sess", sum(col("ns")).over(wRun))
      .select("id", "sess").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotSeDf = SkewWindows.sessionNumbers(dfS, "g", "us",
      Seq(col("us"), col("id")), 1800000000L, "sess")
    maxPhase2("sessionNumbers", gotSeDf)
    val gotSe = gotSeDf.select("id", "sess").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSe == expSe && gotSe.size == 20000)
    // carryForward
    val expCf = df.withColumn("c",
        last(col("p"), ignoreNulls = true).over(w))
      .select("id", "c").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    val gotCfDf = SkewWindows.carryForward(df, "g", Seq(col("id")), "p", "c")
    maxPhase2("carryForward", gotCfDf)
    val gotCf = gotCfDf.select("id", "c").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(gotCf == expCf && gotCf.size == 20000)
  }

  test("firstLastGroups emits exactly the boundary summaries") {
    import org.apache.spark.sql.Row
    // 300 sorted rows over 100 groups in one "partition": only the
    // first and last group may escape, everything interior is dropped
    val rows = (0 until 300).map(i => Row(i / 3, i.toLong)).iterator
    val out = SkewWindows.firstLastGroups[Array[Long]](rows, 0,
      init = r => Array(r.getLong(1)),
      update = (a, r) => a(0) += r.getLong(1)).toList
    assert(out.map(_._1) == List(0, 99))
    assert(out.head._2(0) == 0L + 1 + 2)       // group 0: rows 0,1,2
    assert(out.last._2(0) == 297L + 298 + 299) // group 99
    // single-group partition: one summary, fully folded
    val one = SkewWindows.firstLastGroups[Array[Long]](
      (0 until 5).map(i => Row(7, i.toLong)).iterator, 0,
      init = r => Array(r.getLong(1)),
      update = (a, r) => a(0) += r.getLong(1)).toList
    assert(one.map(_._1) == List(7) && one.head._2(0) == 10L)
    assert(SkewWindows.firstLastGroups[Array[Long]](Iterator.empty, 0,
      r => Array(0L), (a, r) => ()).isEmpty)
  }

  // ---------------- Graphs ----------------

  test("pageRank equals a sequential replay of the integer recurrence") {
    // seeded random digraph with a hub (node 0 gets 30% of in-edges)
    // and a DANGLING node (99 appears only as dst) so the
    // dangling-mass branch is exercised, not just compiled
    val rnd = new scala.util.Random(7)
    val raw = Seq.fill(400) {
      val s = rnd.nextInt(99) // 99 never a src => dangling
      val d = if (rnd.nextInt(10) < 3) 0L else rnd.nextInt(100).toLong
      (s.toLong, d)
    }.filter { case (a, b) => a != b } :+ ((1L, 99L))
    val edges = raw.toDF("src", "dst")
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val got = Graphs.pageRank(edges.repartition(7), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // sequential replay, same floor-division arithmetic
    val w = raw.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val wout = w.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val nodes = (raw.map(_._1) ++ raw.map(_._2)).distinct.sorted
    val n = nodes.size
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val in = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      w.foreach { case ((s, d), wt) =>
        in(d) += r(s) * wt / wout(s)
      }
      val dang = nodes.filterNot(wout.contains).map(r).sum / n
      r = nodes.map(v => v -> (150000L + 85L * (in(v) + dang) / 100L)).toMap
    }
    assert(got == r && got.size == n)
  }

  test("pageRank is bit-identical across partitionings") {
    val edges = spark.range(3000).select(
      (col("id") % 61).as("src"), ((col("id") * 13 + 5) % 61).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val a = Graphs.pageRank(edges.repartition(1), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Graphs.pageRank(edges.repartition(17), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("hits equals a sequential replay of the integer recurrence") {
    val rnd = new scala.util.Random(13)
    // hub-shaped digraph + node 77 with only in-edges (authority-only)
    val raw = (Seq.fill(300) {
      val s = rnd.nextInt(60).toLong
      val d = if (rnd.nextInt(10) < 4) 0L else rnd.nextInt(60).toLong
      (s, d)
    } :+ ((5L, 77L))).filter { case (a, b) => a != b }
    val edges = raw.toDF("src", "dst")
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val (aDf, hDf) = Graphs.hits(edges.repartition(5), iters = 2)
    val gotA = aDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotH = hDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val w = raw.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val nodes = (raw.map(_._1) ++ raw.map(_._2)).distinct
    def half(score: Map[Long, Long], fromSrc: Boolean): Map[Long, Long] = {
      val acc = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      w.foreach { case ((s, d), wt) =>
        if (fromSrc) acc(d) += score(s) * wt else acc(s) += score(d) * wt
      }
      val mx = math.max(if (acc.isEmpty) 0L else acc.values.max, 1L)
      nodes.map(v => v -> acc(v) * 1000000L / mx).toMap
    }
    var h = nodes.map(_ -> 1000000L).toMap
    var a = h
    for (_ <- 1 to 2) {
      a = half(h, fromSrc = true)
      h = half(a, fromSrc = false)
    }
    assert(gotA == a && gotH == h && gotA.size == nodes.size)
    assert(gotA(77L) > 0 && gotH(77L) == 0) // sink: authority-only
  }

  test("degree-oriented triangle counts equal the naive triple join") {
    // seeded random graph with a heavy hub: node 0 touches ~half of
    // all edges, exactly the shape the orientation exists to survive
    val rnd = new scala.util.Random(11)
    val raw = Seq.fill(500) {
      val a = if (rnd.nextBoolean()) 0L else rnd.nextInt(40).toLong
      val b = rnd.nextInt(40).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct
    val e = raw.toDF("a", "b")
    val got = Graphs.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive a<b<c closure on the driver
    val es = raw.toSet
    val tri = for {
      (a, b) <- raw
      c <- (b + 1) to 39L
      if es.contains((b, c)) && es.contains((a, c))
    } yield (a, b, c)
    val expected = tri.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == expected && tri.nonEmpty)
  }

  /** Higher-order-function twin of `HashedLinear.scoreColumn`, the
    * formulation the DuckDB oracles replay in SQL: the differential
    * reference for the codegen'd expression. */
  private def scoreColumnHof(buckets: org.apache.spark.sql.Column,
      weights: Array[Long]) = {
    val wLit = typedlit(weights.toSeq)
    aggregate(buckets, lit(0L),
      (acc, b) => acc + element_at(wLit, (b + 1).cast(IntegerType)))
  }

  test("BucketDotExpr is bit-equal to the interpreted HOF fold") {
    import org.apache.spark.sql.functions._
    import graft.ops.HashedLinear
    // pseudo-random signed table over the full bucket range, exercised
    // by the REAL corpus hash (every row's buckets come from the shared
    // char-polynomial expression the oracles replay)
    val w = Array.tabulate(HashedLinear.Buckets)(i =>
      (i * 2654435761L) % 2001L - 1000L)
    val prep = graft.sources.Readers.table(spark, "/root/testdata/sf0.001",
        "documents")
      .select(col("doc_id"),
        expr(HashedLinear.bucketsExprSql("text")).as("bk"))
    val both = prep
      .withColumn("fast", HashedLinear.scoreColumn(col("bk"), w))
      .withColumn("slow", scoreColumnHof(col("bk"), w))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
    assert(both.count() == 500)
    // null input stays null; empty array folds to 0 in both
    val edge = spark.sql(
      "SELECT CAST(NULL AS ARRAY<BIGINT>) AS bk UNION ALL " +
      "SELECT CAST(ARRAY() AS ARRAY<BIGINT>)")
    val er = edge.select(HashedLinear.scoreColumn(col("bk"), w).as("f"),
        scoreColumnHof(col("bk"), w).as("s"))
      .collect().map(r => (r.isNullAt(0), if (r.isNullAt(0)) -1L else r.getLong(0),
        r.isNullAt(1))).toSeq
    assert(er.map(_._1) == er.map(_._3), "null-propagation must match")
    assert(er.exists(t => !t._1 && t._2 == 0L), "empty array folds to 0")
    // a NULL ELEMENT propagates to a NULL result in both formulations
    // (the HOF's `a + element_at(...)` nulls the fold; the codegen'd
    // expression must not read it as 0 — r13 advice)
    val nullElem = spark.sql(
      "SELECT ARRAY(CAST(1 AS BIGINT), CAST(NULL AS BIGINT)) AS bk")
      .select(HashedLinear.scoreColumn(col("bk"), w).as("f"),
        scoreColumnHof(col("bk"), w).as("s"))
      .collect()(0)
    assert(nullElem.isNullAt(0) && nullElem.isNullAt(1),
      "null element must null the dot in both the expr and the HOF twin")
    // an out-of-range bucket must fail fast, not silently skip
    val ex = intercept[Exception] {
      spark.sql(s"SELECT ARRAY(CAST(${HashedLinear.Buckets} AS BIGINT)) AS bk")
        .select(HashedLinear.scoreColumn(col("bk"), w)).collect()
    }
    def rootMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" ")
    assert(rootMsg(ex).contains("bucket out of range"))
  }

  test("TokenBucketsExpr is bit-equal to the interpreted HOF chain") {
    import org.apache.spark.sql.functions._
    import graft.ops.HashedLinear
    // real corpus: every document's bucket array must match the
    // triple-HOF formulation the DuckDB oracles transliterate
    val docs = graft.sources.Readers.table(spark, "/root/testdata/sf0.001",
        "documents")
      .select(col("text"))
    // adversarial shapes: consecutive/leading/trailing spaces (empty
    // tokens), empty string, single token, non-ASCII BMP and non-BMP
    // code points, tabs (NOT a separator for the single-space split)
    val edges = Seq("", " ", "  ", "a", "a b", "a  b ", " a", "a\tb",
      "héllo wörld", "😀 x", "x 😀",
      "the quick brown fox").toDF("text")
    Seq(docs, edges).foreach { df =>
      val both = df.select(
        HashedLinear.bucketsCol("text").as("fast"),
        expr(HashedLinear.bucketsExprSql("text")).as("slow"))
      assert(both.filter(not(col("fast") <=> col("slow"))).count() == 0)
    }
    // null text stays null in both
    val nr = spark.sql("SELECT CAST(NULL AS STRING) AS text")
      .select(HashedLinear.bucketsCol("text").as("fast"),
        expr(HashedLinear.bucketsExprSql("text")).as("slow"))
      .collect()(0)
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }

  test("MarkerHitsExpr is bit-equal to the interpreted filter-HOF twin") {
    import org.apache.spark.sql.functions._
    val markers = Seq("the", "a")
    // real corpus tokens: every doc's stopword count must match the
    // filter(isInCollection) formulation the DuckDB oracles
    // transliterate (list_filter ... IN ...)
    val docs = graft.sources.Readers.table(spark, "/root/testdata/sf0.001",
        "documents")
      .select(split(col("text"), " ").as("w"))
    // adversarial shapes: occurrence multiplicity, empty tokens (the
    // split keeps them), markers as substrings (no hit), case
    // sensitivity, empty array, null elements (dropped, not counted)
    val edges = Seq(
      Seq("the", "a", "the", "the"), Seq(""), Seq("a"), Seq("A", "THE"),
      Seq("theater", "ab", "a b"), Seq.empty[String],
      Seq("the", "", "a", "")).toDF("w")
    val withNulls = spark.sql(
      "SELECT array('the', CAST(NULL AS STRING), 'a', 'x') AS w")
    Seq(docs, edges, withNulls).foreach { df =>
      val both = df.select(
        TextOps.markerHits(col("w"), markers).as("fast"),
        TextOps.markerHitsHof(col("w"), markers).as("slow"))
      assert(both.filter(not(col("fast") <=> col("slow"))).count() == 0)
    }
    // null array stays null in both
    val nr = spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS w")
      .select(TextOps.markerHits(col("w"), markers).as("fast"),
        TextOps.markerHitsHof(col("w"), markers).as("slow"))
      .collect()(0)
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }
}
