package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs on sf0.001 (t1 smoke tier) without
  * throwing; cross-algorithm consistency for the near-dup family; a few
  * golden counts measured on the deterministic testdata. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every queries entry has matching column names with its oracle") {
    // names must agree because the driver sorts columns by name — the
    // SQL itself is checked by tools/check.py; here we just pin the maps
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.toleranceSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // exact-hash and tolerance-mode oracles are disjoint routes
    assert((SparkEntry.oracleSql.keySet & SparkEntry.toleranceSql.keySet)
      .isEmpty)
    // since round 4 every registered query carries a DuckDB oracle —
    // the sketch/ANN queries oracle their deterministic contracts, and
    // tolerance-mode queries (ln-idf BM25) route via toleranceSql
    assert((SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet --
      SparkEntry.toleranceSql.keySet).isEmpty)
  }

  Registry.all.foreach { q =>
    test(s"${q.name} runs on sf0.001") {
      val df = q.run(spark, dir)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
      // same hygiene as Bench/Verify: pinned blocks must not accumulate
      // across the full registry sharing this test JVM
      Caches.clearAll(spark)
    }
  }

  test("near-dup quartet agrees (minhash = simhash = prefix = exact index)") {
    def pairs(name: String) =
      Registry.byName(name).run(spark, dir)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("pipeline_dedup_ngram")
    assert(exact.nonEmpty)
    assert(pairs("pipeline_dedup_minhash") == exact)
    assert(pairs("pipeline_dedup_simhash") == exact)
    assert(pairs("pipeline_dedup_prefix") == exact)
  }

  test("ingest near-dup equals the exact answer restricted to the split") {
    val exact = Registry.byName("pipeline_dedup_ngram").run(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = exact.collect {
      case (a, b) if (a % 10 == 7) != (b % 10 == 7) =>
        if (b % 10 == 7) (a, b) else (b, a) // (corpus, batch) orientation
    }
    val cross = Registry.byName("pipeline_ingest_neardup").run(spark, dir)
      .select("doc_corpus", "doc_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    assert(cross == expected)
  }

  test("containment dedup is asymmetric: excerpts flag one-way") {
    val rows = Registry.byName("pipeline_dedup_containment")
      .run(spark, dir).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted half-length excerpt (id+10000) is contained in its
    // source doc...
    val planted = rows.filter { case (a, b) => a == b + 10000 }
    assert(planted.nonEmpty)
    // ...and no source is ever "contained" in its half-length excerpt
    assert(planted.forall { case (a, b) => !rows.contains((b, a)) })
  }

  test("source mix downsamples the head language, keeps the tail") {
    val totals = graft.sources.Readers.table(spark, dir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Registry.byName("pipeline_source_mix").run(spark, dir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en (218 docs) exceeds its sqrt target and is downsampled; every
    // tail language (<=100 docs) caps at LEAST(ns,...) = ns and
    // survives intact — the rebalance the operator exists for
    assert(kept("en") < totals("en"))
    for ((lang, n) <- totals if lang != "en") assert(kept(lang) == n, lang)
  }

  test("unimax waterfill: budget respected with slack < m, caps honored") {
    val rows = Registry.byName("pipeline_unimax_epochs").run(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val budget = rows.map { case (_, n, cap, _, _) => cap * n }.sum / 2
    val alloc = rows.map(_._4).sum
    // floor divisions waste < 1 token per unsaturated source
    assert(alloc <= budget && budget - alloc < rows.length,
      s"alloc $alloc vs budget $budget")
    for ((src, n, cap, a, em) <- rows) {
      assert(a <= cap * n, s"$src over its cap")
      assert(em == a * 1000 / n, s"$src epochs_milli mismatch")
    }
    // the waterfill property: every unsaturated source sits at ONE
    // common level L; saturated sources are exactly at cap*n < L
    val levels = rows.filter { case (_, n, cap, a, _) => a < cap * n }
      .map(_._4).distinct
    assert(levels.length == 1, s"multiple water levels: $levels")
    val l = levels.head
    for ((src, n, cap, a, _) <- rows if a == cap * n)
      assert(cap * n <= l, s"saturated $src above the water level")
  }

  test("dupfrac is a valid fraction and flags the planted near-dups") {
    val rows = Registry.byName("pipeline_quality_dupfrac").run(spark, dir)
      .select("dup_frac").collect().map(_.getDouble(0))
    assert(rows.forall(f => f >= 0.0 && f <= 1.0))
    // planted near-dup pairs share most shingles — some doc must be
    // mostly duplicated n-grams
    assert(rows.exists(_ > 0.5))
  }

  test("semantic dedup: dup_of is a smaller-id same-cell neighbor") {
    val rows = Registry.byName("pipeline_semantic_dedup").run(spark, dir)
      .collect()
    val cellOf = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dups = rows.filter(!_.isNullAt(2))
    assert(dups.nonEmpty) // the planted embedding near-dups must surface
    dups.foreach { r =>
      assert(r.getLong(2) < r.getLong(0)) // canonical keeper has smaller id
      assert(cellOf(r.getLong(2)) == r.getLong(1)) // keeper shares the cell
      assert(r.getLong(3) == 0L) // flagged row is not kept
    }
  }

  test("RRF and Borda fusion agree on the consensus signal") {
    val borda = Registry.byName("pipeline_rank_fusion").run(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val rrf = Registry.byName("pipeline_rank_fusion_rrf").run(spark, dir)
      .collect()
    assert(rrf.length == 100)
    // same three ranks feed both, but RRF is top-heavy (rank 1 vs 2
    // dwarfs 100 vs 101) while Borda is linear — a MAJORITY of the
    // top-100 must agree (61/100 on this corpus), identity must not
    val overlap = rrf.map(_.getLong(0)).count(borda)
    assert(overlap >= 50, s"fusions diverged: only $overlap/100 shared")
    // the rrf score is exactly the fixed-order three-term reciprocal sum
    rrf.foreach { r =>
      val expected = (1.0 / (60.0 + r.getLong(1)) +
        1.0 / (60.0 + r.getLong(2))) + 1.0 / (60.0 + r.getLong(3))
      assert(r.getDouble(4) == expected)
    }
  }

  test("curate_full: budget binds and bins replay the greedy fold") {
    val rows = Registry.byName("pipeline_curate_full").run(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // budget stage cut something and never overshot
    assert(rows.map(_.getLong(2)).max <= 2000L)
    assert(rows.map(_.getLong(1)).min >= 3L) // borda = sum of 3 ranks
    // packing invariant per (shard, bin): offsets are the running fill,
    // capped at capacity (an oversize doc fills its bin exactly)
    rows.groupBy(r => (r.getLong(3), r.getLong(4))).values.foreach { rs =>
      var off = 0L
      rs.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(5) == off, s"offset broken in bin: $rs")
        off = math.min(off + r.getLong(6), 64L)
      }
    }
  }

  test("ingest semdedup: every gated row is batch, every keeper standing") {
    val rows = Registry.byName("pipeline_ingest_semdedup").run(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    // output covers exactly the arriving batch
    rows.foreach(r => assert(r.getLong(0) % 10 == 7))
    val dups = rows.filter(!_.isNullAt(2))
    assert(dups.nonEmpty) // planted embedding near-dups must surface
    dups.foreach { r =>
      assert(r.getLong(2) % 10 != 7,
        "dup_of must be a STANDING-corpus id, never another batch row")
      assert(r.getDouble(3) >= 0.4) // nearest neighbor clears the bar
      assert(r.getLong(4) == 0L)
    }
    rows.filter(_.isNullAt(2)).foreach { r =>
      assert(r.isNullAt(3) && r.getLong(4) == 1L)
    }
  }

  test("filtered knn: every neighbor passes the metadata filter") {
    val en = graft.sources.Readers.table(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = Registry.byName("pipeline_knn_filtered").run(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(en(r.getLong(2))))
    // filter-then-rank fills k for every query (en corpus >> 3)
    val perQuery = rows.groupBy(_.getLong(0)).values.map(_.length)
    assert(perQuery.forall(_ == 3))
  }

  test("token budget: maximal prefix per language, never over budget") {
    val rows = Registry.byName("pipeline_token_budget").run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._4 <= 2000L))
    // per language the admitted set is a doc_id-ordered prefix: each
    // cum is the previous cum plus this doc's tokens
    rows.groupBy(_._2).values.foreach { g =>
      val s = g.sortBy(_._1)
      s.zip(0L +: s.map(_._4)).foreach { case ((_, _, n, cum), prev) =>
        assert(cum == prev + n)
      }
    }
  }

  test("familiarity is >= 1 (every token contains its own occurrence)") {
    val rows = Registry.byName("pipeline_quality_familiarity")
      .run(spark, dir).select("familiarity").collect().map(_.getDouble(0))
    assert(rows.nonEmpty)
    assert(rows.forall(_ >= 1.0))
  }

  test("binaryFile ingest equals the in-table decode (two sources, " +
      "same pixels)") {
    def rows(name: String) = Registry.byName(name).run(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(rows("pipeline_multimodal_ingest") ==
      rows("pipeline_multimodal_decode"))
  }

  test("embedding outliers: 3 per language, ranked, nonnegative distance") {
    val rows = Registry.byName("pipeline_embed_outliers").run(spark, dir)
      .collect()
    val perLang = rows.groupBy(_.getString(0))
    assert(perLang.size == 5)
    perLang.values.foreach { g =>
      assert(g.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L))
    }
    assert(rows.forall(_.getDouble(3) >= 0.0))
  }

  test("dup spans: planted near-dup docs carry long verbatim runs") {
    val spans = Registry.byName("pipeline_dup_span").run(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spans.values.forall(_ >= 0L))
    // the planted near-dup pairs copy whole stretches of text — every
    // such doc must carry a multi-shingle verbatim run (edits land
    // every handful of tokens, so runs of >=5 shingles survive)
    val dupDocs = Registry.byName("pipeline_dedup_ngram").run(spark, dir)
      .select("doc_a").collect().map(_.getLong(0))
    assert(dupDocs.nonEmpty)
    dupDocs.foreach(d => assert(spans(d) >= 5L, s"doc $d span ${spans(d)}"))
  }

  test("class balance: every language lands exactly the minority count") {
    val rows = Registry.byName("pipeline_class_balance").run(spark, dir)
      .collect()
    val perLang = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(perLang.size == 5)
    assert(perLang.values.toSet.size == 1) // all equal
    val totals = graft.sources.Readers.table(spark, dir, "documents")
      .groupBy("lang").count().collect().map(_.getLong(1))
    assert(perLang.values.head.toLong == totals.min)
  }

  test("lm fluency: min_p is a probability; short docs score 1.0") {
    val rows = Registry.byName("pipeline_lm_fluency").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (d, n, p) =>
      assert(p > 0.0 && p <= 1.0, s"doc $d min_p $p")
      if (n == 0) assert(p == 1.0)
    }
    // a corpus with shared phrasing must produce a spread of scores
    assert(rows.map(_._3).distinct.length > 10)
  }

  test("ngram novelty: later near-dup partner scores low, spread is real") {
    val nov = Registry.byName("pipeline_ngram_novelty").run(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(nov.values.forall(v => v >= 0.0 && v <= 1.0))
    // in each planted near-dup pair the HIGHER id re-crawls the lower's
    // content — most of its shingles first occurred in the partner
    val pairs = Registry.byName("pipeline_dedup_ngram").run(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      val late = math.max(a, b)
      assert(nov(late) < 0.5, s"doc $late novelty ${nov(late)}")
    }
  }

  test("bpe segment: token count between word count and char count") {
    val rows = Registry.byName("pipeline_bpe_segment").run(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (bpe, chars, words) =>
      assert(bpe <= chars) // merges only shrink the char segmentation
      assert(bpe >= words) // a word never segments below one token
    }
    // the 3 learned merges must actually fire somewhere
    assert(rows.map(_._1).sum < rows.map(_._2).sum)
  }

  test("manifest skipping pruned the scan; merge COW carried untouched " +
      "files by identity (r15)") {
    import graft.sources.ManifestLog
    // sf0.01 (150 users over 8 range files) so the key bands are
    // narrower than the table — at sf0.001 every file intersects and
    // the prune is legitimately total
    val d01 = "/root/testdata/sf0.01"
    Registry.byName("lake_manifest_skipping").run(spark, d01).collect()
    val skipRoot = graft.TempDirs.cachedDir("graft_manifest_skip", d01)(_ =>
      fail("skipping root must already be built"))
    val all0 = ManifestLog.filesAsOf(skipRoot, 0)
    val hit0 = ManifestLog.filesMatching(
      ManifestLog.snapshot(skipRoot, 0), 1, 8)
    assert(hit0.nonEmpty && hit0.size < all0.size,
      s"user band [1,8] must prune the 8-file scan: ${hit0.size}/${all0.size}")

    Registry.byName("lake_merge_cow").run(spark, d01).collect()
    val cowRoot = graft.TempDirs.cachedDir("graft_merge_cow", d01)(_ =>
      fail("merge root must already be built"))
    val base = ManifestLog.filesAsOf(cowRoot, 0)
    val touched = ManifestLog.filesMatching(
      ManifestLog.snapshot(cowRoot, 0), 1, 50)
    val v1 = ManifestLog.filesAsOf(cowRoot, 1).toSet
    assert(touched.size < base.size,
      s"the merge band must beat a full rewrite: ${touched.size}/${base.size}")
    val untouched = base.filterNot(touched.contains)
    assert(untouched.nonEmpty && untouched.forall(v1.contains),
      "untouched base files must carry into v1 by identity")
    assert(touched.forall(f => !v1.contains(f)),
      "every touched file must be removed by the merge commit")
  }

  test("golden counts on sf0.001") {
    assert(Registry.byName("parity_time_dim").run(spark, dir).count() == 1000)
    assert(Registry.byName("pipeline_dedup_exact").run(spark, dir)
      .count() == 500)
    assert(Registry.byName("pipeline_knn_brute").run(spark, dir)
      .count() == 100) // 20 queries × top-5
  }

  test("domain affinity: the top-200 over-represents the target source") {
    // the score is supposed to SELECT the target domain — the selected
    // set's target share must beat the corpus share, or the likelihood
    // ratio is decorative
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Readers.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val tgt = docs.agg(min("source")).head().getString(0)
    def share(df: org.apache.spark.sql.DataFrame): Double = {
      val n = df.count().toDouble
      df.filter(col("source") === tgt).count().toDouble / n
    }
    val top = Registry.byName("pipeline_domain_affinity").run(spark, dir)
      .select("doc_id").join(docs, "doc_id")
    assert(share(top) > share(docs),
      s"top-200 target share ${share(top)} <= corpus ${share(docs)}")
    Caches.clearAll(spark)
  }

  test("filter funnel conserves documents and tokens") {
    import org.apache.spark.sql.functions._
    val funnel = Registry.byName("pipeline_filter_funnel").run(spark, dir)
    val total = funnel.agg(sum("n_docs"), sum("n_tokens")).head()
    val docs = graft.sources.Readers.table(spark, dir, "documents")
    val nDocs = docs.count()
    val nTok = docs.select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    // every doc in exactly one outcome; token mass preserved — a funnel
    // that double-counts or loses rows is worse than no funnel
    assert(total.getLong(0) == nDocs, s"doc conservation: $total vs $nDocs")
    assert(total.getLong(1) == nTok, s"token conservation: $total vs $nTok")
    Caches.clearAll(spark)
  }

  test("rank fusion: borda is the sum of its ranks, top-100 monotone") {
    val rows = Registry.byName("pipeline_rank_fusion").run(spark, dir)
      .collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) == r.getLong(4))
    }
    val bordas = rows.map(_.getLong(4)).toSeq
    assert(bordas == bordas.sorted, "output not ordered by borda")
    Caches.clearAll(spark)
  }
}
