package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (the 100 TB posture, SURVEY.md §4): filters
  * and projections must reach the parquet scan, small dims must
  * broadcast, aggregates must be partial+final. These lock in the plan
  * shapes `.explain` review arrived at — a regression here is a silent
  * 100× at scale even when results stay correct. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = Registry.byName(name).run(spark, dir)
    df.collect() // materialize so AQE finalizes (isFinalPlan=true)
    // keep only the final-plan section (the string also embeds the
    // pre-AQE initial plan, which double-counts operators)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  /** Pre-AQE physical plan — FileScan lines (PushedFilters/ReadSchema)
    * render untruncated here. */
  private def scanPlan(name: String): String =
    Registry.byName(name).run(spark, dir).queryExecution.sparkPlan.toString

  // ---- r16/r17 lakehouse registry: plan-drift gate (r16 verdict #7) ----
  // PLANS.md is regenerated per round but only eyeballed; these pins
  // make the r16 rows' load-bearing physical shapes fail `sbt test`
  // if a Spark upgrade (or a refactor) silently de-optimizes them.

  test("every r16/r17 manifest-table row plans its snapshot reads " +
      "from ManifestFileIndex — no listing-based scan may sneak back") {
    val manifestRows = Seq(
      "lake_cdc_replica", "lake_cdc_rowimages", "lake_cdc_rowimages_mor",
      "lake_check_constraint", "lake_concurrent_append",
      "lake_concurrent_delete_mor", "lake_concurrent_merge_mor",
      "lake_delete_dv", "lake_dv_compaction", "lake_join_dfp",
      "lake_join_dpp_manifest", "lake_manifest_evolution",
      "lake_merge_mor", "lake_optimize_zorder", "lake_singlepass_bloom",
      "lake_singlepass_dates", "lake_singlepass_decimal",
      "lake_skipping_strings", "lake_skipping_doubles",
      "lake_check_doubles", "lake_zorder_doubles",
      "lake_cdc_replica_evolved", "lake_partition_evolution",
      "lake_clone_materialize",
      "lake_restore", "lake_clone_shallow", "lake_expire_snapshots",
      "lake_snapshot_bytimestamp",
      "lake_snapshot_partitioned", "lake_write_singlepass",
      "lake_join_dfp_strings", "lake_skipping_strbloom",
      "stream_sink_point",
      "stream_cdc_replica_clone",
      "lake_embeddings_ann")
    manifestRows.foreach { name =>
      // pre-AQE plan: an empty-result row (the sf0.001 point lookup)
      // AQE-collapses to EmptyRelation in the FINAL plan, erasing the
      // scan; the location class is a planning-time property anyway
      val p = scanPlan(name)
      assert(p.contains("ManifestFileIndex"),
        s"$name lost the manifest-planned scan (Location class):\n" +
          p.take(3000))
    }
  }

  test("DV reads anti-join the BROADCAST vector side — deleted-rows-" +
      "sized, never a shuffle — on every registered MOR row") {
    Seq("lake_delete_dv", "lake_merge_mor").foreach { name =>
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"$name lost the broadcast DV anti-join:\n${p.take(3000)}")
      assert(!p.contains("SortMergeJoin"),
        s"$name shuffles for its DV anti-join:\n${p.take(3000)}")
    }
  }

  test("dynamic file pruning: the dim's runtime keys prune the fact " +
      "scan to a small file subset (file-count pin)") {
    val df = Registry.byName("lake_join_dfp").run(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val manifestScan = scans.find(
      _.relation.location.isInstanceOf[graft.sources.ManifestFileIndex])
      .getOrElse(fail(s"no manifest scan in lake_join_dfp:\n$scans"))
    // readVersionKeys pre-resolves the pruned file list, so the scan's
    // own file count IS the post-DFP set — compare against the
    // table's committed live set
    val pruned = manifestScan.selectedPartitions.totalNumberOfFiles
    val root = queries.MaintenanceQueries.multicolRoot(spark, dir)
    val total = graft.sources.ManifestLog.filesAsOf(root,
      graft.sources.ManifestLog.latestVersion(root).get).size
    assert(pruned < total,
      s"DFP must prune the fact files: read $pruned of $total")
  }

  test("string-keyed DFP prunes the lang-clustered fact scan to the " +
      "dim languages' files (file-count pin, r17)") {
    val df = Registry.byName("lake_join_dfp_strings").run(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val manifestScan = scans.find(
      _.relation.location.isInstanceOf[graft.sources.ManifestFileIndex])
      .getOrElse(fail(s"no manifest scan in lake_join_dfp_strings"))
    val pruned = manifestScan.selectedPartitions.totalNumberOfFiles
    val root = queries.WriterQueries.strSkipRoot(spark, dir)
    val total = graft.sources.ManifestLog.filesAsOf(root, 0).size
    assert(pruned < total,
      s"string DFP must prune the fact files: read $pruned of $total")
  }

  test("double data skipping prunes the price-clustered scan at " +
      "planning time (file-count pin, r17)") {
    val df = Registry.byName("lake_skipping_doubles").run(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val manifestScan = scans.find(
      _.relation.location.isInstanceOf[graft.sources.ManifestFileIndex])
      .getOrElse(fail(s"no manifest scan in lake_skipping_doubles"))
    // the pushed-down price band must prune during PLANNING — the
    // scan's selected partitions are the post-prune set
    val pruned = manifestScan.selectedPartitions.totalNumberOfFiles
    val root = queries.WriterQueries.dblSkipRoot(spark, dir)
    val total = graft.sources.ManifestLog.filesAsOf(root, 0).size
    assert(pruned < total,
      s"double stats must prune the price files: read $pruned of $total")
  }

  test("embeddings-over-manifest ANN: the tiny query side broadcasts " +
      "(nested-loop on the non-equi self-pair condition), the 200k-" +
      "vector corpus side streams once from the manifest scan, and " +
      "nothing degenerates to a cartesian (r19)") {
    val p = scanPlan("lake_embeddings_ann")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"ANN must never plan a cartesian:\n${p.take(3000)}")
    // the committed vec_id stats ride the scan's index entries — the
    // ARRAY payload column is must-read (no stats), but the scalar
    // prune machinery stays live beside it
    val root = queries.EmbeddingTableQueries.embTableRoot(spark, dir)
    val cs = graft.sources.ManifestLog.snapshot(root,
      graft.sources.ManifestLog.latestVersion(root).get).colStats
    assert(cs.nonEmpty && cs.values.forall(_.contains("vec_id")),
      "every embedding file must commit scalar vec_id stats")
  }

  test("pruned IVF ANN reads ONLY the probed cells' files (r20; the " +
      "r19 verdict's top next item): the corpus scan's file count is " +
      "strictly below the table's committed live set — vector search " +
      "over the manifest table no longer full-scans per query batch") {
    val df = Registry.byName("lake_embeddings_ann_pruned").run(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val manifestScan = scans.find(
      _.relation.location.isInstanceOf[graft.sources.ManifestFileIndex])
      .getOrElse(fail("no manifest scan in lake_embeddings_ann_pruned"))
    val pruned = manifestScan.selectedPartitions.totalNumberOfFiles
    val root = queries.EmbeddingTableQueries.embIvfRoot(spark, dir)
    val total = graft.sources.ManifestLog.filesAsOf(root,
      graft.sources.ManifestLog.latestVersion(root).get).size
    assert(pruned < total,
      s"probed cells must prune the corpus files: read $pruned of $total")
    // and the committed layout actually clusters: every file carries
    // cell stats for the prune to act on
    val cs = graft.sources.ManifestLog.snapshot(root,
      graft.sources.ManifestLog.latestVersion(root).get).colStats
    assert(cs.nonEmpty && cs.values.forall(_.contains("cell")),
      "every IVF file must commit scalar cell stats")
  }

  test("null-count skipping prunes IS NOT NULL to the null-free " +
      "files at planning time (file-count pin, r18)") {
    val df = Registry.byName("lake_skipping_nulls").run(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val manifestScan = scans.find(
      _.relation.location.isInstanceOf[graft.sources.ManifestFileIndex])
      .getOrElse(fail(s"no manifest scan in lake_skipping_nulls"))
    val pruned = manifestScan.selectedPartitions.totalNumberOfFiles
    val root = queries.WriterQueries.nullSkipRoot(spark, dir)
    val total = graft.sources.ManifestLog.filesAsOf(root, 0).size
    // the exact expectation: every file with at least one non-null
    // opt_ts survives, every all-null file drops
    val want = graft.sources.ManifestLog.snapshot(root, 0).nullStats
      .values.count(_.get("opt_ts").forall(s => s.nulls < s.rows))
    assert(pruned == want && pruned < total,
      s"IS NOT NULL must scan exactly the $want files with non-null " +
        s"rows: read $pruned of $total")
  }

  test("partition-spec addition: day = D statically prunes to that " +
      "day's directory and excludes every pre-evolution file; " +
      "day IS NULL selects exactly the old layout (r17)") {
    import org.apache.spark.sql.functions.col
    val root = queries.MaintenanceQueries.partEvoRoot(spark, dir)
    val t = graft.sources.ManifestLog.readVersionHive(spark, root, 1)
    val total = graft.sources.ManifestLog.filesAsOf(root, 1).size
    val preFiles =
      graft.sources.ManifestLog.partFiles(root, "data/v0").size
    def scanFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.selectedPartitions.totalNumberOfFiles
    val d = t.filter(col("day").isNotNull)
      .select("day").head.getString(0)
    val dayScan = scanFiles(t.filter(col("day") === d))
    assert(dayScan < total - preFiles,
      s"day = $d must prune to the day's directory: $dayScan of $total")
    assert(scanFiles(t.filter(col("day").isNull)) == preFiles,
      "day IS NULL must select exactly the pre-evolution files")
  }

  test("recursive CTE SQL never degenerates to a cartesian loop") {
    val p = plan("sql_recursive_cte")
    assert(!p.contains("CartesianProduct"),
      s"recursive CTE degenerated:\n${p.take(3000)}")
  }

  test("filter + projection push into the parquet scan") {
    val p = plan("parity_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)]"),
      s"filter not pushed:\n$p")
    // pruned read schema: only the 4 needed source columns
    assert(p.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string,value:double>"),
      s"columns not pruned:\n$p")
  }

  test("star join broadcasts every dimension") {
    val p = plan("lake_star_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, s"expected 3 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("pricing aggregate is partial+final with codegen") {
    val p = plan("lake_agg_pricing")
    assert(p.contains("partial_sum"), s"no partial (map-side) agg:\n$p")
    // whole-stage codegen stages render as "*(n)" operator prefixes
    assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined, s"no codegen:\n$p")
    val sp = scanPlan("lake_agg_pricing")
    assert(sp.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"date filter not pushed to scan:\n$sp")
  }

  test("global top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("lake_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not heap-based:\n$p")
  }

  test("songplays star broadcasts the time dim (J2 small side)") {
    // the id assignment checkpoints the joined fact, so assert the
    // broadcast on the pre-id join stage (the plan the cluster executes)
    val df = graft.queries.ParityQueries.songplaysJoined(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), s"time dim not broadcast:\n$p")
  }

  test("songplays fact id is assigned with no single-partition exchange") {
    // the two-phase partition-offset id (graft.ops.Ids) must not fall
    // back to a global window: an Exchange SinglePartition here funnels
    // the whole fact table through one task at 100 TB
    val p = plan("parity_songplays_star")
    assert(!p.contains("SinglePartition"),
      s"single-task stage in the fact build:\n$p")
  }

  test("id phase 1 shuffles by key range, never SinglePartition") {
    // the post-materialization plan above only shows the narrow tail;
    // this pins the PRE-pin phase-1 plan — the exchange that actually
    // moves the fact rows — so a single-task regression inside
    // Ids.orderedId itself cannot hide behind the persist
    import org.apache.spark.sql.functions.col
    val p = graft.ops.Ids.phase1(
        graft.queries.ParityQueries.songplaysJoined(spark, dir),
        Seq(col("event_id"), col("ts_ms")))
      .queryExecution.sparkPlan.toString
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"phase 1 must range-partition:\n$p")
    assert(!p.contains("SinglePartition"),
      s"single-task stage in id phase 1:\n$p")
  }

  test("vocab top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("pipeline_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not heap-based:\n$p")
  }

  test("LSH bucketing is a narrow map: literal planes, no join") {
    // the signature is per-row dot products against inlined plane
    // literals — a plan with any join (the old broadcast-plane-table
    // formulation) reintroduces two shuffles per signature
    val p = plan("pipeline_ann_lsh")
    assert(!p.contains("Join"), s"LSH signature must not join:\n$p")
  }

  test("multimodal decode stays a narrow per-partition pipeline") {
    val p = plan("pipeline_multimodal_decode")
    assert(!p.contains("Join"), s"decode must not join:\n$p")
    // exactly TWO shuffles, both deliberate: the 8-byte-per-row id
    // repartition that spreads the CPU-bound codec stage over
    // cores-many partitions (the parquet scan's row-group split is 2-4
    // partitions however big the corpus — r13 100x probe), and the
    // final presentation sort. Anything more means the codec stages
    // stopped pipelining.
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"decode should shuffle exactly twice (id spread + sort):\n$p")
    assert(p.contains("RoundRobinPartitioning") ||
      p.contains("roundrobin"),
      s"the id spread before the codec stage is missing:\n$p")
  }

  test("multimodal video frame sampling stays narrow per-partition") {
    val p = plan("pipeline_multimodal_video")
    assert(!p.contains("Join"), s"frame sampling must not join:\n$p")
    // same two-shuffle contract as the decode pin above
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"frame sampling should shuffle twice (id spread + sort):\n$p")
    assert(p.contains("RoundRobinPartitioning") ||
      p.contains("roundrobin"),
      s"the id spread before the codec stage is missing:\n$p")
  }

  test("IVF search broadcasts the cell-size lookup, never a cartesian") {
    val p = plan("pipeline_knn_ivf")
    // cell sizes are one row per label: the cap lookup must broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"cell-size lookup should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"IVF self-join degenerated to all-pairs:\n$p")
    // the self-join KEY must include the sub-cell (the cap's whole
    // point) — a bare substring match would still pass if the column
    // were computed but dropped from the join condition, so assert it
    // on a join operator's own line (AQE may pick broadcast at tiny SF,
    // sort-merge at scale; either way the keys must carry sub/sb)
    val joinKeyed = p.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) &&
        l.contains("sub#") && l.contains("sb#"))
    assert(joinKeyed, s"sub-cell not part of any join's keys:\n$p")
  }

  test("PII scrub stays a narrow codegen pipeline") {
    val p = plan("pipeline_pii_scrub")
    assert(!p.contains("Join"), s"scrub must not join:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"scrub should shuffle at most once (final sort):\n$p")
  }

  test("decontamination broadcasts the benchmark set, never a cartesian") {
    val p = plan("pipeline_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark set should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination degenerated to all-pairs:\n$p")
  }

  test("lang rebalance broadcasts the language stats, one corpus scan " +
      "in the replicate stage") {
    val p = plan("pipeline_lang_rebalance")
    assert(p.contains("BroadcastHashJoin"),
      s"language stats not broadcast:\n$p")
    // the languages-sized counts frame is pinned: the replicate stage
    // must scan the corpus exactly once
    assert("FileScan parquet".r.findAllIn(p).size <= 1,
      s"corpus scanned more than once in the final stage:\n$p")
    // (the one-row n_max side legitimately joins as a broadcast
    // nested-loop cross — languages-sized, not a degenerate shape)
    assert(!p.contains("CartesianProduct"), s"stats join degenerated:\n$p")
  }

  test("span corruption stays a narrow codegen pipeline") {
    val p = plan("pipeline_span_corrupt")
    // per-row array lambdas only: nothing may shuffle before the
    // presentation sort (one Exchange for the final orderBy is fine)
    assert(!p.contains("Exchange hashpartitioning"),
      s"span corruption shuffles mid-pipeline:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("incremental agg refresh reads only the latest view version") {
    val p = plan("lake_incremental_agg")
    // the registered read serves from the materialized v3 - one scan of
    // the days-sized view, no join back to the fact table
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"refresh read rescans history:\n$p")
    assert(!p.contains("Join"), s"unexpected join in the view read:\n$p")
  }

  test("snapshot diff joins exactly the two pinned versions") {
    val p = plan("lake_snapshot_diff")
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      s"diff should read exactly two version dirs:\n$p")
    assert(!p.contains("CartesianProduct"), s"diff degenerated:\n$p")
  }

  test("bloom decontamination probes before a shuffle verify join") {
    val p = plan("pipeline_decontam_bloom")
    // the bloom probe must gate the training shingles BEFORE the exact
    // verify join, and that join must be a shuffle join (the big-bench
    // shape the variant exists for), not a broadcast
    assert(p.contains("might_contain"), s"no bloom probe:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"verify join not a shuffle join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"degenerated to all-pairs:\n$p")
  }

  test("substring dedup counts shingles via partial agg, windows only per doc") {
    val p = plan("pipeline_dedup_substring")
    // occurrence counts must be a groupBy (map-side partial agg; AQE can
    // split a skewed shingle join key) — a count-over-window on the
    // shingle would put a ubiquitous shingle's whole corpus-wide df in
    // ONE window partition at 100 TB
    assert("partial_count".r.findAllIn(p.toLowerCase).nonEmpty,
      s"shingle counting lost its partial aggregate:\n$p")
    // the only window is the doc-partitioned gaps-and-islands row_number
    val windows = "Window".r.findAllIn(p).size
    assert(windows == 1, s"expected exactly 1 window op, got $windows:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"substring dedup degenerated to all-pairs:\n$p")
  }

  test("gap-fill grid pins its tiny event-type side as broadcast") {
    val p = plan("lake_resample_gapfill")
    // the hour×event_type grid is a genuine cross product; the distinct
    // event_type side is explicitly broadcast (plan stats under-estimate
    // a post-aggregate side, so AQE's runtime pick must not be
    // load-bearing) — it must plan as a broadcast nested-loop over the
    // tiny build side, never a shuffled CartesianProduct
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"grid cross side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"grid degenerated to a shuffled cartesian:\n$p")
  }

  test("bucketed join runs with no exchange between the bucketed scans") {
    val p = plan("lake_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
    // the co-located layout removes the per-query shuffle before the join:
    // the only exchange left is the one for the final groupBy aggregate
    val joinPart = p.split("SortMergeJoin").last
    assert(!joinPart.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles its inputs:\n$p")
    assert(p.contains("Bucketed: true"), s"scan not bucket-aware:\n$p")
  }

  test("forced merge hint yields SortMergeJoin for fact-fact join") {
    val p = plan("lake_join_bigbig")
    assert(p.contains("SortMergeJoin"), s"merge hint ignored:\n$p")
  }

  test("bloom runtime filter prunes the probe scan before its shuffle") {
    val p = plan("lake_join_bloom")
    assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
    // the bloom probe must sit between the lineitem scan and the first
    // exchange: in the plan string (parents print above children) that
    // means might_contain appears before the lineitem FileScan line with
    // no Exchange between them — i.e. the filter feeds the shuffle, not
    // the other way round
    val lines = p.linesIterator.toVector
    val bloomIdx = lines.indexWhere(_.contains("might_contain"))
    assert(bloomIdx >= 0, s"no bloom probe in the plan:\n$p")
    val scanIdx = lines.indexWhere(
      l => l.contains("FileScan") && l.contains("lineitem"), bloomIdx)
    assert(scanIdx > bloomIdx, s"bloom probe not over the lineitem scan:\n$p")
    assert(!lines.slice(bloomIdx + 1, scanIdx).exists(_.contains("Exchange")),
      s"bloom probe runs after the shuffle, not before:\n$p")
  }

  test("bloom runtime filter actually drops probe rows (superset, pruned)") {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Readers.table(spark, dir, "lineitem")
    val sel = graft.sources.Readers.table(spark, dir, "orders")
      .filter(col("o_orderkey") % 97 === 0).select("o_orderkey")
    val pruned = graft.ops.RuntimeFilters.bloomPruned(
      li, col("l_orderkey"), sel, col("o_orderkey"))
    val total = li.count()
    val kept = pruned.count()
    val exact = li.join(sel, li("l_orderkey") === sel("o_orderkey"),
      "left_semi").count()
    // superset of the true matches (no false negatives) …
    assert(kept >= exact, s"bloom dropped true matches: $kept < $exact")
    // … but with ~1% build selectivity and fpp=1% the scan must shed
    // the overwhelming majority of probe rows before any shuffle
    assert(kept <= exact + (total - exact) / 10,
      s"bloom pruned almost nothing: kept=$kept exact=$exact total=$total")
  }

  test("hive-partitioned layout enables partition pruning on read") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune").toString
    Registry.byName("parity_partitioned_write") // reuse the writer shape
    graft.sources.Readers.table(spark, dir, "lineitem")
      .withColumn("ship_year", org.apache.spark.sql.functions
        .year(org.apache.spark.sql.functions.col("l_shipdate")))
      .write.mode("overwrite").partitionBy("ship_year").parquet(out)
    val df = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("ship_year") === 1996)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(ship_year"),
      s"partition filter not applied:\n$p")
    // the data filter list must be empty — pruning happened at the
    // directory level, no per-row ship_year predicate remains
    assert(!p.contains("PushedFilters: [IsNotNull(ship_year"),
      s"ship_year leaked into data filters:\n$p")
  }

  test("dpp join prunes fact partitions from the runtime dim filter") {
    val p = plan("lake_join_dpp")
    // the partition filter on the fact scan must be DYNAMIC — produced
    // by the broadcast dim at runtime, not a static literal list
    assert(p.contains("dynamicpruning"), s"no runtime partition filter:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim side not broadcast:\n$p")
  }

  test("zorder layout prunes row groups on each predicate independently") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DateType
    val zdir = graft.queries.MaintenanceQueries.zorderedOrdersDir(spark, dir)
    // rows the parquet reader actually EMITTED (surviving row groups) —
    // a filter-only plan has no exchange, so no AQE wrapping and the
    // FileSourceScanExec sits directly in the executed plan
    def scanned(f: org.apache.spark.sql.DataFrame): Long = {
      f.collect()
      val scan = f.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      scan.metrics("numOutputRows").value
    }
    val total = spark.read.parquet(zdir).count()
    val byCust = scanned(spark.read.parquet(zdir)
      .filter(col("o_custkey").between(100, 200)))
    // date key stored as DATE in the layout copy: this Spark build's
    // parquet reader row-group-prunes int and date stats but never
    // timestamp stats (measured: identical layout, DATE scanned 63%,
    // LTZ/NTZ timestamp 100%) — see zorderedOrdersDir
    val byDate = scanned(spark.read.parquet(zdir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast(DateType) &&
        col("o_orderdate") < lit("1999-01-01").cast(DateType)))
    // each predicate ALONE must skip row groups — the property 1-D
    // clustering cannot deliver for the second key (a date-sorted
    // layout never prunes on custkey: every file spans all customers)
    assert(byCust < total * 85 / 100,
      s"custkey predicate pruned nothing: scanned $byCust of $total")
    assert(byDate < total * 85 / 100,
      s"date predicate pruned nothing: scanned $byDate of $total")
  }

  test("hilbert layout prunes row groups on each predicate independently") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DateType
    val hdir = graft.queries.MaintenanceQueries.hilbertOrdersDir(spark, dir)
    def scanned(f: org.apache.spark.sql.DataFrame): Long = {
      f.collect()
      f.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head.metrics("numOutputRows").value
    }
    val total = spark.read.parquet(hdir).count()
    val byCust = scanned(spark.read.parquet(hdir)
      .filter(col("o_custkey").between(40, 90)))
    val byDate = scanned(spark.read.parquet(hdir)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast(DateType) &&
        col("o_orderdate") < lit("2000-01-01").cast(DateType)))
    assert(byCust < total * 85 / 100,
      s"custkey predicate pruned nothing: scanned $byCust of $total")
    assert(byDate < total * 85 / 100,
      s"date predicate pruned nothing: scanned $byDate of $total")
  }

  test("salted join shuffles on the composite (key, salt)") {
    val p = plan("lake_salted_join")
    // the exchange key must include the salt — that's the whole point:
    // each hot supplier key spreads over nSalt partitions
    assert(p.contains("salt"), s"salt not in the plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"salting degenerated:\n$p")
  }

  test("as-of join plans as a single window pass, no nested-loop join") {
    val p = plan("lake_asof_join")
    assert(p.contains("Window"), s"as-of not window-based:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"as-of degenerated to a quadratic join:\n$p")
  }

  test("kmeans: centroids broadcast, argmin and sums aggregate partial") {
    val p = scanPlan("pipeline_kmeans_train")
    // both Lloyd rounds must broadcast the k-row centroid side — a
    // shuffled cross join against the point set is the 100 TB killer
    assert("BroadcastNestedLoopJoin BuildRight, Cross".r
      .findAllIn(p).size == 2, s"centroids not broadcast per round:\n$p")
    // argmin via min_by keeps map-side combine (vs a window sort)
    assert(p.contains("partial_min_by"), s"argmin not partial:\n$p")
    // (cid, dim) sums combine map-side before the fixed-width shuffle
    assert(p.contains("partial_sum"), s"update sums not partial:\n$p")
  }

  test("tfidf: rank<=5 prunes inside the window, df broadcasts, " +
    "count scan reads zero columns") {
    val p = scanPlan("pipeline_tfidf_topk")
    // Spark 3.5+ WindowGroupLimit: only each group's top 5 rows cross
    // the final window sort instead of every (doc, token) pair
    assert(p.contains("WindowGroupLimit"), s"top-k not window-pruned:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df side not broadcast:\n$p")
    assert(p.contains("ReadSchema: struct<>"),
      s"doc-count scan reads columns it doesn't need:\n$p")
  }

  test("source mix broadcasts targets; no per-stratum sort or window") {
    val p = plan("pipeline_source_mix")
    // derived targets are one row per language: must broadcast back
    assert(p.contains("BroadcastHashJoin"), s"targets not broadcast:\n$p")
    // selection is a hash-threshold filter — a Window here would mean a
    // single-task sort per language when one language dominates
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1 &&
      !p.contains("SortMergeJoin"), s"unexpected shuffle:\n$p")
  }

  test("dupfrac aggregates partial+final after one df window") {
    val p = plan("pipeline_quality_dupfrac")
    assert(p.contains("Window"), s"df window missing:\n$p")
    assert(p.contains("partial_count"), s"agg not partial+final:\n$p")
    assert(!p.contains("Join"), s"dupfrac must not join:\n$p")
  }

  test("containment verify and expansion joins stay shuffle joins") {
    val p = plan("pipeline_dedup_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"quadratic join shape:\n$p")
    // five merge-hinted joins (two verify sides on the shingle arrays,
    // the within-class self-join, both output expansions): the array
    // side broadcasting is the measured driver-memory cliff (SURVEY
    // §6.1) — if a hint is dropped this count falls
    assert("SortMergeJoin".r.findAllIn(p).size >= 5,
      s"expected >=5 pinned shuffle joins:\n$p")
  }

  test("semantic dedup: trained centroids broadcast, in-cell pair join " +
      "keyed by sub-cell, never a cartesian pair stage") {
    // the full query checkpoints the assignment (it feeds 5 branches),
    // so the Lloyd rounds are asserted on the LAZY stage: 2 train + 1
    // final assignment = 3 centroid broadcasts, exactly
    import graft.ops.KMeans
    val pts = KMeans.quantize(graft.sources.Readers
      .table(spark, dir, "embeddings"))
    val lazyAssign = KMeans.assign(pts, KMeans.train(pts, 8, 2, dims = 64))
    val tp = lazyAssign.queryExecution.sparkPlan.toString
    assert("BroadcastNestedLoopJoin BuildRight, Cross".r
      .findAllIn(tp).size == 3, s"centroids not broadcast per round:\n$tp")
    val p = scanPlan("pipeline_semantic_dedup")
    assert(!p.contains("CartesianProduct"), s"all-pairs stage:\n$p")
    // the pair self-join must carry the cap's sub-cell in its keys
    val joinKeyed = p.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) &&
        l.contains("sub#") && l.contains("sb#"))
    assert(joinKeyed, s"sub-cell not part of any join's keys:\n$p")
  }

  test("ingest semdedup: batch x corpus-cell pair join keyed by sub-cell, " +
      "no quadratic stage") {
    val p = scanPlan("pipeline_ingest_semdedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"quadratic pair stage:\n$p")
    // the one pair join must carry the cap's sub-cell in its keys —
    // candidates are batch x corpus within (cid, sub), so pair work is
    // cap * |batch| and the standing corpus is never self-joined
    val joinKeyed = p.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) &&
        l.contains("sub#") && l.contains("sb#"))
    assert(joinKeyed, s"sub-cell not part of any join's keys:\n$p")
  }

  test("filtered knn: metadata semi join prunes before the dot product") {
    val p = scanPlan("pipeline_knn_filtered")
    assert(p.contains("LeftSemi"), s"metadata filter not a semi join:\n$p")
    // plans print root-first: the cosine projection must sit DOWNSTREAM
    // of (printed before) the semi join — score only surviving rows
    val semi = p.indexOf("LeftSemi")
    val dot = p.indexOf("graft_dot")
    assert(dot >= 0 && dot < semi,
      s"dot product computed before the metadata filter:\n$p")
    // lang predicate reaches the documents scan
    assert(p.contains("EqualTo(lang,en)"), s"lang not pushed to scan:\n$p")
  }

  test("familiarity: vocabulary side broadcasts, aggs stay partial") {
    val p = plan("pipeline_quality_familiarity")
    assert(p.contains("BroadcastHashJoin"),
      s"vocabulary count not broadcast:\n$p")
    assert(p.contains("partial_count"), s"agg not partial+final:\n$p")
    assert(!p.contains("SortMergeJoin"), s"scoring join shuffled:\n$p")
  }

  test("token budget: one running-sum window, no join") {
    val p = plan("pipeline_token_budget")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"running sum not a window:\n$p")
    assert(!p.contains("Join"), s"token budget must not join:\n$p")
  }

  test("approx percentile: sketch row broadcasts back, no sort " +
      "anywhere before the final order") {
    val p = plan("lake_approx_percentile")
    assert(p.contains("BroadcastHashJoin"),
      s"per-group sketch row should broadcast:\n$p")
    assert(p.contains("approx_percentile"), s"sketch agg missing:\n$p")
    // the whole point of the sketch: no full sort of l_quantity — the
    // only Sort allowed is the 3-row final ORDER BY (and merge-join
    // sorts are excluded by the broadcast assertion above)
    assert("Sort ".r.findAllIn(p).size <= 1, s"unexpected sort:\n$p")
  }

  test("binaryFile ingest: decode stays narrow after the file scan") {
    val p = plan("pipeline_multimodal_ingest")
    assert(p.contains("binaryFile"), s"not a binaryFile scan:\n$p")
    assert(!p.contains("Join"), s"ingest+decode must not join:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"ingest should shuffle at most once (final sort):\n$p")
  }

  test("embed outliers: language centroids broadcast back") {
    val p = plan("pipeline_embed_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"centroid side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"outlier scoring degenerated to all-pairs:\n$p")
    assert(p.contains("partial_sum"), s"centroid agg not partial:\n$p")
  }

  test("dup span: occurrence counting is a window, not a self-join") {
    val p = plan("pipeline_dup_span")
    assert(p.contains("Window"), s"occ count not a window:\n$p")
    // exactly one join is allowed: the final left join back to docs
    assert("Join".r.findAllIn(p).size <= 2, s"unexpected self-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"all-pairs stage:\n$p")
  }

  test("bpe: rule selection is heap top-1, merge rebuild aggregates " +
      "partial, corpus scanned once per train") {
    import graft.ops.Bpe
    val words = graft.sources.Readers.table(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.explode(
        graft.ops.TextOps.tokens(
          org.apache.spark.sql.functions.col("text"))).as("word"))
      .withColumn("wc", org.apache.spark.sql.functions.lit(1L))
    // top-1 rule must be a bounded heap, not a global sort
    val bp = Bpe.bestPair(Bpe.initVocab(words))
      .queryExecution.sparkPlan.toString
    assert(bp.contains("TakeOrderedAndProject"),
      s"best pair not heap-based:\n$bp")
    // the merge rebuild aggregates (i, ns) pairs partial+final
    val (v1, _) = Bpe.mergeRound(Bpe.initVocab(words).localCheckpoint(true))
    // v1 is checkpointed — assert on the lazy rebuild instead
    val rb = Bpe.pairStats(v1).queryExecution.sparkPlan.toString
    assert(rb.contains("partial_sum"), s"pair stats not partial:\n$rb")
  }

  test("lm fluency: one vocabulary window, scoring join never cartesian") {
    val p = plan("pipeline_lm_fluency")
    assert(p.contains("Window"), s"prefix-total window missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"scoring agg not partial:\n$p")
  }

  test("ngram novelty: attribution join keyed on the shingle") {
    val p = plan("pipeline_ngram_novelty")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$p")
    val joinKeyed = p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("g#"))
    assert(joinKeyed, s"first-occurrence join not on the shingle:\n$p")
  }

  test("sequence packing tokenizes before the shuffle (text never moves)") {
    val df = Registry.byName("pipeline_pack_sequences").run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("MapGroups"), s"no per-shard fold:\n$p")
    val ex = p.indexOf("Exchange hashpartitioning")
    val tok = p.indexOf("split(text")
    // plans print root-first: the tokenizing Project must sit UPSTREAM
    // of (printed after) the exchange — only (doc_id, shard, n_tokens)
    // longs cross the wire
    assert(ex >= 0 && tok > ex, s"tokenization after the shuffle:\n$p")
  }

  test("per-language family has no per-language window (skew scale-out)") {
    import graft.ops.SkewWindows
    // token_budget / class_balance / curriculum_bins: a dominant
    // language must never funnel through one task AT SCALE —
    // rank/cumsum come from SkewWindows' range layout + narrow
    // assignment. Since r15 these callers go through the COST-BASED
    // dispatcher (r14 verdict #3), so the scale posture is pinned with
    // the threshold forced to 0: the plan must show NO Window operator
    // and a rangepartitioning exchange (inside the persisted phase-1
    // relation). At test scale the dispatcher legitimately picks the
    // plain window — the both-branch equality test covers that side.
    spark.conf.set(SkewWindows.SmallGroupRowsKey, "0")
    try {
      for (q <- Seq("pipeline_token_budget", "pipeline_class_balance",
          "pipeline_curriculum_bins", "lake_sessionize")) {
        val df = Registry.byName(q).run(spark, dir)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(!p.contains("Window ["), s"$q has a window operator:\n$p")
        val full = df.queryExecution.executedPlan.toString
        assert(full.contains("rangepartitioning") ||
          full.contains("REPARTITION_BY_RANGE"),
          s"$q lost the range layout:\n$full")
        graft.Caches.clearAll(spark)
      }
    } finally spark.conf.unset(SkewWindows.SmallGroupRowsKey)
  }

  test("lake_window_ranks dispatches on group size: plain window on " +
      "small groups, range layout when forced past the threshold") {
    import graft.ops.SkewWindows
    // small test input: every group fits one task, so the COST-BASED
    // dispatcher must pick the plain per-group window (the r13 watch
    // item: two-phase costs 4-9x here for nothing)
    val df1 = Registry.byName("lake_window_ranks").run(spark, dir)
    df1.collect()
    assert(SkewWindows.lastAutoBranch == "window")
    val p1 = df1.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p1.contains("Window ["), s"fallback window not chosen:\n$p1")
    graft.Caches.clearAll(spark)
    // threshold forced to 0: the two-phase branch must take over with
    // the range layout and NO per-group window operator
    spark.conf.set(SkewWindows.SmallGroupRowsKey, "0")
    try {
      val df2 = Registry.byName("lake_window_ranks").run(spark, dir)
      df2.collect()
      assert(SkewWindows.lastAutoBranch == "twophase")
      val p2 = df2.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p2.contains("Window ["), s"window despite forced branch:\n$p2")
      val full = df2.queryExecution.executedPlan.toString
      assert(full.contains("rangepartitioning") ||
        full.contains("REPARTITION_BY_RANGE"),
        s"two-phase branch lost the range layout:\n$full")
      // both branches produce the identical result frame
      assert(df1.collect().toSeq == df2.collect().toSeq)
    } finally spark.conf.unset(SkewWindows.SmallGroupRowsKey)
    graft.Caches.clearAll(spark)
  }

  test("every rankedPrefixAuto adopter returns the identical frame on " +
      "both dispatch branches (r14 verdict #3)") {
    import graft.ops.SkewWindows
    // the r15 adopters: lang-keyed budget/balance/bins, the bm25
    // postings rank (probe = the free df column), and curate_full's
    // constant-group global cumsum
    val adopters = Seq("pipeline_token_budget", "pipeline_class_balance",
      "pipeline_curriculum_bins", "pipeline_bm25_query",
      "pipeline_curate_full")
    for (q <- adopters) {
      val small = Registry.byName(q).run(spark, dir).collect().toSeq
      assert(SkewWindows.lastAutoBranch == "window",
        s"$q: expected window branch at test scale")
      graft.Caches.clearAll(spark)
      spark.conf.set(SkewWindows.SmallGroupRowsKey, "0")
      try {
        val forced = Registry.byName(q).run(spark, dir).collect().toSeq
        assert(SkewWindows.lastAutoBranch == "twophase",
          s"$q: threshold 0 did not force the two-phase branch")
        assert(forced == small, s"$q: branches disagree")
      } finally spark.conf.unset(SkewWindows.SmallGroupRowsKey)
      graft.Caches.clearAll(spark)
    }
  }

  test("quality classifier inference is narrow: range exchanges only, " +
      "no explode, no single-task stage") {
    // the hashed linear model must stay inside per-row higher-order
    // functions — a Generate (explode) in the INFERENCE plan means
    // token rows started moving, which is the difference between an
    // embarrassingly parallel scoring pass and a shuffle of the whole
    // corpus at 100 TB. (Training DOES explode tokens, but eagerly in
    // its own 4096-key aggregation jobs before this plan exists — the
    // learned table enters here as one ArrayData literal.) The two
    // legal exchanges are both RANGE partitionings: the calibration
    // rank's orderedId layout and the final output sort; a
    // SinglePartition exchange (global window) or a doc_id-keyed
    // aggregation would be the scale-killers this pin guards against.
    val p = plan("pipeline_quality_classifier")
    assert(!p.contains("Generate"), s"tokens exploded into rows:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(exchanges == rangeEx && exchanges <= 2,
      s"expected <=2 range exchanges (rank layout + sort), got " +
        s"$exchanges total / $rangeEx range:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange:\n$p")
    assert(!p.contains("Window ["), s"global window operator:\n$p")
    assert(!p.contains("HashAggregate") || // any agg must not be grouped
      !p.contains("Keys: [doc_id"), s"per-doc aggregation shuffle:\n$p")
  }

  test("pagerank iteration: dangling share broadcasts, no cartesian") {
    // the run-time loop cuts every iteration (localCheckpoint), which hides
    // the join shape behind ExistingRDD — assert on the un-cut step
    import org.apache.spark.sql.functions._
    val edges = spark.range(2000).select(
      (col("id") % 61).as("src"), ((col("id") * 13 + 5) % 61).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val outw = edges.groupBy("src").agg(sum("w").as("wout"))
    val ew = edges.join(outw, "src")
    val nodes = edges.select(col("src").as("v"))
      .union(edges.select(col("dst").as("v"))).distinct()
    val nNodes = broadcast(nodes.agg(count(lit(1)).as("n_nodes")))
    val r0 = nodes.select(col("v"), lit(1000000L).as("r"))
    val next = graft.ops.Graphs.step(ew, nodes, nNodes, r0, 150000L)
    next.collect()
    val p = next.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // both 1-row sides (n_nodes, dang) must come in as broadcasts and
    // never as a CartesianProduct; the contribution join may be
    // broadcast or shuffle depending on stats — both are fine
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row sides not broadcast-nested-loop joined:\n$p")
    assert(!p.contains("CartesianProduct"), s"unhinted cross join:\n$p")
  }

  test("AQE OptimizeSkewedJoin splits the skewed SMJ (bigbig shape)") {
    // The other half of the production skew answer (r11 verdict #5):
    // lake_salted_join hand-salts; stock AQE skew-join must ALSO be
    // demonstrated live on the lake_join_bigbig shape — a merge-hinted
    // fact⋈fact SMJ where 95% of fact rows share one key. Thresholds
    // are lowered to make the hot partition "skewed" at test size (the
    // defaults are sized for 256 MB partitions); the assertion is the
    // real one: the executed SMJ carries skew=true, i.e.
    // OptimizeSkewedJoin split the hot partition into advisory-sized
    // reads instead of leaving one straggler task.
    val keys = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      def run(): (Array[org.apache.spark.sql.Row], String) = {
        val fact = spark.range(200000).select(
          when(col("id") % 20 =!= 0, lit(0L))
            .otherwise(col("id") % 1000).as("k"),
          col("id").as("v"))
        val dim = spark.range(1000).select(
          col("id").as("k2"), (col("id") * 7L).as("w"))
        // group on a DERIVED column (year-of-date in lake_join_bigbig)
        // — aggregating on the join key itself would let the agg reuse
        // the join's hash partitioning, and OptimizeSkewedJoin (non-
        // forced) correctly refuses to split a stage whose partitioning
        // a downstream operator depends on
        val j = fact.join(dim.hint("merge"), col("k") === col("k2"))
          .groupBy((col("v") % 8L).as("b"))
          .agg(count(lit(1)).as("n"), sum("v").as("sv"), sum("w").as("sw"))
          .orderBy("b")
        val rows = j.collect()
        (rows, j.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head)
      }
      val (rows, p) = run()
      assert(p.contains("SortMergeJoin"), s"not an SMJ:\n$p")
      assert(p.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$p")
      // identical answer with the skew split OFF (same join, one
      // straggler partition) — the optimization must be plan-only
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val (rowsOff, pOff) = run()
      assert(!pOff.contains("skew=true"))
      assert(rows.map(_.toSeq).toSeq == rowsOff.map(_.toSeq).toSeq)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bm25: term list broadcasts, per-term top-5 is salted two-phase") {
    val p = plan("pipeline_bm25_topk")
    // the 5-term query list must broadcast into the postings join —
    // a shuffle there repartitions the whole tf frame for 5 keys
    assert(p.contains("BroadcastHashJoin"), s"terms not broadcast:\n$p")
    // phase-1 ranking must partition by (term, salt): a hot term's
    // postings are corpus-sized at 100 TB and may not rank on one task
    assert("windowspecdefinition\\(term[^)]*pmod".r.findFirstIn(p).isDefined
      || p.contains("pmod(doc_id"),
      s"salted phase-1 window missing:\n$p")
    assert("Window".r.findAllIn(p).size >= 2,
      s"expected two-phase window ranking:\n$p")
    assert(!p.contains("CartesianProduct"), s"unhinted cross join:\n$p")
  }

  test("domain affinity: scoring is join-free, top-200 is TakeOrdered") {
    val p = plan("pipeline_domain_affinity")
    // the histograms are baked into array literals (HashedLinear
    // inference pattern): the scoring plan must contain NO join and NO
    // aggregation exchange - one narrow fold per row over the
    // checkpointed bucket arrays
    assert(!p.contains("Join"), s"scoring plan joins:\n$p")
    // global top-200: per-partition heap + driver merge, no full sort
    assert(p.contains("TakeOrderedAndProject"), s"top-k sorts fully:\n$p")
    assert(!p.contains("Exchange"), s"scoring plan shuffles:\n$p")
  }

  test("filter funnel: one flag pass, partial aggregate, no cartesian") {
    val p = plan("pipeline_filter_funnel")
    // the funnel aggregate must be partial+final (map-side combine on
    // 6 groups), and the keeper join must never degrade to cartesian
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"funnel aggregate not partial+final:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in funnel:\n$p")
  }
}
