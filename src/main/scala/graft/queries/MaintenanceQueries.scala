package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.sources.ManifestLog
import graft.sources.ManifestLog.{AddFile, Commit, FileStat}
import graft.sources.Readers.table

/** Data-lake maintenance operators (the category this engine lives in):
  * SCD-2 dimension upsert, small-file compaction, schema evolution on
  * read — each a deterministic round-trip whose oracle aggregates the
  * source, proving the maintenance op loses nothing. */
object MaintenanceQueries {

  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  // -------------------------------------------------------------------
  // SCD type-2 upsert (merge-into semantics on plain parquet).
  // -------------------------------------------------------------------
  private val scd2 = GraftQuery(
    name = "lake_scd2_upsert",
    doc = "Slowly-changing-dimension type 2 merge without a table " +
      "format: deterministic updates (every 7th customer upgrades to " +
      "segment VIP, +100 balance) applied as semi-join (close old " +
      "version) + anti-join (carry unchanged) + new versions — the " +
      "copy-on-write MERGE pattern for plain-parquet lakes. Whole " +
      "history reproducible in SQL → exact oracle.",
    oracle = Some("""
      WITH upd AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0)
      SELECT c.c_custkey, c.c_mktsegment AS segment, c.c_acctbal AS bal,
             1 AS version,
             CASE WHEN u.c_custkey IS NULL THEN 1 ELSE 0 END AS is_current
      FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
      UNION ALL
      SELECT c.c_custkey, 'VIP' AS segment, c.c_acctbal + 100.0 AS bal,
             2 AS version, 1 AS is_current
      FROM customer c JOIN upd u ON c.c_custkey = u.c_custkey
      ORDER BY c_custkey, version"""),
    run = (s, dir) => {
      val base = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          col("c_acctbal").as("bal"))
      val updKeys = base.filter(col("c_custkey") % 7 === 0)
        .select("c_custkey")
      val closed = base.join(updKeys, Seq("c_custkey"), "left_semi")
        .withColumn("version", lit(1)).withColumn("is_current", lit(0))
      val unchanged = base.join(updKeys, Seq("c_custkey"), "left_anti")
        .withColumn("version", lit(1)).withColumn("is_current", lit(1))
      val newRows = base.join(updKeys, Seq("c_custkey"), "left_semi")
        .withColumn("segment", lit("VIP"))
        .withColumn("bal", col("bal") + 100.0)
        .withColumn("version", lit(2)).withColumn("is_current", lit(1))
      closed.unionByName(unchanged).unionByName(newRows)
        .orderBy("c_custkey", "version")
    })

  // -------------------------------------------------------------------
  // Small-file compaction round-trip.
  // -------------------------------------------------------------------
  private val compaction = GraftQuery(
    name = "lake_compaction",
    doc = "Small-file compaction: fragment lineitem into 64 files, " +
      "compact to 4 with repartition, aggregate the compacted copy. " +
      "Oracle aggregates the source — the compaction moved bytes, not " +
      "rows. At 100 TB this is the scheduled maintenance that keeps " +
      "scan task counts sane; repartition(N) is the shuffle-based " +
      "rewrite (coalesce for the no-shuffle variant).",
    oracle = Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
    run = (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_compact").toString
      // the small-file problem is file COUNT, not row width — fragment a
      // working-set projection (key + the columns the downstream agg
      // reads) so the demo exercises 64-to-4 consolidation without
      // paying a double full-width table rewrite
      table(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
        .repartition(64)
        .write.mode("overwrite").parquet(s"$base/fragmented")
      s.read.parquet(s"$base/fragmented").repartition(4)
        .write.mode("overwrite").parquet(s"$base/compacted")
      s.read.parquet(s"$base/compacted")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    })

  // -------------------------------------------------------------------
  // Schema evolution on read (mergeSchema).
  // -------------------------------------------------------------------
  private val schemaEvolution = GraftQuery(
    name = "lake_schema_evolution",
    doc = "Schema evolution: two parquet generations of part (v2 adds " +
      "p_retailprice), read together with mergeSchema — old rows " +
      "surface NULL for the new column. The additive-column path every " +
      "long-lived lake table takes; oracle reconstructs the union " +
      "arithmetic from the source.",
    oracle = Some("""
      SELECT CAST(COUNT(*) * 2 AS BIGINT) AS n_rows,
             COUNT(*) AS n_with_price,
             CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM part"""),
    run = (s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_evolve").toString
      val part = table(s, dir, "part")
      part.select("p_partkey", "p_name")
        .write.mode("overwrite").parquet(s"$base/gen=1")
      part.select("p_partkey", "p_name", "p_retailprice")
        .write.mode("overwrite").parquet(s"$base/gen=2")
      s.read.option("mergeSchema", "true").parquet(base)
        .agg(count(lit(1)).as("n_rows"),
          count(col("p_retailprice")).as("n_with_price"),
          dsum(col("p_retailprice")).as("sum_price"))
    })

  // -------------------------------------------------------------------
  // Range-clustered write layout (min/max-pruning enabler).
  // -------------------------------------------------------------------
  private val rangeLayout = GraftQuery(
    name = "lake_range_layout",
    doc = "Write-layout clustering: repartitionByRange(o_orderdate) + " +
      "sortWithinPartitions before the write puts disjoint date ranges " +
      "in each file with sorted row groups — at 100 TB that's what makes " +
      "parquet min/max statistics actually skip IO for time filters " +
      "(Z-order-lite for a single key). Round-trip filtered aggregate " +
      "must equal the oracle over the unclustered source.",
    oracle = Some("""
      SELECT year(o_orderdate) AS y, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1 ORDER BY y"""),
    run = (s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_range").toString
      table(s, dir, "orders")
        .repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast(TimestampType))
        .groupBy(year(col("o_orderdate")).cast(LongType).as("y"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("y")
    })

  // -------------------------------------------------------------------
  // Z-order (Morton) multi-column clustered layout.
  // -------------------------------------------------------------------

  /** Writes a Z-ORDER-clustered copy of `orders` and returns its path:
    * both cluster keys (o_custkey, o_orderdate-as-day) are min/max
    * normalized to 8-bit ranks (the per-column range scan every engine's
    * Z-order write performs first; one-row bounds aggregate, broadcast
    * back — no driver round trip), bit-INTERLEAVED into a 16-bit Morton
    * code (pure shift/and/or codegen — key significance alternates at
    * every bit level, so a contiguous z range is a small box in BOTH
    * dimensions), then range-partitioned + sorted on the code. Each
    * output file therefore carries tight parquet min/max bounds on BOTH
    * raw columns — unlike 1-D clustering (lake_range_layout), where
    * every file spans the full domain of the second key — and a
    * predicate on EITHER column skips row groups. The z column itself
    * is dropped before the write: Z-order is pure layout, invisible to
    * readers.
    *
    * The date key is stored as DATE (int32 days) in the clustered copy:
    * measured on this Spark build, the parquet reader skips row groups
    * on int and date min/max statistics but never on timestamp columns
    * (both LTZ and NTZ variants scanned 100% in a controlled probe, the
    * identical layout as DATE scanned 63%) — so a layout whose cluster
    * key is day-granular MUST land it as a date column or the whole
    * point of the clustering is silently lost. */
  def zorderedOrdersDir(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_zorder", dir) { out =>
    val orders = table(s, dir, "orders")
    val day = datediff(col("o_orderdate"),
      lit("1970-01-01").cast(DateType)).cast(LongType)
    val bounds = orders.agg(
      min(col("o_custkey")).as("ck0"), max(col("o_custkey")).as("ck1"),
      min(day).as("d0"), max(day).as("d1"))
    val scaled = orders.withColumn("__day", day)
      .crossJoin(broadcast(bounds))
      // floor((x - min) * 256 / (max - min + 1)) ∈ [0, 255] — integer
      // arithmetic only, so the rank is exact and reproducible
      .withColumn("__zx", expr(
        "(CAST(o_custkey AS BIGINT) - ck0) * 256 div (ck1 - ck0 + 1)"))
      .withColumn("__zy", expr("(__day - d0) * 256 div (d1 - d0 + 1)"))
    val morton = (0 until 8).map { i =>
      shiftleft(shiftright(col("__zx"), i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(col("__zy"), i).bitwiseAND(lit(1L)),
            2 * i + 1))
    }.reduce(_ bitwiseOR _)
    scaled.withColumn("__z", morton)
      .repartitionByRange(16, col("__z"))
      .sortWithinPartitions("__z")
      .withColumn("o_orderdate", col("o_orderdate").cast(DateType))
      .select(orders.columns.map(col): _*)
      .write.mode("overwrite").parquet(out)
  }

  private val zorderLayout = GraftQuery(
    name = "lake_zorder_layout",
    doc = "Multi-column Z-order clustering (lake_range_layout's 1-D " +
      "limitation lifted): orders rewritten in Morton-code order over " +
      "(o_custkey, o_orderdate), then a box query filtering on BOTH " +
      "columns reads the clustered copy. At 100 TB this is the layout " +
      "that serves mixed customer+time predicates from one table copy: " +
      "row-group min/max stats are tight on both keys, so either " +
      "predicate alone skips IO (PlanSpec proves each independently " +
      "via scan-output row counts). Clustering is pure layout — the " +
      "oracle is the same box aggregate over the unclustered source.",
    oracle = Some("""
      SELECT o_orderpriority AS priority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE o_custkey BETWEEN 100 AND 200
        AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY 1 ORDER BY priority"""),
    run = (s, dir) => {
      val zdir = zorderedOrdersDir(s, dir)
      s.read.parquet(zdir)
        .filter(col("o_custkey").between(100, 200) &&
          col("o_orderdate") >= lit("1997-01-01").cast(DateType) &&
          col("o_orderdate") < lit("1999-01-01").cast(DateType))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("priority")
    })

  // -------------------------------------------------------------------
  // Hilbert-curve clustered layout (Z-order's better-locality sibling).
  // -------------------------------------------------------------------

  /** Canonical Hilbert xy2d over the 256×256 rank grid (Wikipedia's
    * rot+accumulate walk) — plain JVM arithmetic, evaluated ONCE per
    * grid cell on the driver to build the lookup dimension below. */
  private def xy2d(x0: Int, y0: Int): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 128
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * ((3 * rx) ^ ry)
      if (ry == 0) { // rotate: reflect (when rx=1) then swap axes
        if (rx == 1) { x = 255 - x; y = 255 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Hilbert-clustered copy of orders over the same normalized 8-bit
    * (custkey, day) ranks as [[zorderedOrdersDir]], but ordered by the
    * HILBERT index instead of the Morton code. The index comes from a
    * 65,536-row (x, y) → d lookup dimension generated driver-side with
    * the canonical xy2d walk and BROADCAST-joined onto the ranked rows
    * — constant-size at any data scale, and the honest alternative to
    * an expression-tree unroll of the walk, whose per-level rewrites
    * of x/y nest the previous level's trees and blow the plan up
    * exponentially (measured: a 104 MB task binary, then OOM).
    * Hilbert's guarantee over Morton: consecutive curve positions are
    * always ADJACENT cells, so a contiguous key range maps to a
    * tighter bounding box — fewer row groups touched per box predicate
    * at equal file counts. Same DATE-typed day key as the z-layout
    * (timestamp stats never prune on this Spark build). */
  def hilbertOrdersDir(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_hilbert", dir) { out =>
      val orders = table(s, dir, "orders")
      val day = datediff(col("o_orderdate"),
        lit("1970-01-01").cast(DateType)).cast(LongType)
      val bounds = orders.agg(
        min(col("o_custkey")).as("ck0"), max(col("o_custkey")).as("ck1"),
        min(day).as("d0"), max(day).as("d1"))
      val scaled = orders.withColumn("__day", day)
        .crossJoin(broadcast(bounds))
        .withColumn("__hx", expr(
          "(CAST(o_custkey AS BIGINT) - ck0) * 256 div (ck1 - ck0 + 1)"))
        .withColumn("__hy", expr("(__day - d0) * 256 div (d1 - d0 + 1)"))
      import s.implicits._
      val hmap = (for (x <- 0 until 256; y <- 0 until 256)
        yield (x.toLong, y.toLong, xy2d(x, y)))
        .toDF("__hx", "__hy", "__h")
      scaled.join(broadcast(hmap), Seq("__hx", "__hy"))
        .repartitionByRange(16, col("__h"))
        .sortWithinPartitions("__h")
        .withColumn("o_orderdate", col("o_orderdate").cast(DateType))
        .select(orders.columns.map(col): _*)
        .write.mode("overwrite").parquet(out)
    }

  private val hilbertLayout = GraftQuery(
    name = "lake_hilbert_layout",
    doc = "Hilbert-curve clustering - the same two-key layout problem " +
      "as lake_zorder_layout solved with the curve production engines " +
      "prefer when box-query IO matters most: the Hilbert walk never " +
      "jumps across the plane (every curve step is an adjacent cell), " +
      "so each file's bounding box is tighter than Morton's at equal " +
      "file counts and box predicates touch fewer row groups. Key " +
      "arithmetic is 8 unrolled reflect+swap levels of pure shift/and/" +
      "case codegen; clustering is pure layout, so the oracle is the " +
      "box aggregate over the unclustered source, and PlanSpec proves " +
      "per-dimension row-group skipping exactly as for Z-order.",
    oracle = Some("""
      SELECT o_orderstatus AS status, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE o_custkey BETWEEN 40 AND 90
        AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
      GROUP BY 1 ORDER BY status"""),
    run = (s, dir) => {
      val hdir = hilbertOrdersDir(s, dir)
      s.read.parquet(hdir)
        .filter(col("o_custkey").between(40, 90) &&
          col("o_orderdate") >= lit("1998-01-01").cast(DateType) &&
          col("o_orderdate") < lit("2000-01-01").cast(DateType))
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("status")
    })

  // -------------------------------------------------------------------
  // Snapshot / time-travel read over a versioned copy-on-write table.
  // -------------------------------------------------------------------
  private val snapshotRead = GraftQuery(
    name = "lake_snapshot_read",
    doc = "Snapshot / TIME-TRAVEL read: four deterministic change " +
      "batches (events bucketed by event_id % 4 — the streaming " +
      "upsert's racy file split can only oracle its FINAL state, so " +
      "the versioned table is built from a deterministic log) merged " +
      "into copy-on-write version dirs v0..v3, v{b} = SCD1-merge" +
      "(v{b-1}, batch b) — the same batchId-keyed idempotent pattern " +
      "stream_foreachbatch_upsert writes. The table is then read AS " +
      "OF v2: version addressing is path addressing, no log replay on " +
      "the read side, exactly how snapshot isolation works in every " +
      "copy-on-write table format (reads pin a version while writers " +
      "produce v3+). Oracle reconstructs v2 from the change log: " +
      "latest-per-user over batches 0..2 only. The merge combinator " +
      "(max latest-struct, sum count) is associative+commutative, so " +
      "the incremental merges provably equal the one-shot batch " +
      "answer the oracle computes.",
    oracle = Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        value
                 FROM events WHERE event_id % 4 <= 2),
      r AS (SELECT user_id, ts_us, event_id, value,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts_us DESC, event_id DESC) AS rk,
              COUNT(*) OVER (PARTITION BY user_id) AS n_events
            FROM e)
      SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
             value AS last_value, CAST(n_events AS BIGINT) AS n_events
      FROM r WHERE rk = 1 ORDER BY user_id"""),
    run = (s, dir) => {
      // TIME TRAVEL: the read pins version 2 while v3 already exists —
      // nothing but the path changes between "latest" and "as of"
      s.read.parquet(versionedEventsRoot(s, dir) + "/v2")
        .select(col("user_id"), col("latest.ts_us").as("last_ts_us"),
          col("latest.event_id").as("last_event_id"),
          col("latest.value").as("last_value"), col("n_events"))
        .orderBy("user_id")
    })

  /** Copy-on-write versioned table v0..v3 from the deterministic event
    * change batches (event_id % 4), v{b} = SCD1-merge(v{b-1}, batch b);
    * cached per sfDir (graft.TempDirs — the version log is table state
    * the snapshot/diff READS address, not the measured operator). */
  def versionedEventsRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_snapshot", dir) { root =>
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      def versionDir(b: Int) = s"$root/v$b"
      (0 to 3).foreach { b =>
        val batch = ev.filter(col("event_id") % 4 === b)
          .groupBy("user_id")
          .agg(max(struct(col("ts_us"), col("event_id"), col("value")))
            .as("latest"),
            count(lit(1)).as("n_events"))
        val merged =
          if (b == 0) batch
          else s.read.parquet(versionDir(b - 1)).unionByName(batch)
            .groupBy("user_id")
            .agg(max(col("latest")).as("latest"),
              sum(col("n_events")).as("n_events"))
        merged.write.mode("overwrite").parquet(versionDir(b))
      }
    }

  /** The copy-on-write table of [[versionedEventsRoot]] committed
    * through [[graft.sources.ManifestLog]] instead of path conventions:
    * each merge writes its data files under data/v{b} and publishes an
    * atomic manifest recording that version's adds (its part files)
    * and removes (the previous version's) — a replayable transaction
    * log. Reads resolve versions by LOG REPLAY only. Cached per sfDir
    * (table state, not the measured operator). */
  def manifestEventsRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_manifest_snapshot", dir) { root =>
      import graft.sources.ManifestLog
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      (0 to 3).foreach { b =>
        val batch = ev.filter(col("event_id") % 4 === b)
          .groupBy("user_id")
          .agg(max(struct(col("ts_us"), col("event_id"), col("value")))
            .as("latest"),
            count(lit(1)).as("n_events"))
        val merged =
          if (b == 0) batch
          // read the previous version THROUGH the log, not by path
          else ManifestLog.readVersion(s, root, b - 1).unionByName(batch)
            .groupBy("user_id")
            .agg(max(col("latest")).as("latest"),
              sum(col("n_events")).as("n_events"))
        merged.write.mode("overwrite").parquet(s"$root/data/v$b")
        val adds = ManifestLog.partFiles(root, s"data/v$b")
        val removes =
          if (b == 0) Seq.empty[String]
          else ManifestLog.partFiles(root, s"data/v${b - 1}")
        // auto-checkpoint policy (r14 verdict #4): the commit path
        // itself maintains the fold (here: at v2) — the explicit
        // writeCheckpoint in lake_snapshot_checkpoint is then the
        // idempotent republication the spec pins
        ManifestLog.commit(root, b,
          Commit("merge", adds.map(AddFile(_)), removes = removes),
          policy = Some(ManifestLog.CheckpointPolicy(every = 2)))
      }
    }

  private val snapshotManifest = GraftQuery(
    name = "lake_snapshot_manifest",
    doc = "MANIFEST-LOG snapshot read - lake_snapshot_read's time " +
      "travel with version addressing done the way real lakehouse " +
      "formats do it (r13 verdict #7): an append-only JSON transaction " +
      "log (_log/%020d.json, one manifest of adds/removes per commit, " +
      "published via atomic link(2) so racing writers serialize - " +
      "exactly one wins a version, the loser gets a Conflict and " +
      "rebases; ManifestLogSpec pins the race), and the AS-OF-v2 read " +
      "resolves its file set by REPLAYING the log, never by path " +
      "convention. Same SCD1-merged copy-on-write state and the SAME " +
      "oracle as lake_snapshot_read (v2 reconstructed from the change " +
      "log) - a green row proves commit protocol, log replay and " +
      "snapshot isolation end-to-end against ground truth that never " +
      "saw the log. At 100 TB the log is metadata-sized, and the " +
      "commit path itself keeps replay cost flat: CheckpointPolicy " +
      "folds a checkpoint every K winning commits and prunes the " +
      "manifests behind the previous fold (descending, so a mid-prune " +
      "reader resolves exactly or fails loudly - never a torn " +
      "prefix; ManifestLogSpec pins both).",
    oracle = Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        value
                 FROM events WHERE event_id % 4 <= 2),
      r AS (SELECT user_id, ts_us, event_id, value,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts_us DESC, event_id DESC) AS rk,
              COUNT(*) OVER (PARTITION BY user_id) AS n_events
            FROM e)
      SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
             value AS last_value, CAST(n_events AS BIGINT) AS n_events
      FROM r WHERE rk = 1 ORDER BY user_id"""),
    run = (s, dir) => {
      val root = manifestEventsRoot(s, dir)
      graft.sources.ManifestLog.readVersion(s, root, 2)
        .select(col("user_id"), col("latest.ts_us").as("last_ts_us"),
          col("latest.event_id").as("last_event_id"),
          col("latest.value").as("last_value"), col("n_events"))
        .orderBy("user_id")
    })

  private val snapshotCheckpoint = GraftQuery(
    name = "lake_snapshot_checkpoint",
    doc = "Manifest-log CHECKPOINT COMPACTION - the replay-cost rung " +
      "lake_snapshot_manifest documents as next: a checkpoint file " +
      "folds the log's live file set at v2 (derived state, idempotent " +
      "atomic-link publication - a lost race is a no-op, not a " +
      "conflict), and the LATEST read (v3) resolves from checkpoint " +
      "+ manifest TAIL instead of replaying the whole history - how " +
      "a real format keeps resolve cost flat as the table ages. The " +
      "v2 fold is produced by the commit path's auto CheckpointPolicy " +
      "(every 2 commits, r14 verdict #4); the explicit writeCheckpoint " +
      "here is the idempotent derived-state republication. Oracle = " +
      "the full-corpus latest-per-user reconstruction (batches 0..3), " +
      "so a checkpoint that froze stale state or a tail replay that " +
      "skipped/duplicated an action fails the hash. ManifestLogSpec " +
      "pins checkpoint==full-replay equality, idempotent racing " +
      "publication, the auto-policy fold+prune cycle, mid-prune " +
      "reader safety, and the 8-writer race on BOTH the POSIX and " +
      "CAS-mock stores (r14 verdict #5).",
    oracle = Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        value
                 FROM events),
      r AS (SELECT user_id, ts_us, event_id, value,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts_us DESC, event_id DESC) AS rk,
              COUNT(*) OVER (PARTITION BY user_id) AS n_events
            FROM e)
      SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
             value AS last_value, CAST(n_events AS BIGINT) AS n_events
      FROM r WHERE rk = 1 ORDER BY user_id"""),
    run = (s, dir) => {
      import graft.sources.ManifestLog
      val root = manifestEventsRoot(s, dir)
      ManifestLog.writeCheckpoint(root, 2) // idempotent per sfDir
      ManifestLog.readVersion(s, root,
          ManifestLog.latestVersion(root).get)
        .select(col("user_id"), col("latest.ts_us").as("last_ts_us"),
          col("latest.event_id").as("last_event_id"),
          col("latest.value").as("last_value"), col("n_events"))
        .orderBy("user_id")
    })

  // -------------------------------------------------------------------
  // Snapshot DIFF (CDC between two pinned versions).
  // -------------------------------------------------------------------
  private val snapshotDiff = GraftQuery(
    name = "lake_snapshot_diff",
    doc = "Snapshot DIFF - the change-data-capture read between two " +
      "pinned versions of the same copy-on-write table " +
      "lake_snapshot_read time-travels over: v3 LEFT JOIN v1 on the " +
      "key, classifying every user as added (new in v3), updated " +
      "(latest-event struct or count changed), or unchanged - the " +
      "incremental refresh a downstream consumer runs instead of " +
      "re-reading the whole table. A LEFT join suffices (not the " +
      "full-outer a general CDC diff needs) ONLY because this SCD1 " +
      "merge never loses a key - a table format with deletes must " +
      "full-outer and add a 'deleted' class. Version addressing is " +
      "path addressing, so the diff reads exactly two version dirs " +
      "and shuffles only the keys once. Oracle reconstructs both " +
      "versions from the change log (batches 0..1 vs 0..3) and " +
      "replays the same classification.",
    oracle = Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        value, event_id % 4 AS b FROM events),
      st AS (SELECT b_max, user_id,
               MAX(struct_pack(ts_us := ts_us, event_id := event_id,
                               value := value)) AS latest,
               COUNT(*) AS n_events
             FROM e CROSS JOIN (VALUES (1), (3)) v(b_max)
             WHERE e.b <= v.b_max
             GROUP BY 1, 2),
      v1 AS (SELECT * FROM st WHERE b_max = 1),
      v3 AS (SELECT * FROM st WHERE b_max = 3)
      SELECT v3.user_id,
             CASE WHEN v1.user_id IS NULL THEN 'added'
                  WHEN v1.latest <> v3.latest OR
                       v1.n_events <> v3.n_events THEN 'updated'
                  ELSE 'unchanged' END AS change,
             v3.n_events AS n_events_now
      FROM v3 LEFT JOIN v1 USING (user_id)
      ORDER BY user_id"""),
    run = (s, dir) => {
      val root = versionedEventsRoot(s, dir)
      val v1 = s.read.parquet(s"$root/v1")
      val v3 = s.read.parquet(s"$root/v3")
      v3.alias("n").join(v1.alias("o"),
          col("n.user_id") === col("o.user_id"), "left")
        .select(col("n.user_id").as("user_id"),
          when(col("o.user_id").isNull, "added")
            .when(col("o.latest") =!= col("n.latest") ||
              col("o.n_events") =!= col("n.n_events"), "updated")
            .otherwise("unchanged").as("change"),
          col("n.n_events").as("n_events_now"))
        .orderBy("user_id")
    })

  // -------------------------------------------------------------------
  // Incremental materialized-view maintenance (additive refresh).
  // -------------------------------------------------------------------
  private val incrementalAgg = GraftQuery(
    name = "lake_incremental_agg",
    doc = "Incremental MATERIALIZED-VIEW maintenance - the additive " +
      "sibling of the SCD1 merge lake_snapshot_read versions: a daily " +
      "order-revenue aggregate refreshed across 4 deterministic " +
      "batches (o_orderkey % 4), v_b = combine(v_{b-1}, " +
      "partial-agg(batch_b)). COUNT and exact-decimal SUM are " +
      "associative+commutative, so four incremental merges provably " +
      "equal the one-shot aggregate the oracle computes over the raw " +
      "table - the invariant that makes MV refresh correct without " +
      "ever re-reading history. Each refresh shuffles only the " +
      "batch's days-sized partial aggregate; at 100 TB the view " +
      "stays days-sized while the fact table grows unbounded.",
    oracle = Some("""
      SELECT CAST(o_orderdate AS DATE) AS day,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1 ORDER BY day"""),
    run = (s, dir) => {
      val root = graft.TempDirs.cachedDir("graft_incragg", dir) { root =>
        val src = table(s, dir, "orders")
          .select(col("o_orderkey"),
            col("o_orderdate").cast(DateType).as("day"),
            col("o_totalprice"))
        (0 to 3).foreach { b =>
          val part = src.filter(col("o_orderkey") % 4 === b)
            .groupBy("day")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
          val merged =
            if (b == 0) part
            else s.read.parquet(s"$root/v${b - 1}").unionByName(part)
              .groupBy("day")
              .agg(sum(col("n_orders")).as("n_orders"),
                sum(col("rev")).as("rev"))
          merged.write.mode("overwrite").parquet(s"$root/v$b")
        }
      }
      s.read.parquet(s"$root/v3")
        .select(col("day"), col("n_orders"),
          col("rev").cast(DoubleType).as("revenue"))
        .orderBy("day")
    })

  // -------------------------------------------------------------------
  // Manifest-level DATA SKIPPING + stats-pruned copy-on-write MERGE.
  // -------------------------------------------------------------------

  /** The parquet files under `root/$sub` as add records carrying
    * per-file [min, max] of `statCol`, computed in ONE distributed pass
    * keyed by `input_file_name()`. The collect is bounded by the FILE
    * count of the commit (here 8; a production writer emits these
    * stats inline from its own write buffers and collects nothing). */
  private def fileStats(s: SparkSession, root: String, sub: String,
      statCol: String): Seq[AddFile] = {
    val st = s.read.parquet(s"$root/$sub")
      .groupBy(input_file_name().as("f"))
      .agg(min(col(statCol)).cast(LongType).as("lo"),
        max(col(statCol)).cast(LongType).as("hi"))
      .collect()
      .map(r => s"$sub/${r.getString(0).split('/').last}" ->
        FileStat(r.getLong(1), r.getLong(2))).toMap
    ManifestLog.partFiles(root, sub).map(f => AddFile(f, stat = st.get(f)))
  }

  /** Events flattened to the (user_id, event_id, ts_us, value) shape
    * the manifest tables commit. */
  private def flatEvents(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))

  /** [[fileStats]] generalized to NAMED columns: per file, [min, max]
    * of every column in `cols`, one distributed pass. Same bounded
    * collect (file count of the commit). */
  private def fileColStats(s: SparkSession, root: String, sub: String,
      cols: Seq[String]): Seq[AddFile] = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast(LongType).as(s"lo_$c"),
      max(col(c)).cast(LongType).as(s"hi_$c")))
    val cs = s.read.parquet(s"$root/$sub")
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        s"$sub/${r.getString(0).split('/').last}" ->
          cols.map(c => c -> FileStat(
            r.getLong(r.fieldIndex(s"lo_$c")),
            r.getLong(r.fieldIndex(s"hi_$c")))).toMap
      }.toMap
    ManifestLog.partFiles(root, sub).map(f =>
      AddFile(f, colStats = cs.getOrElse(f, Map.empty)))
  }

  /** A stats-bearing single-commit events table: v0 is the flat events
    * corpus range-partitioned by user_id into 8 files, committed with
    * per-file [min, max] user_id stats. Cached per sfDir (table state,
    * not the measured operator). */
  private def skippingRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_manifest_skip", dir) { root =>
      import graft.sources.ManifestLog
      flatEvents(s, dir).repartitionByRange(8, col("user_id"))
        .write.parquet(s"$root/data/v0")
      ManifestLog.commit(root, 0,
        Commit("write", fileStats(s, root, "data/v0", "user_id")))
    }

  private val manifestSkipping = GraftQuery(
    name = "lake_manifest_skipping",
    doc = "Manifest-level DATA SKIPPING (r15) - the metadata half of " +
      "predicate pushdown a real table format adds on top of parquet's " +
      "own row-group pruning: each committed file carries [min, max] " +
      "stats of its tracked column IN THE MANIFEST (Iceberg manifest " +
      "entries / Delta stats JSON), and a ranged read resolves the " +
      "file list by intersecting intervals in the log - zero data IO " +
      "for the prune decision at any table size, which at 100 TB is " +
      "the difference between scanning 8 files and 8000. Files " +
      "committed WITHOUT stats are never skipped (unknown = must-read), " +
      "so stats stay a pure optimization; stats fold through " +
      "checkpoints and die with their file's remove (ManifestLogSpec). " +
      "The exact row-level filter still applies after the prune - the " +
      "oracle replays the predicate over the WHOLE corpus, so a prune " +
      "that drops a file it needed fails the hash, not just a plan " +
      "expectation. Since r16 the prune happens INSIDE Catalyst " +
      "planning: the read goes through ManifestFileIndex, the query's " +
      "own pushed-down BETWEEN becomes the file prune (no pre-" +
      "resolution helper), pinned scan-shape and file-count in " +
      "ManifestFileIndexSpec; the metadata-only prune helpers stay " +
      "pinned in ManifestLogSpec.",
    oracle = Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             MAX(epoch_ns(ts) // 1000) AS last_ts_us
      FROM events WHERE user_id BETWEEN 1 AND 8
      GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = skippingRoot(s, dir)
      // the BETWEEN below is the whole story: it pushes down into the
      // ManifestFileIndex, which intersects it with the manifest's
      // per-file [min, max] during planning — files outside the band
      // never reach the scan
      graft.sources.ManifestLog.readVersionIndexed(s, root, 0,
          statsColumn = Some("user_id"))
        .filter(col("user_id").between(1, 8))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"),
          max(col("ts_us")).as("last_ts_us"))
        .orderBy("user_id")
    })

  /** A 6-merge manifest table whose retention policy (checkpoint every
    * 2, prune behind the previous fold) has made versions 0-1
    * UNRESOLVABLE, plus a crashed writer's landed-but-never-committed
    * file — then VACUUMED. The builder asserts the sweep deleted
    * exactly the two garbage classes (rewrites pruned past + the
    * orphan) and nothing else, loudly, before any query reads the
    * table. Cached per sfDir. */
  private def vacuumRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_vacuum", dir) { root =>
      import graft.sources.ManifestLog
      val ev = flatEvents(s, dir)
      (0 to 5).foreach { b =>
        val batch = ev.filter(col("event_id") % 6 === b)
          .groupBy("user_id")
          .agg(max(struct(col("ts_us"), col("event_id"), col("value")))
            .as("latest"), count(lit(1)).as("n_events"))
        val merged =
          if (b == 0) batch
          else ManifestLog.readVersion(s, root, b - 1).unionByName(batch)
            .groupBy("user_id")
            .agg(max(col("latest")).as("latest"),
              sum(col("n_events")).as("n_events"))
        merged.write.mode("overwrite").parquet(s"$root/data/v$b")
        val adds = ManifestLog.partFiles(root, s"data/v$b")
        val removes =
          if (b == 0) Seq.empty[String]
          else ManifestLog.partFiles(root, s"data/v${b - 1}")
        ManifestLog.commit(root, b,
          Commit("merge", adds.map(AddFile(_)), removes = removes),
          policy = Some(ManifestLog.CheckpointPolicy(every = 2)))
      }
      // the crashed writer: landed, never committed
      val orphan = java.nio.file.Paths.get(root, "data/b9/orphan.parquet")
      java.nio.file.Files.createDirectories(orphan.getParent)
      java.nio.file.Files.createFile(orphan)
      val swept = ManifestLog.vacuum(root)
      require(swept.contains("data/b9/orphan.parquet") &&
        swept.forall(f => f.startsWith("data/v0/") ||
          f.startsWith("data/v1/") || f.startsWith("data/b9/")),
        s"vacuum swept the wrong files: $swept")
      require(swept.exists(_.startsWith("data/v0/")),
        "retention made v0 unresolvable; its rewritten files must be GC'd")
    }

  private val vacuumQuery = GraftQuery(
    name = "lake_vacuum",
    doc = "ORPHAN-FILE VACUUM (r15) - the GC half of the manifest " +
      "log's retention story: after CheckpointPolicy pruning has made " +
      "versions 0-1 unresolvable, their rewritten-away data files are " +
      "unreachable through ANY surviving manifest or checkpoint - as " +
      "is a crashed writer's landed-but-never-committed file - yet " +
      "all hold disk until swept. vacuum() keeps the union of live " +
      "sets over every RESOLVABLE version, so every read that worked " +
      "before works after, byte-identical (ManifestLogSpec pins the " +
      "sweep set exactly; the builder requires both garbage classes " +
      "were swept and nothing else). The query reads the latest " +
      "version AFTER the sweep against the full-corpus latest-per-" +
      "user oracle - a vacuum that ate a referenced file fails the " +
      "hash, not an expectation. At 100 TB compaction+merge churn " +
      "makes unswept garbage rival the table's live size; the sweep " +
      "decision is metadata-only (log replay), the IO is one listing.",
    oracle = Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        value
                 FROM events),
      r AS (SELECT user_id, ts_us, event_id, value,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts_us DESC, event_id DESC) AS rk,
              COUNT(*) OVER (PARTITION BY user_id) AS n_events
            FROM e)
      SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
             value AS last_value, CAST(n_events AS BIGINT) AS n_events
      FROM r WHERE rk = 1 ORDER BY user_id"""),
    run = (s, dir) => {
      import graft.sources.ManifestLog
      val root = vacuumRoot(s, dir)
      ManifestLog.readVersion(s, root,
          ManifestLog.latestVersion(root).get)
        .select(col("user_id"), col("latest.ts_us").as("last_ts_us"),
          col("latest.event_id").as("last_event_id"),
          col("latest.value").as("last_value"), col("n_events"))
        .orderBy("user_id")
    })

  /** Closed µs bounds of the multicol box: [2024-01-10, 2024-01-20). */
  private val BoxTsLo = 1704844800000000L
  private val BoxTsHi = 1705708800000000L - 1

  /** Per-file bloom SIDECARS over `bloomCol` for the parquet files
    * under `root/$sub`, built DISTRIBUTED (r15 ledger #3 closed):
    * pass 1 sizes each file's filter from its row count (an upper
    * bound on ndv — conservative: bigger m, lower fp; file-count-sized
    * collect), pass 2 folds bit arrays on the EXECUTORS via
    * [[graft.sources.FileBloom.BitsAgg]] (per-partition build,
    * OR-merge), so the driver receives only each file's final m/8
    * bytes — the sidecar content it must land anyway — never the
    * values. */
  private def fileBlooms(s: SparkSession, root: String, sub: String,
      bloomCol: String)
      : Map[String, Map[String, graft.sources.ManifestLog.BloomRef]] = {
    import graft.sources.{FileBloom, ManifestLog}
    import s.implicits._
    val df = s.read.parquet(s"$root/$sub")
    val sizes = df.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> FileBloom.sizeFor(r.getLong(1))).toSeq
    val mDf = sizes.toDF("f", "m")
    df.select(input_file_name().as("f"), col(bloomCol).as("v"))
      .join(broadcast(mDf), "f")
      .groupBy("f", "m")
      .agg(FileBloom.bitsAgg(col("v"), col("m")).as("bits"))
      .collect()
      .map { r =>
        val rel = s"$sub/${r.getString(0).split('/').last}"
        val sidecar = s"$rel.bloom"
        java.nio.file.Files.write(
          java.nio.file.Paths.get(root, sidecar),
          r.getAs[Array[Byte]]("bits"))
        rel -> Map(bloomCol -> ManifestLog.BloomRef(bloomCol, sidecar,
          r.getInt(1), 4))
      }.toMap
  }

  /** A Z-ORDER-clustered, colstats-committed events table: the flat
    * corpus Morton-ordered over 8-bit ranks of (user_id, ts_us) — the
    * [[zorderedOrdersDir]] interleave — written as 8 files and
    * committed with per-file [min, max] stats on BOTH columns in the
    * manifest. The z-layout is what makes two-column stats worth
    * carrying: each file's interval is tight in BOTH dimensions, so a
    * conjunctive prune multiplies (1-D clustering leaves the second
    * column's interval spanning the full domain — its predicate then
    * never prunes a file). Cached per sfDir. */
  private[graft] def multicolRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_skip_multicol", dir) { root =>
      import graft.sources.ManifestLog
      val ev = flatEvents(s, dir)
      val bounds = ev.agg(
        min(col("user_id")).as("u0"), max(col("user_id")).as("u1"),
        min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
      val scaled = ev.crossJoin(broadcast(bounds))
        .withColumn("__zx",
          expr("(user_id - u0) * 256 div (u1 - u0 + 1)"))
        // ts spans ~2.6e12 µs: rank by div-first so the multiply can
        // never overflow a long at any horizon length
        .withColumn("__zy",
          expr("(ts_us - t0) div ((t1 - t0) div 256 + 1)"))
      val morton = (0 until 8).map { i =>
        shiftleft(shiftright(col("__zx"), i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(
            shiftleft(shiftright(col("__zy"), i).bitwiseAND(lit(1L)),
              2 * i + 1))
      }.reduce(_ bitwiseOR _)
      scaled.withColumn("__z", morton)
        .repartitionByRange(8, col("__z"))
        .sortWithinPartitions("__z")
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("value"))
        .write.parquet(s"$root/data/v0")
      // one commit, two index classes: range stats on the clustered
      // box columns, bloom sidecars on the UNclustered event_id (the
      // point-lookup column range stats cannot serve — every file's
      // event_id interval spans nearly the whole domain here)
      // stats first: the bloom sidecars land beside the data files,
      // where a directory read would take them for parquet
      val stats = fileColStats(s, root, "data/v0", Seq("user_id", "ts_us"))
      val blooms = fileBlooms(s, root, "data/v0", "event_id")
      ManifestLog.commit(root, 0, Commit("write", stats.map(a =>
        a.copy(blooms = blooms.getOrElse(a.path, Map.empty)))))
    }

  private val skippingMulticol = GraftQuery(
    name = "lake_skipping_multicol",
    doc = "MULTI-DIMENSIONAL manifest data skipping (r15) - " +
      "lake_manifest_skipping's single tracked column generalized to " +
      "NAMED per-column [min, max] stats, composed with the Z-order " +
      "layout family (lake_zorder_layout): the events corpus is " +
      "Morton-clustered over (user_id, ts_us) and committed with " +
      "manifest stats on both columns, and a box query (user band x " +
      "10-day window) resolves its file list by intersecting BOTH " +
      "intervals in the log - the conjunction prunes multiplicatively " +
      "where 1-D stats could only prune on one axis (on a z-layout " +
      "each file is tight in both dimensions; on a 1-D layout the " +
      "second column's interval spans the domain and its predicate " +
      "never prunes). Unknown columns and stats-less files are " +
      "must-read per predicate, so the prune stays a pure " +
      "optimization; ManifestLogSpec pins conjunction < best single " +
      "axis on the z-layout, colstats death on remove, and fold " +
      "through checkpoints; since r16 the prune runs INSIDE Catalyst " +
      "planning via ManifestFileIndex (scan shape + file count pinned " +
      "in ManifestFileIndexSpec). Oracle replays the box aggregate over the " +
      "WHOLE raw corpus - a file the prune wrongly dropped fails the " +
      "hash. At 100 TB this decides 'which 60 of 80,000 files' " +
      "before any data IO.",
    oracle = Some(s"""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE user_id BETWEEN 1 AND 8
        AND epoch_ns(ts) // 1000 BETWEEN $BoxTsLo AND $BoxTsHi
      GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = multicolRoot(s, dir)
      // both BETWEENs push down into the ManifestFileIndex; the
      // conjunctive prune over the z-layout's named colstats happens
      // inside Catalyst planning (r16), no pre-resolution pass
      graft.sources.ManifestLog.readVersionIndexed(s, root, 0)
        .filter(col("user_id").between(1, 8) &&
          col("ts_us").between(BoxTsLo, BoxTsHi))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  private val skippingBloom = GraftQuery(
    name = "lake_skipping_bloom",
    doc = "BLOOM-SIDECAR point-lookup skipping (r15) - the index " +
      "class beyond min/max: the multicol table is Z-clustered on " +
      "(user_id, ts_us), so a point lookup on event_id intersects " +
      "every file's [min, max] and range stats prune NOTHING; each " +
      "file instead carries a bloom filter over its event_ids as an " +
      "immutable SIDECAR beside the data (Iceberg's puffin layout - " +
      "the manifest records only (column, path, m, k), constant " +
      "metadata per file, because an in-manifest bloom would grow the " +
      "log with the data). Deterministic double hashing (two " +
      "splitmix64 finalizers, m~16 bits/value, k=4): a false positive " +
      "wastes one read, never an answer - the exact row predicate " +
      "still applies, and the oracle checks ROWS over the whole raw " +
      "corpus, so a bloom that wrongly ruled out the containing file " +
      "fails the hash. Refs die with their file's remove and fold " +
      "through checkpoints (ManifestLogSpec). At 100 TB: KBs of " +
      "sidecar per file read only by survivors of the earlier " +
      "metadata prunes, against GBs of data per skipped file.",
    oracle = Some("""
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
             CAST(value AS DOUBLE) AS value
      FROM events WHERE event_id = 137 ORDER BY event_id"""),
    run = (s, dir) => {
      val root = multicolRoot(s, dir)
      graft.sources.ManifestLog.readVersionPoint(s, root, 0,
          "event_id", 137L)
        .filter(col("event_id") === 137L)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("value"))
        .orderBy("event_id")
    })

  /** A log-committed OPTIMIZE target: v0 commits the flat events as 16
    * deliberately-small hash-partitioned files (the small-file problem
    * a streaming writer creates), each with user_id stats; v1 is the
    * OPTIMIZE — the same rows bin-packed into 4 range-clustered files,
    * committed as remove(16)+add(4) with RECOMPUTED stats, data
    * identical by construction. While v0 stays resolvable its files
    * must survive any sweep, so the builder completes the maintenance
    * arc the way a real table does: checkpoint v1, prune v0's manifest
    * (retention), then VACUUM — and requires exactly the 16 superseded
    * smalls were reclaimed. Cached per sfDir. */
  private def optimizeRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_optimize", dir) { root =>
      import graft.sources.ManifestLog
      val ev = flatEvents(s, dir)
      ev.repartition(16, col("event_id"))
        .write.parquet(s"$root/data/v0")
      val smalls = ManifestLog.partFiles(root, "data/v0")
      require(smalls.size == 16, s"expected 16 small files: $smalls")
      ManifestLog.commit(root, 0,
        Commit("write", fileStats(s, root, "data/v0", "user_id")))
      // OPTIMIZE: same rows, 4 range-clustered files, stats recomputed
      ManifestLog.readVersion(s, root, 0)
        .repartitionByRange(4, col("user_id"))
        .write.parquet(s"$root/data/v1")
      val packed = ManifestLog.partFiles(root, "data/v1")
      require(packed.size < smalls.size,
        s"optimize must reduce file count: ${packed.size}")
      ManifestLog.commit(root, 1, Commit("optimize",
        fileStats(s, root, "data/v1", "user_id"), removes = smalls))
      // retention + GC: fold v1, prune v0's manifest, reclaim smalls
      ManifestLog.writeCheckpoint(root, 1)
      graft.sources.ManifestLog.storeFor(root).delete(f"${0L}%020d.json")
      val swept = ManifestLog.vacuum(root)
      require(swept.toSet == smalls.toSet,
        s"vacuum must reclaim exactly the 16 superseded files: $swept")
    }

  /** OPTIMIZE ZORDER through the log: v0 is the corpus hash-scattered
    * into 16 files (every file spans both key domains — the box prune
    * keeps ALL of them, which the builder asserts); v1 rewrites the
    * same rows Morton-clustered over 8-bit ranks of (user_id, ts_us)
    * via the SINGLE-PASS writer, so the remove(16)+add(8) commit
    * carries fresh two-column stats from the rewrite pass itself —
    * and the builder asserts the same box now keeps a strict minority
    * of the files. Cached per sfDir. */
  private def zorderOptimizeRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_optimize_z", dir) { root =>
      import graft.sources.{ManifestLog, SinglePassWriter}
      val ev = flatEvents(s, dir)
      ev.repartition(16, col("event_id")).write.parquet(s"$root/data/v0")
      val smalls = ManifestLog.partFiles(root, "data/v0")
      ManifestLog.commit(root, 0, Commit("write",
        fileColStats(s, root, "data/v0", Seq("user_id", "ts_us"))))
      val box = Seq(("user_id", 1L, 8L), ("ts_us", BoxTsLo, BoxTsHi))
      require(ManifestLog.filesMatchingCols(
        ManifestLog.snapshot(root, 0), box).size ==
        smalls.size,
        "a hash-scattered layout must defeat the box prune entirely")
      // OPTIMIZE ZORDER BY (user_id, ts_us): the same interleave as
      // multicolRoot, rewritten THROUGH the log with single-pass stats
      val base = ManifestLog.readVersion(s, root, 0)
      val bounds = base.agg(
        min(col("user_id")).as("u0"), max(col("user_id")).as("u1"),
        min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
      val scaled = base.crossJoin(broadcast(bounds))
        .withColumn("__zx", expr("(user_id - u0) * 256 div (u1 - u0 + 1)"))
        .withColumn("__zy", expr("(ts_us - t0) div ((t1 - t0) div 256 + 1)"))
      val morton = (0 until 8).map { i =>
        shiftleft(shiftright(col("__zx"), i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(shiftleft(
            shiftright(col("__zy"), i).bitwiseAND(lit(1L)), 2 * i + 1))
      }.reduce(_ bitwiseOR _)
      val clustered = scaled.withColumn("__z", morton)
        .repartitionByRange(8, col("__z"))
        .sortWithinPartitions("__z")
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("value"))
      val summaries = SinglePassWriter.writeFiles(clustered, root,
        "data/v1", statsCols = Seq("user_id", "ts_us"))
      ManifestLog.commit(root, 1, Commit("optimize-zorder",
        SinglePassWriter.addFiles(summaries, Seq("user_id", "ts_us")),
        removes = smalls))
      // strict improvement at every sf; at the tracked sfs the box
      // keeps a small minority (1-3 of 8) — the multiplicative prune
      // a z-layout exists for, but tiny corpora (sf0.001 spans few
      // distinct ranks) only guarantee the subset property
      val kept = ManifestLog.filesMatchingCols(
        ManifestLog.snapshot(root, 1), box)
      require(kept.size < summaries.size,
        s"z-clustering must make the box prune selective: kept " +
          s"${kept.size} of ${summaries.size}")
    }

  private val optimizeZorder = GraftQuery(
    name = "lake_optimize_zorder",
    doc = "OPTIMIZE ZORDER through the manifest log (r16) - the " +
      "synthesis of three families: lake_optimize_compact's " +
      "log-committed rewrite, lake_zorder_layout's Morton clustering, " +
      "and the single-pass writer's inline stats. v0 is hash-" +
      "scattered (16 files, every file spanning both key domains - " +
      "the builder asserts the box prune keeps ALL 16, the layout in " +
      "which stats are worthless); OPTIMIZE rewrites the same rows " +
      "Morton-ordered over (user_id, ts_us) in ONE pass that also " +
      "folds each output file's two-column [min,max], and the " +
      "remove+add commit makes the identical box query prune a " +
      "strict minority of files at PLANNING time (asserted). This is " +
      "Delta's OPTIMIZE ZORDER BY lifecycle: scattered ingest, " +
      "scheduled re-cluster, reads improve with zero query changes. " +
      "Clustering is pure layout - the oracle is the box aggregate " +
      "over the raw corpus, so a rewrite that lost/duplicated a row " +
      "or committed wrong stats (pruning a needed file) fails the " +
      "hash.",
    oracle = Some(s"""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE user_id BETWEEN 1 AND 8
        AND epoch_ns(ts) // 1000 BETWEEN $BoxTsLo AND $BoxTsHi
      GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = zorderOptimizeRoot(s, dir)
      graft.sources.ManifestLog.readVersionIndexed(s, root, 1)
        .filter(col("user_id").between(1, 8) &&
          col("ts_us").between(BoxTsLo, BoxTsHi))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  private val optimizeCompact = GraftQuery(
    name = "lake_optimize_compact",
    doc = "Log-committed OPTIMIZE (r15) - the small-file compaction a " +
      "streaming writer's output needs, done THROUGH the manifest log " +
      "the way Delta's OPTIMIZE does: v0 commits 16 deliberately tiny " +
      "files (with per-file user_id stats), v1 bin-packs the same " +
      "rows into 4 range-clustered files as one remove(16)+add(4) " +
      "commit with RECOMPUTED stats - readers of v1 see identical " +
      "data with 4x fewer tasks and TIGHT stats intervals (the " +
      "hash-partitioned smalls each span the full user domain, so " +
      "data skipping was useless before the optimize and selective " +
      "after). The builder then runs the full maintenance arc: " +
      "checkpoint v1, prune v0's manifest, vacuum - and requires the " +
      "16 superseded files were reclaimed exactly. The query reads " +
      "the optimized version against the raw-corpus oracle, so a " +
      "compaction that lost/duplicated a row or a vacuum that ate a " +
      "live file fails the hash. At 100 TB this loop IS the table's " +
      "steady state: ingest makes small files, optimize re-clusters, " +
      "retention prunes, GC reclaims.",
    oracle = Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             MAX(epoch_ns(ts) // 1000) AS last_ts_us
      FROM events GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = optimizeRoot(s, dir)
      graft.sources.ManifestLog.readVersion(s, root, 1)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"),
          max(col("ts_us")).as("last_ts_us"))
        .orderBy("user_id")
    })

  private val cdcIncremental = GraftQuery(
    name = "lake_cdc_incremental",
    doc = "INCREMENTAL CHANGE-FEED READ (r15) - the consumption half " +
      "of the exactly-once sink: a downstream consumer that has " +
      "processed up to version 1 of stream_manifest_sink's table " +
      "reads ONLY the version tail (1, 3] - readChanges resolves " +
      "each tail version's adds from its manifest (metadata first), " +
      "then reads just those files' data stamped with " +
      "_commit_version (Delta's startingVersion read / Iceberg " +
      "incremental scan, correct as a row feed because the sink's " +
      "commits are append-only; rewriting tables diff snapshots - " +
      "lake_snapshot_diff - instead). A tail pruned past the " +
      "consumer's cursor FAILS LOUDLY (never silently skips actions; " +
      "the consumer re-bootstraps from a snapshot). Oracle: the sink " +
      "lands event_id%4 cohorts as batches committing versions 0-3, " +
      "so the tail (1,3] is exactly cohorts 2-3, reconstructed from " +
      "raw events with versions_seen = distinct cohorts per user. At " +
      "100 TB the consumer reads two batches' files, never the table.",
    oracle = Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_new,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             CAST(COUNT(DISTINCT event_id % 4) AS BIGINT) AS versions_seen
      FROM events WHERE event_id % 4 IN (2, 3)
      GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      import graft.sources.ManifestLog
      import graft.streaming.ManifestSink
      val root = ManifestSink.ingestRoot(s, dir)
      ManifestLog.readChanges(s, root, from = 1, to = 3)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_new"), dsum(col("value")).as("sum_value"),
          countDistinct(col("_commit_version")).as("versions_seen"))
        .orderBy("user_id")
    })

  /** A HIVE-PARTITIONED manifest table: the flat events corpus written
    * `partitionBy(cohort)` (cohort = event_id % 4) under data/v0 and
    * committed through the log — partition values ride in the `k=v`
    * path segments, partition DISCOVERY is the log's file list (zero
    * directory listings at read). Cached per sfDir. */
  private def hivePartRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_hive_manifest", dir) { root =>
      import graft.sources.ManifestLog
      flatEvents(s, dir)
        .withColumn("cohort", pmod(col("event_id"), lit(4)))
        .repartition(2, col("user_id"))
        .write.partitionBy("cohort").parquet(s"$root/data/v0")
      ManifestLog.commit(root, 0, Commit("write",
        ManifestLog.partFilesRecursive(root, "data/v0").map(AddFile(_))))
    }

  private val snapshotPartitioned = GraftQuery(
    name = "lake_snapshot_partitioned",
    doc = "HIVE-PARTITIONED manifest snapshot read (r16) - the layout " +
      "axis the manifest family lacked: data files live under k=v " +
      "partition directories, the partition COLUMN comes from the " +
      "path (appended to the footer schema exactly as a listed hive " +
      "table's), but partition DISCOVERY is the log's resolved file " +
      "list through ManifestFileIndex - no directory listing at any " +
      "table size, and a static partition predicate prunes whole " +
      "partitions inside listFiles (pinned: 1 of 4 partitions " +
      "survives, in ManifestFileIndexSpec). The filter below IS the " +
      "prune; the oracle replays the cohort predicate over the raw " +
      "corpus, so a partition wrongly pruned or wrongly parsed fails " +
      "the hash.",
    oracle = Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events WHERE event_id % 4 = 2
      GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = hivePartRoot(s, dir)
      graft.sources.ManifestLog.readVersionHive(s, root, 0)
        .filter(col("cohort") === 2)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  private val dppManifest = GraftQuery(
    name = "lake_join_dpp_manifest",
    doc = "DYNAMIC PARTITION PRUNING on a manifest table (r16) - " +
      "lake_join_dpp's runtime prune composed with the log-planned " +
      "scan: the fact side is the hive-partitioned manifest table " +
      "(partition discovery = log replay, never a listing), the dim's " +
      "matching cohorts are only known at runtime, and Catalyst's own " +
      "PartitionPruning rule turns the broadcast dim into a dynamic " +
      "partition filter on the ManifestFileIndex scan - Spark " +
      "re-filters the index's PartitionDirectories with the runtime " +
      "predicate, so the composition needs NOTHING from the index " +
      "beyond honest partition values (PlanSpec pins " +
      "dynamicpruning on this scan). The dim (c_nationkey IN (2,6), " +
      "both = 2 mod 4) selects exactly one of four partitions at " +
      "runtime. Oracle replays the join over the raw corpus.",
    oracle = Some("""
      WITH d AS (SELECT DISTINCT c_nationkey % 4 AS cohort
                 FROM customer WHERE c_nationkey IN (2, 6))
      SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN d ON e.event_id % 4 = d.cohort
      GROUP BY 1 ORDER BY user_id"""),
    run = (s, dir) => {
      val root = hivePartRoot(s, dir)
      val fact = graft.sources.ManifestLog.readVersionHive(s, root, 0)
      val dim = table(s, dir, "customer")
        .filter(col("c_nationkey").isin(2, 6))
        .select(pmod(col("c_nationkey"), lit(4)).as("cohort")).distinct()
      fact.join(broadcast(dim), "cohort")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  private val joinDfp = GraftQuery(
    name = "lake_join_dfp",
    doc = "DYNAMIC FILE PRUNING (r16) - the manifest-level member of " +
      "the runtime-pruning family: lake_join_dpp prunes partition " +
      "DIRECTORIES when the join key IS the layout key, " +
      "lake_join_bloom prunes ROWS at the scan when it is not; this " +
      "prunes FILES of an unpartitioned manifest table from the dim " +
      "side's runtime key set (Delta's dynamic file pruning), " +
      "composing BOTH metadata index classes per file: range stats " +
      "rule a file out when no key lands in its [min, max], the " +
      "bloom sidecar rules it out when every key is definitely " +
      "absent, files carrying neither stay must-read. The dim is " +
      "broadcast-sized by definition (it would be broadcast for the " +
      "join anyway) and the key collect is LOUDLY bounded - a dim " +
      "that outgrows the bound belongs to the row-level bloom " +
      "filter instead. The join still applies exact equality, so a " +
      "bloom false positive costs one file's IO, never a row; the " +
      "oracle replays the join over the RAW corpus, so a file " +
      "wrongly pruned fails the hash. At 100 TB: the dim picks " +
      "dozens of files out of 80,000 before any fact IO - on the " +
      "z-clustered fixture the event_id blooms do the work range " +
      "stats cannot (every file's event_id interval spans the " +
      "domain).",
    oracle = Some("""
      SELECT c.c_mktsegment AS c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON e.event_id = c.c_custkey
      WHERE c.c_custkey % 500 = 7
      GROUP BY 1 ORDER BY c_mktsegment"""),
    run = (s, dir) => {
      import graft.sources.ManifestLog
      val root = multicolRoot(s, dir)
      val dim = table(s, dir, "customer")
        .filter(col("c_custkey") % 500 === 7)
        .select(col("c_custkey"), col("c_mktsegment"))
      val fact = ManifestLog.readVersionKeys(s, root, 0, "event_id",
        dim.select(col("c_custkey")))
      fact.join(broadcast(dim), fact("event_id") === dim("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("c_mktsegment")
    })

  private val cdcRowImages = GraftQuery(
    name = "lake_cdc_rowimages",
    doc = "ROW-LEVEL CHANGE FEED with _change_type images (r16, r15 " +
      "verdict #4) - the feed lake_cdc_incremental explicitly cannot " +
      "serve: REWRITING commits replayed as per-row " +
      "insert / delete / update_preimage / update_postimage images " +
      "(Delta's Change Data Feed columns), reconstructed from the " +
      "log's own file-level actions - no stored change files. Per " +
      "version, the rows of the commit's REMOVED files full-outer " +
      "join the rows of its ADDED files on the key (null-safe), " +
      "classify once, and carried-unchanged rows vanish; rows in " +
      "files the commit never touched are read by NEITHER side, so " +
      "a commit rewriting 2 of 80,000 files reads 4 files - the " +
      "reason this is log-driven, not snapshot-diff-driven, at " +
      "100 TB. v0 (no removes) degenerates to a zero-join " +
      "all-inserts scan. Feed = versions (-1, 3] of the SCD1 " +
      "manifest table: v0 inserts every user, v1-v3 rewrites emit " +
      "pre+post pairs for users whose latest-event state moved and " +
      "inserts for first-seen users. Oracle reconstructs all four " +
      "snapshots from the raw change log and replays the same " +
      "classification - an image with the wrong type, side, or " +
      "version fails the hash. Delete images (impossible under SCD1) " +
      "are pinned by ManifestChangeImagesSpec on a table with real " +
      "deletes, along with the pruned-tail loud failure.",
    oracle = Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        value, event_id % 4 AS b FROM events),
      st AS (SELECT v.b_max AS v, user_id,
               MAX(struct_pack(ts_us := ts_us, event_id := event_id,
                               value := value)) AS latest,
               COUNT(*) AS n_events
             FROM e CROSS JOIN (VALUES (0), (1), (2), (3)) v(b_max)
             WHERE e.b <= v.b_max GROUP BY 1, 2),
      j AS (SELECT COALESCE(n.v, o.v + 1) AS v,
                   COALESCE(n.user_id, o.user_id) AS user_id,
                   CASE WHEN o.user_id IS NULL THEN 'insert'
                        WHEN n.user_id IS NULL THEN 'delete'
                        WHEN n.latest <> o.latest OR
                             n.n_events <> o.n_events THEN 'update'
                        ELSE 'none' END AS cls,
                   o.latest AS ol, o.n_events AS oe,
                   n.latest AS nl, n.n_events AS ne
            FROM st n FULL JOIN (SELECT * FROM st WHERE v <= 2) o
              ON n.v = o.v + 1 AND n.user_id = o.user_id),
      f AS (
        SELECT v, user_id, 'insert' AS ct, nl AS img, ne AS nev
        FROM j WHERE cls = 'insert'
        UNION ALL
        SELECT v, user_id, 'delete', ol, oe FROM j WHERE cls = 'delete'
        UNION ALL
        SELECT v, user_id, 'update_preimage', ol, oe
        FROM j WHERE cls = 'update'
        UNION ALL
        SELECT v, user_id, 'update_postimage', nl, ne
        FROM j WHERE cls = 'update')
      SELECT CAST(v AS BIGINT) AS _commit_version, user_id,
             ct AS _change_type, img.ts_us AS ts_us,
             img.event_id AS event_id, CAST(img.value AS DOUBLE) AS value,
             CAST(nev AS BIGINT) AS n_events
      FROM f ORDER BY _commit_version, user_id, _change_type"""),
    run = (s, dir) => {
      val root = manifestEventsRoot(s, dir)
      graft.sources.ManifestLog
        .readChangeImages(s, root, from = -1, to = 3, keys = Seq("user_id"))
        .select(col("_commit_version"), col("user_id"),
          col("_change_type"), col("latest.ts_us").as("ts_us"),
          col("latest.event_id").as("event_id"),
          col("latest.value").as("value"), col("n_events"))
        .orderBy("_commit_version", "user_id", "_change_type")
    })

  /** The MERGE band: source rows cover users 1..50 (contiguous so the
    * stats prune is selective), deletes are user_id % 11 == 0 inside
    * the band, and the base table "onboarded" only user_id % 5 != 0 —
    * band users at % 5 == 0 arrive as inserts. */
  private val MergeLo = 1L
  private val MergeHi = 50L

  /** Copy-on-write MERGE INTO through the manifest log (r15): v0 is the
    * SCD1 latest-per-user state over batches 0..2 (users % 5 != 0),
    * range-partitioned with user_id stats; v1 applies the batch-3
    * source with full merge semantics, REWRITING ONLY the files whose
    * stats interval intersects the source key band — the untouched
    * files carry over by identity, never re-read, never re-written
    * (how Delta/Iceberg MERGE stays affordable on a 100 TB table when
    * the source touches one key range). Cached per sfDir. */
  private def mergeCowRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_merge_cow", dir) { root =>
      import graft.sources.ManifestLog
      val ev = flatEvents(s, dir)
      val base = ev.filter(col("event_id") % 4 <= 2 &&
          col("user_id") % 5 =!= 0)
        .groupBy("user_id")
        .agg(max(struct(col("ts_us"), col("event_id"), col("value")))
          .as("latest"), count(lit(1)).as("n_events"))
      base.repartitionByRange(8, col("user_id"))
        .write.parquet(s"$root/data/v0")
      ManifestLog.commit(root, 0,
        Commit("write", fileStats(s, root, "data/v0", "user_id")))

      val source = ev.filter(col("event_id") % 4 === 3 &&
          col("user_id").between(MergeLo, MergeHi))
        .groupBy("user_id")
        .agg(max(struct(col("ts_us"), col("event_id"), col("value")))
          .as("s_latest"), count(lit(1)).as("s_n"))
        .withColumn("deleted", col("user_id") % 11 === 0)

      // the COW decision is metadata-only: which v0 files CAN contain a
      // band key — everything else carries over by identity
      val touched = ManifestLog.filesMatching(
        ManifestLog.snapshot(root, 0), MergeLo, MergeHi)
      val target = s.read.parquet(touched.map(f => s"$root/$f"): _*)
      // full merge semantics over the touched slice only; target rows
      // outside the band have no source match and pass through, source
      // deletes drop matched rows and ignore unmatched ones
      val merged = target.join(source, Seq("user_id"), "full_outer")
        .filter(!coalesce(col("deleted"), lit(false)))
        .select(col("user_id"),
          when(col("s_latest").isNull, col("latest"))
            .when(col("latest").isNull, col("s_latest"))
            .otherwise(greatest(col("latest"), col("s_latest")))
            .as("latest"),
          (coalesce(col("n_events"), lit(0L)) +
            coalesce(col("s_n"), lit(0L))).as("n_events"))
      merged.repartitionByRange(4, col("user_id"))
        .write.parquet(s"$root/data/v1")
      ManifestLog.commit(root, 1, Commit("merge",
        fileStats(s, root, "data/v1", "user_id"), removes = touched))
    }

  private val mergeCow = GraftQuery(
    name = "lake_merge_cow",
    doc = "Stats-pruned copy-on-write MERGE INTO (r15) - the write half " +
      "of lake_manifest_skipping's read story and the missing MERGE " +
      "shape between lake_scd2_upsert (full-table rewrite) and " +
      "lake_snapshot_manifest (append-only versions): matched+delete " +
      "drops the row, matched updates (latest = max struct, counts " +
      "add), unmatched source inserts, unmatched-delete is a no-op - " +
      "and the rewrite touches ONLY the base files whose manifest " +
      "stats interval intersects the source key band [1, 50]; every " +
      "other file carries into v1 by identity (ManifestLogSpec pins " +
      "untouched-file survival and that the prune beat a full " +
      "rewrite). At 100 TB this is why a keyed MERGE costs " +
      "O(touched files), not O(table). Oracle reconstructs the merged " +
      "state per user class from raw events - base-only, updated, " +
      "deleted, inserted - so wrong merge semantics OR a file the " +
      "prune wrongly dropped/kept fails the hash.",
    oracle = Some(s"""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                        value FROM events),
      kept AS (
        SELECT * FROM e
        WHERE CASE
          WHEN user_id % 5 <> 0 AND user_id BETWEEN $MergeLo AND $MergeHi
               AND user_id % 11 = 0 THEN FALSE
          WHEN user_id % 5 <> 0 AND user_id BETWEEN $MergeLo AND $MergeHi
            THEN event_id % 4 <= 3
          WHEN user_id % 5 <> 0 THEN event_id % 4 <= 2
          WHEN user_id BETWEEN $MergeLo AND $MergeHi AND user_id % 11 <> 0
            THEN event_id % 4 = 3
          ELSE FALSE END),
      r AS (SELECT user_id, ts_us, event_id, value,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts_us DESC, event_id DESC) AS rk,
              COUNT(*) OVER (PARTITION BY user_id) AS n_events
            FROM kept)
      SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
             value AS last_value, CAST(n_events AS BIGINT) AS n_events
      FROM r WHERE rk = 1 ORDER BY user_id"""),
    run = (s, dir) => {
      val root = mergeCowRoot(s, dir)
      graft.sources.ManifestLog.readVersion(s, root, 1)
        .select(col("user_id"), col("latest.ts_us").as("last_ts_us"),
          col("latest.event_id").as("last_event_id"),
          col("latest.value").as("last_value"), col("n_events"))
        .orderBy("user_id")
    })

  /** The partition-spec-addition ladder, cached per sfDir: v0 lands
    * UNPARTITIONED files (the pre-evolution layout), v1 appends the
    * same schema laid out hive-style under day=... segments. The
    * builder asserts the resolved table surfaces NULL day for the
    * pre-evolution rows and the exact day values for the new layout. */
  def partEvoRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_partevo", dir) { root =>
      import graft.sources.ManifestLog
      val ev = flatEvents(s, dir)
      ev.filter(col("event_id") % 2 === 0)
        .coalesce(2).write.parquet(s"$root/data/v0")
      ManifestLog.commit(root, 0, Commit("write",
        ManifestLog.partFiles(root, "data/v0").map(AddFile(_))))
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("day",
          date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
        .write.partitionBy("day").parquet(s"$root/data/v1")
      ManifestLog.commit(root, 1, Commit("evolve-partitioning",
        ManifestLog.partFilesRecursive(root, "data/v1").map(AddFile(_))))
      val t = ManifestLog.readVersionHive(s, root, 1)
      val preRows = ev.filter(col("event_id") % 2 === 0).count()
      require(t.filter(col("day").isNull).count() == preRows,
        "pre-evolution rows must surface NULL day")
      require(t.filter(col("day").isNotNull).count() ==
        ev.count() - preRows,
        "every new-layout row must carry its day segment")
    }

  private val partitionEvolution = GraftQuery(
    name = "lake_partition_evolution",
    doc = "PARTITION-SPEC ADDITION (r17) - Iceberg's flagship claim " +
      "('evolve the partition layout without rewriting old data') in " +
      "its additive form: the table starts UNPARTITIONED, later " +
      "batches land hive-style under day=... segments, and the " +
      "manifest-planned read resolves BOTH generations in one scan - " +
      "the partition schema is the fullest file's segment list, " +
      "every other file's list must be a PREFIX of it (a genuinely " +
      "mixed layout stays loud), and files missing a segment surface " +
      "NULL for that partition column, the same semantics additive " +
      "data-schema evolution gives old files. Predicates compose " +
      "correctly by NULL semantics: day = D statically prunes to " +
      "that day's directory and excludes every pre-evolution file " +
      "(NULL = D is never true; PlanSpec pins the file count), " +
      "day IS NULL selects exactly the old layout, and an " +
      "ungrouped read scans both. No old file was rewritten - at " +
      "100 TB that's the entire point of spec evolution. Oracle " +
      "replays both generations from the raw corpus with the day " +
      "derived for new-layout rows and a sentinel for the old.",
    oracle = Some("""
      SELECT CASE WHEN event_id % 2 = 1
                  THEN strftime(ts, '%Y-%m-%d')
                  ELSE 'pre-layout' END AS day_grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""),
    run = (s, dir) => {
      val root = partEvoRoot(s, dir)
      graft.sources.ManifestLog.readVersionHive(s, root, 1)
        .groupBy(coalesce(col("day"), lit("pre-layout")).as("day_grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_value"))
        .orderBy("day_grp")
    })

  /** The clone-materialization ladder, cached per sfDir: clone the
    * single-pass events table by reference, MATERIALIZE (every
    * absolute ref rewrites into table-owned key-clustered local
    * files; the builder asserts zero refs survive and prunable stats
    * re-committed), then diverge with a MOR delete — all without the
    * source ever being written. */
  def materializeRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_materialize", dir) { dst =>
      import graft.sources.ManifestLog
      val src = WriterQueries.singlePassRoot(s, dir)
      ManifestLog.cloneShallow(src, dst, 0)
      val locals = ManifestLog.materializeExternal(s, dst,
        statsCols = Seq("user_id"), clusterBy = Seq("user_id"))
      require(locals.nonEmpty &&
        ManifestLog.filesAsOf(dst, 1).forall(!_.startsWith("/")),
        "materialization must leave zero absolute references")
      require(locals.forall(f =>
          ManifestLog.snapshot(dst, 1).live(f).colStats.contains("user_id")),
        "the rewrite must re-commit prunable stats")
      val dvs = ManifestLog.deleteWhereMor(s, dst, 1, 2,
        col("event_id") % 13 === 1)
      require(dvs.nonEmpty, "the divergence delete must vector rows")
    }

  private val cloneMaterialize = GraftQuery(
    name = "lake_clone_materialize",
    doc = "CLONE MATERIALIZATION (r17) - the escape hatch that ENDS " +
      "the shallow-clone contract's source dependency (Delta's " +
      "documented deep-copy-later path): every absolute-referenced " +
      "file rewrites into table-owned, key-clustered local files - " +
      "MOR-filtered, so inherited deletion vectors fold into the " +
      "rewrite and drop - and one commit swaps references for " +
      "locals, re-committing prunable [min,max] stats from the " +
      "rewrite pass itself (zero extra IO, the compaction " +
      "convention). Local divergence files are untouched; a " +
      "ref-free table is a loud no-op (no empty commits). " +
      "ManifestCloneSpec proves the point end-to-end: after " +
      "materialization the SOURCE IS DELETED ENTIRELY and the " +
      "clone reads byte-identically - a source-side vacuum can no " +
      "longer break this table. The rewrite is corpus-sized BY " +
      "DESIGN (that is what buying independence costs; the clone " +
      "stays metadata-sized until you choose to pay it). Oracle " +
      "replays the materialized clone's post-delete state from the " +
      "raw corpus.",
    oracle = Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_value
      FROM events WHERE event_id % 13 <> 1
      GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = materializeRoot(s, dir)
      graft.sources.ManifestLog.readVersion(s, root, 2)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_value"))
        .orderBy("user_id")
    })

  /** The snapshot-expiration ladder, cached per sfDir: v0 is a BAD
    * ingest (values zeroed for users <= 3) in stats-bearing files,
    * v1 the copy-on-write correction that rewrites exactly the
    * stats-intersecting files from the raw corpus — then the
    * embarrassing history expires at horizon 1 and vacuum reclaims
    * the bad files' bytes. The builder asserts the full lifecycle:
    * nothing sweepable pre-expire, exactly the rewritten-away files
    * post-expire, v1 byte-identical after the sweep, v0 loudly
    * unreadable. */
  def expireRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_expire", dir) { root =>
      import graft.sources.{ManifestLog, SinglePassWriter}
      val ev = flatEvents(s, dir)
      SinglePassWriter.writeCommit(
        ev.withColumn("value",
            when(col("user_id") <= 3, 0.0).otherwise(col("value")))
          .repartitionByRange(3, col("user_id")),
        root, "data/v0", 0, statsCols = Seq("user_id"))
      // v1: COW correction — rewrite ONLY the files whose user
      // interval meets the bad band, from the raw corpus (a range-
      // partitioned layout puts each user in one file, so the doomed
      // files' intervals cover exactly their own rows)
      val doomed = ManifestLog.filesMatchingCols(ManifestLog.snapshot(root, 0),
        Seq(("user_id", Long.MinValue, 3L)))
      require(doomed.nonEmpty && doomed.size <
        ManifestLog.filesAsOf(root, 0).size,
        s"the correction must touch a strict file subset: $doomed")
      val r0 = ManifestLog.snapshot(root, 0)
      val cond = doomed.map { f =>
        val st = r0.live(f).colStats("user_id")
        col("user_id").between(st.min, st.max)
      }.reduce(_ || _)
      val fixed = SinglePassWriter.writeFiles(
        ev.filter(cond).repartitionByRange(1, col("user_id")),
        root, "data/v1", statsCols = Seq("user_id"))
      ManifestLog.commit(root, 1, Commit("rewrite",
        SinglePassWriter.addFiles(fixed, Seq("user_id")), removes = doomed))
      // the lifecycle: resolvable history pins the bytes ...
      require(ManifestLog.vacuum(root, dryRun = true).isEmpty,
        "nothing may be sweepable while every version resolves")
      // ... expiring the tail releases exactly the bad files ...
      require(ManifestLog.expireVersionsBefore(root, 1) == Seq(0L))
      val swept = ManifestLog.vacuum(root)
      require(swept.sorted == doomed.sorted,
        s"the sweep must reclaim exactly the rewritten-away files: " +
          s"$swept vs $doomed")
      // ... and the surviving version's bytes are all intact, the
      // expired version loud
      require(ManifestLog.filesAsOf(root, 1).forall(f =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(root, f))),
        "the sweep must leave every referenced byte of v1 on disk")
      val loud = try { ManifestLog.filesAsOf(root, 0); false }
        catch { case _: IllegalArgumentException => true }
      require(loud, "the expired version must be loudly unreadable")
    }

  private val expireSnapshots = GraftQuery(
    name = "lake_expire_snapshots",
    doc = "SNAPSHOT EXPIRATION (r17) - Iceberg's expire_snapshots / " +
      "Delta's log retention as an EXPLICIT maintenance operator: " +
      "lake_vacuum already proves the POLICY-driven retention (a " +
      "checkpoint interval prunes folded manifests as commits land); " +
      "this row is the operator-controlled horizon - " +
      "expireVersionsBefore(h) checkpoints AT the horizon (h and " +
      "everything later stays exactly readable), deletes the " +
      "manifests below it newest-first (the same torn-prune safety " +
      "the policy path relies on: surviving manifests always form a " +
      "prefix, so a concurrent reader is exact or loud, never " +
      "silently wrong), and hands vacuum a shrunken keep-set - the " +
      "expire+vacuum pair is how a table's disk goes from history-" +
      "sized to live-sized. The ladder is the production story: a " +
      "bad ingest (zeroed values), a copy-on-write correction " +
      "rewriting only the stats-intersecting files, then the " +
      "embarrassing history expires and its bytes reclaim - builder " +
      "asserts nothing was sweepable BEFORE the expire, EXACTLY the " +
      "rewritten-away files after, v1 byte-identical post-sweep, v0 " +
      "loudly unreadable (never silently remapped). At 100 TB, " +
      "compaction churn makes unexpired history rival the live " +
      "size. Oracle: the surviving state IS the raw corpus - a " +
      "sweep that ate a referenced byte fails the per-user hash.",
    oracle = Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_value,
             MAX(epoch_ns(ts) // 1000) AS last_ts_us
      FROM events GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = expireRoot(s, dir)
      graft.sources.ManifestLog.readVersion(s, root, 1)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_value"),
          max(col("ts_us")).as("last_ts_us"))
        .orderBy("user_id")
    })

  /** The shallow-clone divergence ladder, cached per sfDir: the
    * single-pass events table clones by reference (v0, zero data
    * IO), a shifted-user batch appends locally (v1), and a MOR
    * delete spans cloned refs AND the local batch (v2) — vectors for
    * cloned files land under the clone's ext/, never beside the
    * source's bytes. The builder asserts the bootstrap wrote zero
    * data files, the delete vectored at least one cloned ref, and
    * the SOURCE is untouched (same file bytes count, same log). */
  def cloneRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_clone", dir) { dst =>
      import graft.sources.{ManifestLog, SinglePassWriter}
      val src = WriterQueries.singlePassRoot(s, dir)
      val srcFiles = ManifestLog.partFilesRecursive(src, "").size
      val srcVersions = ManifestLog.versions(src)
      ManifestLog.cloneShallow(src, dst, 0)
      require(ManifestLog.partFilesRecursive(dst, "").isEmpty,
        "a shallow clone's bootstrap must write zero data files")
      // v1: local divergence — users shifted by 1000 (same schema,
      // same column order as the cloned files)
      SinglePassWriter.writeCommit(
        table(s, dir, "events")
          .filter(col("user_id") <= 4)
          .select((col("user_id") + 1000L).as("user_id"),
            col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("value"))
          .repartitionByRange(2, col("user_id")),
        dst, "data/v1", 1, statsCols = Seq("user_id"))
      // v2: a MOR delete across cloned refs and the local batch
      val dvs = ManifestLog.deleteWhereMor(s, dst, 1, 2,
        col("event_id") % 11 === 5)
      require(dvs.keys.exists(_.startsWith("/")),
        s"the delete must vector at least one cloned ref: $dvs")
      require(ManifestLog.partFilesRecursive(src, "").size == srcFiles
          && ManifestLog.versions(src) == srcVersions,
        "the clone's divergence must leave the source untouched")
    }

  private val cloneShallowQ = GraftQuery(
    name = "lake_clone_shallow",
    doc = "SHALLOW CLONE (r17) - a new, independently writable table " +
      "whose v0 references the source snapshot's files BY ABSOLUTE " +
      "PATH (Delta's shallow clone): one metadata-sized commit, zero " +
      "data IO, at any table size - the builder asserts the " +
      "bootstrap wrote zero data files. The clone's v0 carries " +
      "everything the source snapshot knew (per-file stats, string " +
      "bounds, bloom refs, deletion vectors, schema, CHECK set), so " +
      "reads prune and MOR-filter exactly as the source does. " +
      "Divergence is clone-local by construction: the registered " +
      "ladder appends a shifted-user batch under the clone root and " +
      "MOR-deletes across cloned refs AND the local batch - vectors " +
      "for cloned files land under the clone's ext/ (a table owns " +
      "its sidecars; the source's bytes are never written), and the " +
      "builder asserts the source's files and log are byte-count-" +
      "identical after. The clone's vacuum walks only its own root, " +
      "so it can never reclaim source bytes (ManifestCloneSpec pins " +
      "that plus clone-of-a-clone and the loud refusals). At 100 TB " +
      "this is how a team forks a production table for an " +
      "experiment in milliseconds instead of copying terabytes. " +
      "Oracle replays clone = source UNION shifted batch MINUS the " +
      "delete over the raw corpus - a read through a stale or " +
      "wrongly-resolved reference fails the per-user hash.",
    oracle = Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_value
      FROM (
        SELECT user_id, event_id, value FROM events
        UNION ALL
        SELECT user_id + 1000 AS user_id, event_id, value
        FROM events WHERE user_id <= 4
      ) WHERE event_id % 11 <> 5
      GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = cloneRoot(s, dir)
      graft.sources.ManifestLog.readVersion(s, root, 2)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_value"))
        .orderBy("user_id")
    })

  val all: Seq[GraftQuery] = Seq(scd2, compaction, schemaEvolution,
    rangeLayout, zorderLayout, hilbertLayout, snapshotRead, snapshotDiff,
    snapshotManifest, snapshotCheckpoint, manifestSkipping, mergeCow,
    skippingMulticol, skippingBloom, vacuumQuery, optimizeCompact,
    optimizeZorder,
    cdcIncremental, cdcRowImages, joinDfp, snapshotPartitioned,
    dppManifest, incrementalAgg, cloneShallowQ, expireSnapshots,
    partitionEvolution, cloneMaterialize)
}
