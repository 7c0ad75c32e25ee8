package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery
import graft.sources.ManifestLog
import graft.sources.Readers.table

/** Log-carried SCHEMA EVOLUTION + TIMESTAMP time travel (r16): the two
  * metadata dimensions a long-lived table accretes — its schema
  * changes (commits declare the table schema; older files surface
  * NULL for columns they predate) and its history becomes addressable
  * by wall clock (`AS OF TIMESTAMP` resolved against the manifests'
  * recorded commit times). Both resolve from the log alone: no footer
  * sweep (mergeSchema at 100k files is a listing-scale job) and no
  * data IO for the timestamp→version mapping. */
object EvolutionQueries {

  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  private def flatEvents(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))

  /** A two-generation evolved table, cached per sfDir:
    *
    *   - v0 @ t=1000 ms: per-user counts over event batches 0-1,
    *     declared schema (user_id, n_events);
    *   - v1 @ t=2000 ms: APPENDS per-user rows over batches 2-3
    *     carrying a NEW column sum_value, declaring the widened
    *     schema — the v0 files are untouched and never rewritten.
    *
    * Reads of v1 plan ALL files under the v1 schema (gen-1 rows
    * surface NULL sum_value); reads of v0 — by version or by
    * timestamp — still plan under v0's narrower schema, because the
    * declared schema time-travels with everything else in the log. */
  def evolutionRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_evolution", dir) { root =>
      val ev = flatEvents(s, dir)
      ev.filter(col("event_id") % 4 <= 1)
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .coalesce(2).write.parquet(s"$root/data/v0")
      ManifestLog.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
        Seq.empty, op = "write", commitMs = Some(1000L),
        schemaDdl = Some("user_id BIGINT, n_events BIGINT"))
      ev.filter(col("event_id") % 4 >= 2)
        .groupBy("user_id").agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .coalesce(2).write.parquet(s"$root/data/v1")
      ManifestLog.commit(root, 1, ManifestLog.partFiles(root, "data/v1"),
        Seq.empty, op = "evolve", commitMs = Some(2000L),
        schemaDdl = Some(
          "user_id BIGINT, n_events BIGINT, sum_value DOUBLE"))
    }

  private val evolution = GraftQuery(
    name = "lake_manifest_evolution",
    doc = "LOG-CARRIED additive schema evolution (r16) - " +
      "lake_schema_evolution's mergeSchema re-done the way a table " +
      "format does it: each commit DECLARES the table schema in the " +
      "manifest (base64 DDL; latest declaration wins through replay " +
      "and checkpoints), and the read plans EVERY file under the " +
      "declared schema - generation-1 files, written before " +
      "sum_value existed and never rewritten, surface NULL for it " +
      "via parquet's per-file requested-schema resolution. No footer " +
      "sweep: mergeSchema must open every file's footer to vote on " +
      "the union (a listing-scale job at 100k files), while the " +
      "declared schema is one log field at any table size. Oracle " +
      "rebuilds both generations from raw events and replays the " +
      "union arithmetic - a reader that dropped gen-1 rows, " +
      "resurrected the narrow schema, or non-nulled the missing " +
      "column fails the per-user hash.",
    oracle = Some("""
      WITH g1 AS (SELECT user_id, COUNT(*) AS n FROM events
                  WHERE event_id % 4 <= 1 GROUP BY user_id),
           g2 AS (SELECT user_id, COUNT(*) AS n,
                         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                           AS sv
                  FROM events WHERE event_id % 4 >= 2 GROUP BY user_id),
           t AS (SELECT user_id, n, CAST(NULL AS DOUBLE) AS sv FROM g1
                 UNION ALL SELECT user_id, n, sv FROM g2)
      SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
             COUNT(sv) AS n_gen2, MAX(sv) AS sum_value_gen2
      FROM t GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = evolutionRoot(s, dir)
      ManifestLog.readVersion(s, root, 1)
        .groupBy("user_id")
        .agg(sum(col("n_events")).as("n_events"),
          count(col("sum_value")).as("n_gen2"),
          max(col("sum_value")).as("sum_value_gen2"))
        .orderBy("user_id")
    })

  private val byTimestamp = GraftQuery(
    name = "lake_snapshot_bytimestamp",
    doc = "TIMESTAMP time travel (r16) - AS OF TIMESTAMP resolved " +
      "entirely in the log: each commit records its wall-clock time " +
      "in the manifest, and a reader's timestamp maps to the LATEST " +
      "version committed at or before it (Delta's timestamp_as_of). " +
      "Here t=1500ms falls between the v0 (t=1000) and v1 (t=2000) " +
      "commits, so the read resolves v0 - and gets v0's DECLARED " +
      "SCHEMA too (the pre-evolution two-column shape): schema " +
      "time-travels with the data, which is what makes historical " +
      "reads reproducible after an evolution. A timestamp before " +
      "the first commit fails loud (never a silent earliest-version " +
      "read - ManifestEvolutionSpec pins both edges plus retention " +
      "interaction). Resolution cost is the surviving manifests' " +
      "metadata, zero data IO. Oracle reconstructs the v0 state " +
      "(batches 0-1) from raw events.",
    oracle = Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events WHERE event_id % 4 <= 1
      GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = evolutionRoot(s, dir)
      val v = ManifestLog.versionAtTimestamp(root, 1500L)
      ManifestLog.readVersion(s, root, v).orderBy("user_id")
    })

  /** A constraint-guarded table: v0 declares two CHECK constraints
    * with its initial data; a clean batch validates and appends at
    * v1; a poisoned batch (null values, negative user_ids) FAILS
    * validation loudly and the builder requires nothing landed from
    * it. Cached per sfDir. */
  def checkedRoot(s: SparkSession, dir: String): String =
    graft.TempDirs.cachedDir("graft_checked", dir) { root =>
      val ev = flatEvents(s, dir)
      val constraints = Seq(
        "value_present" -> "value IS NOT NULL",
        "user_nonneg" -> "user_id >= 0")
      val base = ev.filter(col("event_id") % 4 <= 1)
      ManifestLog.requireSatisfies(base, constraints.toMap)
      base.coalesce(2).write.parquet(s"$root/data/v0")
      ManifestLog.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
        Seq.empty, op = "write", checks = Some(constraints))
      // a clean append validates against the set IN FORCE at its
      // snapshot, then commits through the serializable protocol
      val batch = ev.filter(col("event_id") % 4 >= 2)
      ManifestLog.requireSatisfies(batch, ManifestLog.snapshot(root, 0).checks)
      batch.coalesce(2).write.parquet(s"$root/data/v1")
      // attest: the hand-sequenced requireSatisfies above IS the
      // row validation (since r17 the commit-time gate refuses
      // stats-less adds on a constrained table without it —
      // appendChecked is the one-call form of this sequence)
      ManifestLog.commitSerializable(root, readVersion = 0,
        adds = ManifestLog.partFiles(root, "data/v1"),
        removes = Seq.empty, op = "append", attest = true)
      // the poisoned batch must die at validation, before any land
      val poison = ev.limit(10)
        .withColumn("value",
          when(col("event_id") % 2 === 0, col("value")))
        .withColumn("user_id", col("user_id") * -1 - 1)
      val err = scala.util.Try(
        ManifestLog.requireSatisfies(poison,
          ManifestLog.snapshot(root, 1).checks))
      require(err.isFailure &&
        err.failed.get.getMessage.contains("value_present") &&
        err.failed.get.getMessage.contains("user_nonneg"),
        s"poisoned batch must fail BOTH constraints: $err")
      require(ManifestLog.latestVersion(root).contains(1L),
        "a failed validation must commit nothing")
    }

  private val checkConstraint = GraftQuery(
    name = "lake_check_constraint",
    doc = "LOG-CARRIED CHECK CONSTRAINTS (r16) - Delta-style table " +
      "invariants: commits declare named SQL predicates in the " +
      "manifest (base64, latest declaration wins, folded through " +
      "checkpoints like the schema), and every write validates its " +
      "batch against the set IN FORCE at its snapshot with ONE " +
      "aggregate pass counting all constraints' violations together " +
      "- SQL CHECK semantics (NULL passes, FALSE violates), loud " +
      "abort naming each failed constraint and its row count BEFORE " +
      "anything lands. The builder proves the full arc: guarded " +
      "initial write, clean append through the serializable commit " +
      "protocol, and a poisoned batch (nulls + negative ids) that " +
      "dies at validation with BOTH constraints named and zero " +
      "effect on the log. At 100 TB the validation is one scan of " +
      "the BATCH (never the table) and the governance decision is " +
      "manifest metadata. Oracle aggregates the whole raw corpus - " +
      "the two clean generations must reassemble it exactly.",
    oracle = Some("""
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY user_id ORDER BY user_id"""),
    run = (s, dir) => {
      val root = checkedRoot(s, dir)
      ManifestLog.readVersion(s, root, 1)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id")
    })

  val all: Seq[GraftQuery] = Seq(evolution, byTimestamp, checkConstraint)
}
