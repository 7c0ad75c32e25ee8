package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.{EventStream, StreamKit}

/** Pins the dual ts-generation reader path (round-10's fix, previously
  * regression-unprotected): the driver's events.parquet has shipped as
  * BOTH TIMESTAMP(NANOS) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
  * across data generations. One binary must read either through the
  * SAME µs-TimestampType surface — batch (Readers.normalizeTs) and
  * streaming (EventStream.eventsStream) — with byte-identical epoch
  * values. A driver flip back to NANOS can never silently regress while
  * this spec is green.
  *
  * The NANOS fixture is written with the raw parquet-hadoop Group API:
  * Spark itself cannot write TIMESTAMP(NANOS) (the driver generated it
  * with a different writer, which is exactly why the reader must probe
  * the footer instead of trusting a constant). Sub-µs remainders are
  * planted on purpose so the floor (`div 1000`) semantics are exercised,
  * not just the unit. */
class DualGenerationSpec extends AnyFunSuite {
  import DualGenerationSpec._

  lazy val spark = TestSpark.spark

  /** MICROS-generation parquet dir: ts as TIMESTAMP_NTZ (Spark writes
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) — the current driver
    * generation's physical type). */
  private def writeMicrosNtzDir(dir: String): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "us").select(
      col("event_id"),
      timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"),
      (col("event_id") % 3).as("user_id"),
      lit("purchase").as("event_type"),
      lit(1.5).as("value"),
      lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def expected: Map[Long, Long] = rows.toMap

  private def batchMicros(path: String): Map[Long, Long] = {
    val df = Readers.normalizeTs(spark.read.parquet(path))
    assert(df.schema("ts").dataType == TimestampType,
      s"normalizeTs left ${df.schema("ts").dataType} at $path")
    df.select(col("event_id"), unix_micros(col("ts"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def streamMicros(path: String, name: String): Map[Long, Long] = {
    val s = EventStream.eventsStream(spark, path)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    StreamKit.drainToMemory(spark, s, name, OutputMode.Append())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("batch + stream read NANOS and MICROS generations identically") {
    val base = java.nio.file.Files.createTempDirectory("graft_dualgen")
    val nanosFile = base.resolve("nanos").resolve("events.parquet")
    java.nio.file.Files.createDirectories(nanosFile.getParent)
    writeNanosFile(nanosFile.toString)
    val microsDir = base.resolve("micros").resolve("events.parquet").toString
    writeMicrosNtzDir(microsDir)
    // batch surface: both generations → the same µs TimestampType values
    assert(batchMicros(nanosFile.toString) == expected)
    assert(batchMicros(microsDir) == expected)
    // plain adjusted-µs TimestampType (third possible surface): pass-through
    val tsDir = base.resolve("ts").resolve("events.parquet").toString
    Readers.normalizeTs(spark.read.parquet(microsDir))
      .coalesce(1).write.mode("overwrite").parquet(tsDir)
    assert(batchMicros(tsDir) == expected)
    // streaming surface: the probe must declare the matching schema for
    // each generation (ts:Long vs ts:NTZ), then normalize to the same µs
    assert(streamMicros(nanosFile.toString, "dualgen_nanos") == expected)
    assert(streamMicros(microsDir, "dualgen_micros") == expected)
  }

  test("eventsTsType cache does not go stale when the file is rewritten") {
    val base = java.nio.file.Files.createTempDirectory("graft_dualcache")
    val p = base.resolve("events.parquet")
    writeNanosFile(p.toString)
    assert(Readers.eventsTsType(spark, p.toString) == LongType)
    // rewrite the SAME path with the other generation: the probe must
    // re-read the footer (cache keys on size+mtime, not the raw string)
    java.nio.file.Files.delete(p)
    writeMicrosNtzDir(p.toString)
    assert(Readers.eventsTsType(spark, p.toString) == TimestampNTZType)
    // relative vs absolute spellings of one file resolve to one entry
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(p.toAbsolutePath).toString
    assert(Readers.eventsTsType(spark, rel) == TimestampNTZType)
  }

  test("table() memo reuses the plan and invalidates on rewrite") {
    val base = java.nio.file.Files.createTempDirectory("graft_tablememo")
    val dir = base.toString
    val p = base.resolve("events.parquet")
    writeNanosFile(p.toString)
    // same session + same content → the SAME DataFrame instance (the
    // whole point: no per-call DataSource re-resolution)
    val a = Readers.table(spark, dir, "events")
    val b = Readers.table(spark, dir, "events")
    assert(a eq b, "memo must return the constructed frame")
    // rewrite the SAME path with the other generation: the memo must
    // hand back a FRESH plan (content key = size+mtime+child fold)
    java.nio.file.Files.delete(p)
    writeMicrosNtzDir(p.toString)
    val c = Readers.table(spark, dir, "events")
    assert(!(c eq a), "rewrite must invalidate the memoized plan")
    // and the fresh plan must actually read the new generation
    assert(c.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("normalizeTs refuses a non-UTC session for the NTZ generation") {
    val base = java.nio.file.Files.createTempDirectory("graft_dualtz")
    val dir = base.resolve("events.parquet").toString
    writeMicrosNtzDir(dir)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val e = intercept[IllegalArgumentException] {
        Readers.normalizeTs(spark.read.parquet(dir))
      }
      assert(e.getMessage.contains("UTC"))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }
}

/** The NANOS-generation fixture, shared with the footer-schema
  * equivalence check in [[ManifestPlanningSpec]]. */
object DualGenerationSpec {
  /** (event_id, µs) fixture rows; µs values carry odd micro digits. */
  private[sources] val rows: Seq[(Long, Long)] =
    (0L until 12L).map(i => (i, 1700000000123456L + i * 1000003L))

  /** Single NANOS-generation parquet FILE at `file`, one row group,
    * isAdjustedToUTC=false like the driver's pyarrow generation; ts
    * carries a +789ns sub-µs remainder that floor-division must drop. */
  private[sources] def writeNanosFile(file: String): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType())
      .named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withConf(new Configuration()).withType(schema).build()
    val fac = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, us) =>
      val g = fac.newGroup()
      g.add("event_id", id)
      g.add("ts", us * 1000L + 789L)
      g.add("user_id", id % 3)
      g.add("event_type", "purchase")
      g.add("value", 1.5)
      g.add("props", "{}")
      writer.write(g)
    } finally writer.close()
  }
}
