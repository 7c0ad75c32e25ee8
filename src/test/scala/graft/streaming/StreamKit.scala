package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Stream builders and the drain the specs check [[EventStream]] with:
  * each streaming surface next to the batch formulation it must match
  * once drained. */
object StreamKit {

  /** Watermarked tumbling-window aggregate over a parquet directory
    * stream. Append mode: windows emit once the watermark passes —
    * bounded state, the only formulation that survives an unbounded
    * stream at scale. */
  def windowedCounts(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(EventStream.eventSchema).parquet(inputDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Batch twin of [[windowedCounts]], to check the drained stream. */
  def windowedCountsBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** [[EventStream.sessionCountsFrom]] over a parquet directory stream. */
  def sessionCounts(spark: SparkSession, inputDir: String)
      : Dataset[EventStream.UserSessionCount] =
    EventStream.sessionCountsFrom(
      spark.readStream.schema(EventStream.eventSchema).parquet(inputDir))(
      spark)

  /** Run a streaming DF to a memory sink until all available input is
    * processed, return the materialized table. */
  def drainToMemory(spark: SparkSession, streaming: DataFrame,
      name: String, outputMode: OutputMode): DataFrame = {
    val q = streaming.writeStream.outputMode(outputMode)
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }
}
