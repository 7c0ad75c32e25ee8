package graft

import org.apache.spark.sql.SparkSession

/** Block-manager hygiene for long sessions running many queries.
  *
  * Several operators pin intermediates for intra-query reuse
  * (`localCheckpoint`/`persist` in Dedup, Ids, PipelineQueries). Those
  * blocks are only useful within one query's execution; across a multi-query
  * bench/verify session they accumulate in the block manager and compete
  * with shuffle/execution memory. Bench and Verify call this between
  * queries — dropping every persistent RDD and SQL-cache entry is safe
  * there because no state is shared across queries. A writing
  * `etl.SparkifyJob.run` needs none of this: it releases its own
  * persisted prefix before it returns.
  */
object Caches {
  def clearAll(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Silence per-query WARN spam that buries the one JSON line the
    * driver parses from the bench/verify tail — scoped to the MESSAGE
    * TEXTS, not to whole loggers (an earlier package-level-to-ERROR
    * version also swallowed genuinely actionable WARNs like the file
    * source's data-loss notices). The four expected-by-design messages:
    * the localCheckpoint lineage-truncation warning (every unpersist of
    * a pinned block), the streaming planner's AQE-disabled and
    * temp-checkpoint notices (every drained stream), and DAGScheduler's
    * large-task-binary size report (the Hilbert 65k lookup and the bloom
    * bitmaps ride in task closures BY DESIGN — broadcast-sized payloads,
    * documented where built). Everything else, any level, still flows. */
  def quietNoisyLogs(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.filter.AbstractFilter
    val noisy = Seq(
      "was locally checkpointed, its lineage has been truncated",
      "Temporary checkpoint location created",
      "is not supported in streaming DataFrames/Datasets and will be disabled",
      "Disabling AQE since AQE is not supported in stateful workloads",
      "Broadcasting large task binary with size")
    val deny: Filter = new AbstractFilter(
        Filter.Result.DENY, Filter.Result.NEUTRAL) {
      override def filter(event: LogEvent): Filter.Result = {
        val m = event.getMessage.getFormattedMessage
        if (m != null && noisy.exists(m.contains)) getOnMatch else getOnMismatch
      }
    }
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val config = ctx.getConfiguration
        // attach to every LoggerConfig (root included): events dispatch
        // through their nearest config, so root alone can miss loggers
        // the properties file names explicitly
        val configs = new java.util.HashSet[
          org.apache.logging.log4j.core.config.LoggerConfig]()
        config.getLoggers.values.forEach(lc => configs.add(lc))
        configs.add(config.getRootLogger)
        configs.forEach(_.addFilter(deny))
        ctx.updateLoggers()
      case _ => () // non-core LoggerContext (shouldn't happen on Spark)
    }
  }
}
