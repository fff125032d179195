package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Local testing runs `local[32]`; the conf below is chosen so the same
  * logical plans scale to a multi-executor cluster: AQE handles runtime
  * re-planning (coalesce + skew-join), broadcast threshold keeps
  * ratio-scale dimension tables on the broadcast path, and shuffle
  * partitions default to the local core count (overridden by cluster
  * submit conf at real scale).
  */
object GraftSession {
  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the lake's event timestamps are raw UTC micros whether or not the
      // writer stamped isAdjustedToUTC; read them as instants, not NTZ
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // scan-split sizing: the test lake is a few single-file tables, so
      // 4 MiB splits keep all cores busy; at production scale (128 MiB+
      // files, thousands of them) the default 128 MiB is right — this is
      // a local-corpus override, not a cluster recommendation.
      .config("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // The JVM-wide generated-class cache defaults to 100 entries; a
      // multi-query workload (this library declares 194) compiles far
      // more distinct codegen units than that, so every re-run of a
      // query Janino-recompiles every stage it had already compiled —
      // pure driver latency on ANY deployment that serves more than a
      // handful of distinct plans (static conf: set before the context).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release a retiring child session's memoized frames
    * ([[graft.operators.Memo.onSessionEnd]]). */
  def onSessionEnd(spark: SparkSession): Unit = graft.operators.Memo.onSessionEnd(spark)
}
