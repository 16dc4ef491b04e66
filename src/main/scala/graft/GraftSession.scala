package graft

import org.apache.spark.sql.SparkSession

/** Session factory applying the Ballista-equivalent config profile.
  *
  * The reference (apache/datafusion-ballista) expresses nearly all of its
  * execution behavior as configuration over DataFusion; Spark has built-in
  * equivalents for every one of them (SURVEY.md §4). This object is the
  * "config profile" port:
  *
  *  - `ballista.planner.adaptive.enabled` (reference `core/src/config.rs:86`)
  *    -> `spark.sql.adaptive.enabled` + coalesce/skew sub-flags
  *  - `ballista.broadcast_join.threshold.bytes` / `.rows`
  *    (`core/src/config.rs:103-110`) -> `spark.sql.autoBroadcastJoinThreshold`
  *  - SortMergeJoin-by-default (`tpch_plan_stability/README.md:33`)
  *    -> `spark.sql.join.preferSortMergeJoin=true` (Spark default, pinned)
  *  - `target_partitions=16` CI convention (`.github/workflows/tpch.yml:112`)
  *    -> `spark.sql.shuffle.partitions` (we size to the local core count)
  *  - shuffle compression (`core/src/config.rs:167-172`) ->
  *    `spark.shuffle.compress` + lz4 (Spark default codec)
  */
object GraftSession {

  /** Runtime-settable part of the profile (safe on an existing session). */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    c.set("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
    c.set("spark.sql.join.preferSortMergeJoin", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects by
    // default; read as long nanos (same total order as DuckDB's ns ts).
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Bounded-batch engine parity: no streaming configs needed (SURVEY §1).
    graft.functions.Udafs.register(spark)
    spark
  }

  def builder(cores: Int, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .withExtensions(GraftExtensions.install)

  /** Default core count for every local session and tool: the
    * `SPARK_GRAFT_CPUS` environment variable, else the host's available
    * processors, so an unset variable sizes runs to the host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local session with `cores` task slots and as many shuffle parts. */
  def local(cores: Int = cpus): SparkSession = {
    val s = builder(cores, cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }
}
