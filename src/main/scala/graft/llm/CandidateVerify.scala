package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The dedup miners' filter-and-refine core (the REPOSE shape): a cheap
  * collision join (shared band value, shingle, prefix token, segment)
  * proposes candidate pairs, the pairs are made distinct on a
  * width-pinned exchange, and every survivor is verified exactly by
  * re-attaching both documents' sets by equi-join and counting their
  * intersection. Callers own the collision join, their thresholds,
  * aggregates and orderings; this object owns the shape between them,
  * and [[spread]] is the only framework-steering code in the miners.
  *
  * Column contract: candidate pairs carry `da`, `db`; the left set
  * side is (da, ta), the right (db, tb); verification adds `inter`
  * (intersection size) and `jac` (exact Jaccard). The pair shuffle
  * carries only the (da, db) ids — sets never ride it. */
private[graft] object CandidateVerify {

  /** Hash-exchange `df` on `keys` with an explicitly pinned partition
    * count (the session's defaultParallelism). The candidate-pair
    * distinct/fold that follows is byte-tiny ((da, db) int64 pairs) but
    * the verify stage downstream of it is CPU-dense per byte
    * (inter_count over ~KB token-set arrays per pair), and AQE's
    * byte-based coalescing (parallelismFirst respects only the 1 MB
    * minPartitionSize) collapses it to 1-4 tasks — measured 41% of d22
    * and 7-10% of d03/d19 serialized on one core. A user repartition
    * with explicit numPartitions is exempt from AQE coalescing, and
    * keying it on the distinct/groupBy keys means the aggregate reuses
    * this exchange — same exchange COUNT as the plain distinct, pinned
    * width. Scale note: N tracks the session's core count, so a cluster
    * run pins the same order of parallelism its shuffle.partitions
    * would give; the verify join-attach exchanges after it are sized by
    * AQE from real bytes as before.
    *
    * With no keys it is a round-robin spread to the same width: the
    * test-SF documents parquet is a single row group, so a scan is ONE
    * task, and a CPU-bound per-token hash stage over it would run
    * serialized on one core. At production scale files arrive in many
    * row groups and the extra shuffle of the raw docs stays
    * proportionally negligible. */
  def spread(df: DataFrame, keys: String*): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (keys.isEmpty) df.repartition(n)
    else df.repartition(n, keys.map(col): _*)
  }

  /** The distinct (da, db) candidate pairs of a collision join. */
  def pairs(collisions: DataFrame): DataFrame =
    spread(collisions.select(col("da"), col("db")), "da", "db")
      .dropDuplicates()

  /** Re-attach both sides' sets to the pairs by equi-join and count
    * their intersection. inter_count == size(array_intersect(...))
    * without materializing the intersection array or ArrayIntersect's
    * boxed hash set — this is the per-candidate-pair cost of every
    * verify stage (functions/IntersectCount). */
  def attach(pairs: DataFrame, left: DataFrame, right: DataFrame)
      : DataFrame =
    pairs.join(left, "da").join(right, "db")
      .withColumn("inter",
        call_function("inter_count", col("ta"), col("tb")))

  /** [[attach]] plus the exact Jaccard `jac`. Asymmetric callers (a
    * batch probing an index artifact) pass their sides already aliased;
    * extra side columns (e.g. a segment tag) ride along. */
  def verify(pairs: DataFrame, left: DataFrame, right: DataFrame)
      : DataFrame =
    attach(pairs, left, right)
      .withColumn("jac", jaccard(col("inter"), col("ta"), col("tb")))

  /** Symmetric [[verify]]: both sides come from one (id, set) frame. */
  def verify(pairs: DataFrame, sets: DataFrame): DataFrame =
    verify(pairs, sets.toDF("da", "ta"), sets.toDF("db", "tb"))

  /** Jaccard of two distinct-element sets from their intersection
    * size: |A∩B| / (|A| + |B| − |A∩B|), one double division over an
    * exact integer union. */
  def jaccard(inter: Column, a: Column, b: Column): Column =
    inter.cast("double") / ((size(a) + size(b)).cast("long") - inter)
}
