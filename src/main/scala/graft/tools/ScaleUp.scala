package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Builds a 10× scaled BENCH corpus (an "sf1" leg) from the sf0.1
  * tables — the analogue of the reference's CI verifying at SF10/SF1
  * (`.github/workflows/tpch.yml:109-112`, `tpcds.yml:73-77`) where the
  * graded corpus stops at sf0.1. Scale-only artifact for throughput
  * and skew/spill observation; correctness stays gated on the driver's
  * corpus.
  *
  * Replication rules (replica i ∈ 0..9):
  *  - fact/entity keys shift by i·10⁹ (c_custkey, o_orderkey/o_custkey,
  *    l_*, p_partkey, s_suppkey, event_id/user_id, doc_id, vec_id) so
  *    joins keep their fan-in and no cross-replica key ever collides;
  *  - region/nation stay fixed (25-row dims, as in TPC-H at any SF);
  *  - document TOKENS are salted per replica (`tok` → `tok§i`), so the
  *    vocabulary grows with the corpus and the dedup/similarity miners
  *    see a genuinely larger corpus — naive row replication would make
  *    every doc a 10-way near-dup cluster, turning the pair miners
  *    into a quadratic artifact a real 10× corpus doesn't have;
  *  - embeddings rotate cyclically by i dims per replica — decorrelated
  *    directions, same norm and dimension stats.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/target/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    // Key-shift stride per replica. The default (1e9) is sized for the
    // FIRST decade (sf0.1 keys < 1e9); chaining ScaleUp onto its own
    // output (the round-12 sf10 leg) must widen the stride past the
    // previous decade's full key span or replicas collide — pass 1e10
    // when scaling target/sf1.
    val Shift = if (args.length > 3) args(3).toLong else 1000000000L
    val spark = GraftSession.local()

    def replicate(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, name)
      val all = (0 until reps).map(i => f(base, i)).reduce(_ unionByName _)
      all.repartition(32).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name -> ${all.count()} rows")
    }

    def shifted(c: String, i: Int) = col(c) + lit(i * Shift)

    replicate("customer", (d, i) => d
      .withColumn("c_custkey", shifted("c_custkey", i)))
    replicate("supplier", (d, i) => d
      .withColumn("s_suppkey", shifted("s_suppkey", i)))
    replicate("part", (d, i) => d
      .withColumn("p_partkey", shifted("p_partkey", i)))
    replicate("orders", (d, i) => d
      .withColumn("o_orderkey", shifted("o_orderkey", i))
      .withColumn("o_custkey", shifted("o_custkey", i)))
    replicate("lineitem", (d, i) => d
      .withColumn("l_orderkey", shifted("l_orderkey", i))
      .withColumn("l_partkey", shifted("l_partkey", i))
      .withColumn("l_suppkey", shifted("l_suppkey", i)))
    replicate("events", (d, i) => d
      .withColumn("event_id", shifted("event_id", i))
      .withColumn("user_id", shifted("user_id", i))
      // Tables.load normalizes ts to epoch-ns BIGINT; re-emit the
      // corpus vintage (timestamp[us] NTZ) so sf1 carries the same
      // schema as its source and DuckDB sees a timestamp either way.
      .withColumn("ts",
        expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)")))
    replicate("documents", (d, i) => d
      .withColumn("doc_id", shifted("doc_id", i))
      .withColumn("text", array_join(
        transform(split(col("text"), " "),
          t => concat(t, lit(if (i == 0) "" else s"§$i"))), " ")))
    replicate("embeddings", (d, i) => {
      val dims = 64
      val rot = if (i == 0) col("embedding")
        else concat(slice(col("embedding"), i + 1, dims - i),
          slice(col("embedding"), 1, i))
      d.withColumn("vec_id", shifted("vec_id", i))
        .withColumn("embedding", rot)
    })
    // fixed dims: copy through once
    Seq("region", "nation").foreach { name =>
      Tables.load(spark, src, name).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name -> copied")
    }
    spark.stop()
  }
}
