package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{GraftSession, Tables}

/** Shuffle micro-benchmark — the repo analogue of the reference's
  * standalone shuffle profiler (`benchmarks/src/bin/shuffle_bench.rs`:
  * stream a parquet input through the hash shuffle writer at a given
  * partition count, report elapsed + rows/sec). Spark's equivalent of
  * "drive the sort-based shuffle writer end-to-end" is a hash
  * repartition materialized by a noop sink: the full exchange —
  * map-side write, disk spill files, reduce-side fetch — executes, and
  * nothing else does (no agg, no join, no output I/O beyond the
  * shuffle's own).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ShuffleBench"
  * Sweeps 16/64/256 output partitions (the reference parameterizes
  * `--partitions`; the sweep shows the flat-cost vs fan-out regimes) on
  * lineitem hashed by l_orderkey (≙ `--hash-columns 0`), one warmup +
  * best-of-2 per point (Bench's discipline), and appends ONE JSON line
  * to shuffle_bench.json with the q10_returns sentinel measured in the
  * same JVM window — cross-round comparisons divide by it, the
  * BENCH_r* rule. The committed artifact grounds the "2× of reference
  * throughput" gate's shuffle component with a stored number, the way
  * the reference stores its harness output.
  */
object ShuffleBench {

  private val Partitions = Seq(16, 64, 256)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    try run(spark, sfDir) finally spark.stop()
  }

  private def timeOnce(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def run(spark: SparkSession, sfDir: String): Unit = {
    val rows = Tables.load(spark, sfDir, "lineitem").count()
    def shuffle(p: Int): Unit =
      Tables.load(spark, sfDir, "lineitem")
        .repartition(p, col("l_orderkey"))
        .write.format("noop").mode("overwrite").save()

    val results = Partitions.map { p =>
      shuffle(p) // warmup: JIT, codegen, parquet footers
      val best = (1 to 2).map(_ => timeOnce(shuffle(p))).min
      System.err.println(f"[shuffle-bench] p=$p%-4d ${best}%.3f s " +
        f"(${rows / best / 1e6}%.2f M rows/s)")
      p -> best
    }
    // Same-JVM load sentinel (Bench's q10_returns convention).
    val sentinelFn = graft.SparkEntry.queries("q10_returns")
    def sentinelOnce(): Unit = {
      spark.catalog.clearCache()
      sentinelFn(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
    }
    sentinelOnce()
    val sentinel = (1 to 2).map(_ => timeOnce(sentinelOnce())).min

    val qs = results.map { case (p, s) => s""""p$p":${f"$s%.3f"}""" }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"shuffle_write_read","unit":"sec","rows":$rows,""" +
        s""""hash_col":"l_orderkey","partitions":$qs,""" +
        f""""sentinel_sec":$sentinel%.3f,"sf":"$sfDir"}"""
    println(line)
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_OUT",
      "/root/repo/shuffle_bench.json"))
    Files.writeString(out, line + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }
}
