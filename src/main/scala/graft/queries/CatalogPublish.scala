package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.llm.IndexStore

/** Atomic publish for the materialized session-catalog tables (the
  * bucketed partsupp/lineitem/orders copies and c32's month-partitioned
  * fact) — [[graft.llm.IndexStore]]'s build-into-temp-then-rename
  * discipline applied to catalog tables.
  *
  * The previous pattern (rmrf the warehouse subdir, then saveAsTable)
  * had two latent defects the round-9 advice named: two JVMs sharing a
  * warehouse dir could delete each other's table files mid-write, and
  * `stripPrefix("file:")` assumed a local-filesystem warehouse. Here
  * the table FILES live outside the warehouse entirely, keyed by the
  * source corpus fingerprint, published by a single directory rename
  * (complete-or-absent, never half-written); the in-memory catalog
  * entry is just a per-session pointer registered over the published
  * location. A second session (or a racing JVM) finds the winner's
  * complete directory and re-registers — no rebuild, no deletes.
  */
private[graft] object CatalogPublish {

  private def published(src: File, family: String)
                       (build: File => Unit): String =
    IndexStore.ensureBuilt(IndexStore.base(family, src))(build)

  /** Bucketed table: the build writes through a uniquely-named temp
    * catalog entry (bucketBy requires saveAsTable — the bucket ids are
    * encoded in the file names) with an external path, drops the temp
    * entry (external: files stay), and the final table is registered
    * CLUSTERED BY over the published directory. */
  def bucketed(s: SparkSession, table: String, src: File, family: String,
               df: => DataFrame, buckets: Int, key: String): DataFrame = {
    if (!s.catalog.tableExists(table)) {
      val data = df
      val loc = published(src, family) { tmp =>
        val bt = table + "_build_" +
          tmp.getName.replaceAll("[^A-Za-z0-9]", "_")
        // repartition by the SAME hash the bucketer uses => exactly one
        // file per bucket (tidy layout; the Exchange under every
        // bucket-aligned SMJ — the cost that grows with cluster size —
        // is gone for consumers).
        data.repartition(buckets, col(key))
          .write.bucketBy(buckets, key).sortBy(key)
          .option("path", tmp.getAbsolutePath)
          .mode("overwrite").saveAsTable(bt)
        s.sql(s"DROP TABLE IF EXISTS $bt"): Unit
      }
      s.sql(
        s"""CREATE TABLE $table (${data.schema.toDDL}) USING parquet
           |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
           |LOCATION '$loc'""".stripMargin): Unit
    }
    s.table(table)
  }

  /** Directory-partitioned table: plain partitioned parquet write into
    * the temp (no catalog involvement needed), then an external
    * PARTITIONED BY registration + partition recovery. */
  def partitioned(s: SparkSession, table: String, src: File,
                  family: String, df: => DataFrame,
                  partCol: String): DataFrame = {
    if (!s.catalog.tableExists(table)) {
      val data = df
      val loc = published(src, family) { tmp =>
        data.write.partitionBy(partCol)
          .mode("overwrite").parquet(tmp.getAbsolutePath)
      }
      s.sql(
        s"""CREATE TABLE $table (${data.schema.toDDL}) USING parquet
           |PARTITIONED BY ($partCol) LOCATION '$loc'""".stripMargin): Unit
      s.sql(s"MSCK REPAIR TABLE $table"): Unit
    }
    s.table(table)
  }
}
