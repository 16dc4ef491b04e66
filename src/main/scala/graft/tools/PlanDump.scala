package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for declared queries to text files.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> [query ...] [--suffix _before]
  * With no query names, dumps every declared query. The output is the
  * pre-execution formatted plan (AdaptiveSparkPlan isFinalPlan=false when
  * AQE applies), which is what the plan-shape claims in OPTIMIZATION_r16.md
  * reference.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--suffix="))
    val suffix = flags.headOption.map(_.stripPrefix("--suffix=")).getOrElse("")
    val outDir = rest.head
    val names =
      if (rest.length > 1) rest.tail.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        spark.catalog.clearCache()
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/$n$suffix.txt"), txt)
        System.err.println(s"[plandump] $n ok (${txt.length} chars)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
