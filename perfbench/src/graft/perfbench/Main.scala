package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}

/** The JVM side of the benchmark (perfbench/run.py drives it).
  *
  *   run <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir> <cores>
  *
  * Sets up the session, then one closed-loop client runs a first pass and
  * [[warmPasses]] warm passes over the workload, one query at a time: the
  * query function is called (the builder) and its DataFrame is written to
  * the `noop` sink (the action). The raw record goes to
  * outDir/record.json (plus outDir/spans.jsonl when traced); then
  * [[graft.Verify]] writes every workload query's result and its oracle
  * SQL to outDir/results for the oracle check.
  */
object Main {

  /** A step of a pass. `role` is "query", "build" (a cold build: the
    * pass starts by purging every published index artifact) or "probe"
    * (a warm probe of the artifact a build of this pass published). */
  final case class Step(query: String, role: String)

  /** One pass runs `queries` in a seed-shuffled order, then `builds` in
    * lifecycle order, then `probes` in a seed-shuffled order.
    * `firstS`/`warmS` are the nominal first- and warm-pass times on the
    * reference host (4-core VM); they fix how many warm passes a run of a
    * given length makes, so every run of that length makes the same
    * number (the JIT is still compiling during the first warm passes, so
    * a varying count would shift pass_s). */
  final case class Workload(queries: Seq[String], builds: Seq[String] = Nil,
                            probes: Seq[String] = Nil,
                            firstS: Double, warmS: Double) {
    def names: Set[String] = (queries ++ builds ++ probes).toSet
    def steps(rng: Random): Seq[Step] =
      rng.shuffle(queries).map(Step(_, "query")) ++
        builds.map(Step(_, "build")) ++ rng.shuffle(probes).map(Step(_, "probe"))
  }

  val Workloads: Map[String, Workload] = Map(
    "olap_mix" -> Workload(Seq("q1_agg", "q3_topk", "q5_join6", "q10_returns",
      "h02_sum_by_id1_id2", "h12_join_medium"), firstS = 12, warmS = 5),
    "llm_pipeline" -> Workload(Seq("d06_dup_clusters"),
      builds = Seq("d21_indexed_ingest"), probes = Seq("d21_indexed_ingest"),
      firstS = 20, warmS = 10))

  /** Warm passes of a run measuring about `seconds`: at least one, and
    * four when traced, which alternate untraced, traced, traced, untraced
    * (see [[tracedPass]]). */
  private def warmPasses(w: Workload, seconds: Double, traced: Boolean): Int =
    math.round((seconds - w.firstS) / w.warmS).toInt max (if (traced) 4 else 1)

  /** In a traced run: the first pass and warm passes in an ABBA order, so
    * the JIT's continuing warm-up does not bias the overhead estimate. */
  private def tracedPass(p: Int): Boolean = p == 0 || p % 4 == 2 || p % 4 == 3
  private val Sentinel = "q10_returns"

  def main(args: Array[String]): Unit = args match {
    case Array("run", workload, seed, seconds, trace, dataDir, outDir, cores) =>
      require(Workloads.contains(workload), s"unknown workload $workload")
      run(workload, seed.toLong, seconds.toDouble, trace == "1", dataDir,
        new File(outDir), cores.toInt)
    case _ =>
      System.err.println("usage: run <workload> <seed> <seconds> <trace> " +
        "<dataDir> <outDir> <cores>")
      sys.exit(2)
  }

  /** Session start plus every table readable; returns the session, the
    * time since JVM start, and the time inside GraftSession.local. */
  private def setup(dataDir: String, cores: Int): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    Tables.names.foreach(n => Tables.load(spark, dataDir, n).schema)
    (spark, ManagementFactory.getRuntimeMXBean.getUptime / 1e3, sessionS)
  }

  private def artifactDirs: Seq[File] = {
    val tmp = new File(sys.props("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
  }

  /** Published artifacts: the children of each IndexStore family root. */
  private def artifacts: Set[String] = artifactDirs
    .flatMap(r => Option(r.listFiles()).getOrElse(Array.empty[File])
      .map(c => s"${r.getName}/${c.getName}")).toSet

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File])
      .toSeq.flatMap(walk)
    else Seq(f)

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRec)
    f.delete(): Unit
  }

  private def purgeArtifacts(): Unit = artifactDirs.foreach(deleteRec)

  private def jvmGcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime max 0L).sum
  private def jvmJitMs: Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak resident set of this JVM so far (VmHWM), in MB. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def run(workload: String, seed: Long, seconds: Double,
                  traced: Boolean, dataDir: String, out: File,
                  cores: Int): Unit = {
    val spec = Workloads(workload)
    require(sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
      .contains(spec.names), s"SPARK_GRAFT_ONLY must list ${spec.names}")
    val (spark, setupS, sessionS) = setup(dataDir, cores)
    purgeArtifacts()
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val spans = mutable.ArrayBuffer[Span]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val rng = new Random(seed)

    /** Runs one step; returns its record. */
    def execute(step: Step, pass: Int, tr: Option[Tracer]): Map[String, Any] = {
      val gc0 = jvmGcMs
      val jit0 = jvmJitMs
      val before = artifacts
      tr.foreach(_.begin())
      val e0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var df: Option[DataFrame] = None
      var e1 = e0
      var n1 = n0
      val error = try {
        df = Some(SparkEntry.queries(step.query)(spark, dataDir))
        e1 = System.currentTimeMillis(); n1 = System.nanoTime()
        df.get.write.format("noop").mode("overwrite").save()
        None
      } catch { case t: Throwable =>
        if (df.isEmpty) { e1 = System.currentTimeMillis(); n1 = System.nanoTime() }
        Some(s"${t.getClass.getSimpleName}: ${t.getMessage}")
      }
      val n2 = System.nanoTime()
      val e2 = System.currentTimeMillis()
      // Cached state right after the action, before anything is released.
      val storage = spark.sparkContext.getRDDStorageInfo
      val layers = tr.map { t =>
        val (m, s) = t.finish(s"$workload/$seed/p$pass/${step.query}/${step.role}",
          df, e0, e1, e2)
        spans ++= s
        m
      }.getOrElse(Map.empty)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      Map("query" -> step.query, "role" -> step.role,
        "builder_s" -> (n1 - n0) / 1e9, "action_s" -> (n2 - n1) / 1e9,
        "wall_s" -> (n2 - n0) / 1e9, "error" -> error,
        "cached_mb" -> storage.map(i => i.memSize + i.diskSize).sum / 1e6,
        "cached_rdds" -> storage.length,
        "cached_blocks" -> storage.map(_.numCachedPartitions).sum,
        "new_artifacts" -> (artifacts -- before).size,
        "jvm_gc_s" -> (jvmGcMs - gc0) / 1e3,
        "jvm_jit_s" -> (jvmJitMs - jit0) / 1e3,
        "layers" -> layers)
    }

    def runPass(pass: Int, tr: Option[Tracer]): Unit = {
      val plan = spec.steps(rng)
      if (spec.builds.nonEmpty) purgeArtifacts()
      tr.foreach(_.attach())
      val t0 = System.nanoTime()
      val execs = plan.map(execute(_, pass, tr))
      val wall = (System.nanoTime() - t0) / 1e9
      tr.foreach(_.detach())
      val files = artifactDirs.flatMap(walk)
      passes += Map("pass" -> pass, "traced" -> tr.isDefined, "wall_s" -> wall,
        "artifact_mb" -> files.map(_.length).sum / 1e6,
        "artifact_files" -> files.size, "steps" -> execs)
    }

    val start = System.nanoTime()
    // Traced runs mix untraced and traced warm passes, so the tracing
    // overhead is measured inside the same run.
    (0 to warmPasses(spec, seconds, traced))
      .foreach(p => runPass(p, tracer.filter(_ => tracedPass(p))))
    val measuredS = (System.nanoTime() - start) / 1e9
    val rssMb = peakRssMb

    // Load context only: the sentinel's warm time on this host right now.
    def timed(name: String): Double = {
      val t = System.nanoTime()
      SparkEntry.queries(name)(spark, dataDir).write.format("noop")
        .mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    timed(Sentinel)
    val sentinelS = timed(Sentinel)

    val record = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "host" -> Map("cores" -> cores, "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version),
      "setup_s" -> setupS, "session_start_s" -> sessionS,
      "measured_s" -> measuredS, "peak_rss_mb" -> rssMb,
      "sentinel" -> Map("query" -> Sentinel, "warm_s" -> sentinelS),
      "checked" -> spec.names.toSeq.sorted, "passes" -> passes)
    Files.writeString(new File(out, "record.json").toPath, Json.render(record))
    if (traced) Files.writeString(new File(out, "spans.jsonl").toPath,
      spans.map(s => Json.render(s.toMap)).mkString("", "\n", "\n"))

    // Results for the oracle check, outside the timed passes: the
    // repository's own correctness dump, limited to this workload's
    // queries by SPARK_GRAFT_ONLY. Artifacts published by the last pass
    // stay, so a build query is checked on the same probe path its timed
    // build ended with. Verify stops the session.
    graft.Verify.main(Array(dataDir, new File(out, "results").getPath))
  }
}
