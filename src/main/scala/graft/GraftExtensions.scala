package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.Decimal

import graft.functions._

/** Session extension surface — the Spark analogue of the reference's
  * `BallistaFunctionRegistry` (`core/src/registry.rs:38-48`): user functions
  * join the session at build time via `SparkSession.builder.withExtensions`.
  */
object GraftExtensions {

  /** One SQL function: its name, implementing expression class, the
    * argument counts it accepts, and the builder over arity-checked
    * children (literal-argument validation lives in the builder). */
  private case class Fn(name: String, cls: Class[_], arity: Seq[Int],
                        build: Seq[Expression] => Expression)

  /** The value of literal argument `arg` of function `fn`. */
  private def literal(fn: String, arg: String, e: Expression): Any = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $arg must be a literal, got ${e.sql}")
    e.eval()
  }

  private def intArg(fn: String, arg: String, e: Expression): Int =
    literal(fn, arg, e) match {
      case n: java.lang.Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: non-numeric $arg literal $other")
    }

  private def doubleArg(fn: String, arg: String, e: Expression): Double =
    literal(fn, arg, e) match {
      case d: Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$fn: non-numeric $arg literal $other")
    }

  /** Sketch capacity (optional argument `i`, default 8192, at least 8). */
  private def capacity(fn: String, c: Seq[Expression], i: Int,
                       toInt: Expression => Int): Int = {
    val cap = if (c.size > i) toInt(c(i)) else 8192
    if (cap < 8) throw new IllegalArgumentException(
      s"$fn: capacity must be >= 8, got $cap")
    cap
  }

  private val functions = Seq(
    Fn("cosine_sim", classOf[CosineSimilarity], Seq(2),
      c => CosineSimilarity(c(0), c(1))),
    Fn("hyperplane_sig", classOf[HyperplaneSig], Seq(2),
      c => HyperplaneSig(c(0), intArg("hyperplane_sig", "nPlanes", c(1)))),
    Fn("int_l2", classOf[IntL2Dist], Seq(2), c => IntL2Dist(c(0), c(1))),
    Fn("ivf_argmin", classOf[IvfArgmin], Seq(2), c => IvfArgmin(c(0), c(1))),
    Fn("tok_hashes", classOf[TokHashes], Seq(1), c => TokHashes(c(0))),
    Fn("inter_count", classOf[IntersectCount], Seq(2),
      c => IntersectCount(c(0), c(1))),
    Fn("simhash16", classOf[Simhash16], Seq(1), c => Simhash16(c(0))),
    Fn("shingle_hashes", classOf[ShingleHashes], Seq(2),
      c => ShingleHashes(c(0), intArg("shingle_hashes", "k", c(1)))),
    Fn("kll_quantile", classOf[KllQuantile], Seq(2, 3), { c =>
      val q = doubleArg("kll_quantile", "quantile", c(1))
      if (q.isNaN || q < 0.0 || q > 1.0)
        throw new IllegalArgumentException(
          s"kll_quantile: quantile must be in [0, 1], got $q")
      KllQuantile(c(0), q, capacity("kll_quantile", c, 2,
        doubleArg("kll_quantile", "capacity", _).toInt))
    }),
    Fn("kll_sketch", classOf[KllSketchAgg], Seq(1, 2),
      c => KllSketchAgg(c(0), capacity("kll_sketch", c, 1,
        intArg("kll_sketch", "capacity", _)))),
    Fn("mg_topk", classOf[MgTopK], Seq(2), { c =>
      val k = intArg("mg_topk", "k", c(1))
      if (k < 2) throw new IllegalArgumentException(
        s"mg_topk: k must be >= 2, got $k")
      MgTopK(c(0), k)
    }))

  val install: SparkSessionExtensions => Unit = { e =>
    // §7 path (c): custom logical node -> SparkStrategy -> SparkPlan
    // (reference ChaosExec, core/src/execution_plans/chaos_exec.rs).
    e.injectPlannerStrategy(_ => graft.plans.Chaos.ChaosStrategy)
    functions.foreach { f =>
      e.injectFunction((
        FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name),
        (children: Seq[Expression]) => {
          if (!f.arity.contains(children.size)) throw new AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map(
              "functionName" -> f.name,
              "expectedNum" -> f.arity.mkString(" or "),
              "actualNum" -> children.size.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
          f.build(children)
        }))
    }
  }
}
