package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{CosineSim, DotProduct, L2Distance}

/** Session extensions for cluster-wide deployment:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * injects the native vector and inet expressions into every session's
  * function registry (no per-session registerAll call needed). The one
  * remaining UDF-backed family (the sum_sq UDAF) still registers per
  * session via `Udafs.registerAll` — extension injection requires
  * Expression builders. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, s"$name - graft expression", "", "", "", "", "", "", "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, f: (Expression, Expression) => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name), { es: Seq[Expression] =>
        if (es.length != 2)
          throw new IllegalArgumentException(s"$name requires exactly 2 arguments, got ${es.length}")
        f(es(0), es(1))
      }))
    inject("cosine_sim", CosineSim.apply)
    inject("dot_product", DotProduct.apply)
    inject("l2_distance", L2Distance.apply)
    graft.inet.InetExpressions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
    graft.functions.BloomFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
    graft.functions.SketchExpressions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
    graft.functions.StringSimilarity.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
    graft.functions.TextNormalize.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
    // fused single-pass token/stopword/punct counters + language profile
    ext.injectFunction((FunctionIdentifier("text_stats"), info("text_stats"),
      graft.functions.TextStats.builder _))
    ext.injectFunction((FunctionIdentifier("lang_profile"), info("lang_profile"),
      { es: Seq[Expression] =>
        if (es.length != 1)
          throw new IllegalArgumentException(
            s"lang_profile requires exactly 1 argument, got ${es.length}")
        graft.functions.LangProfile(es.head, graft.text.TextFunctions.LangMarkers)
      }))
    // exact fixed-point money math at long speed (scale literal required)
    def intLit(e: Expression, name: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$name requires a literal int scale, got $other")
    }
    ext.injectFunction((FunctionIdentifier("exact_cents"), info("exact_cents"),
      { es: Seq[Expression] =>
        require(es.length == 2, s"exact_cents(x, scale) requires 2 arguments, got ${es.length}")
        graft.functions.ExactSum.centsExpr(es.head, intLit(es(1), "exact_cents"))
      }))
    ext.injectFunction((FunctionIdentifier("sum_split128"), info("sum_split128"),
      { es: Seq[Expression] =>
        require(es.length == 2, s"sum_split128(units, scale) requires 2 arguments, got ${es.length}")
        graft.functions.SumSplit128(es.head, intLit(es(1), "sum_split128"))
      }))
    // literal-CIDR containment filters gain a pushable prefix conjunct
    // (reaches the zeek scan's pre-parse filter eval — see the rule doc)
    ext.injectOptimizerRule(_ => new graft.plans.InetContainsPrefixRule)
    // levenshtein threshold filters gain a cheap length-gap prefilter
    ext.injectOptimizerRule(_ => new graft.plans.LevenshteinBoundRule)
    // jaro / jaro-winkler threshold filters gain a length-ratio prefilter
    ext.injectOptimizerRule(_ => new graft.plans.JaroWinklerBoundRule)
    // native sort-merge as-of join (custom LogicalPlan + SparkPlan)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // the reference's own UX: SELECT * FROM read_zeek('glob', opt => v)
    ext.injectTableFunction(graft.zeek.v2.ZeekTableFunction.injectable)
  }
}
