package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Session extensions (SURVEY §2B custom tier (c): `Rule[LogicalPlan]`
  * via `SparkSessionExtensions`): install with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Besides the optimizer rule, this injects graft's whole native-
  * expression surface as SQL functions, so a pure-SQL deployment
  * (spark-sql / Thrift server / `spark.sql(...)` with the conf above)
  * can call `vec_dot`, `hilbert_index`, `hilbert_xy`, `shingle3`,
  * `sorted_intersect_count`, `geo_envelope`, `geo_contains`,
  * `geo_intersects`, `geo_distance` and the `minhash_sig*` family.
  * This is the only name-based path: the Scala Column helpers
  * (`graft.functions.*Functions`) build their expressions directly and
  * need no session setup.
  * The minhash functions are bound to the PRODUCTION permutation family
  * (the one the dedup chain and the q31/q78 oracles use — deterministic,
  * seed-fixed, see `Dedup.minhashFamily`); another constant family goes
  * through the Column helpers, which take the constants as arguments. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => LevenshteinPrefilter)
    // a small global sort sorts in one partition, with no range-sampling
    // job ([[SmallSortInOnePartition]])
    ext.injectQueryStagePrepRule(_ => SmallSortInOnePartition)
    // SQL views over graft catalogs (r16, [[GraftViews]]): DDL rewrites
    // at the parser (stock Spark hard-refuses V2 view DDL before any
    // injected rule could run — the Iceberg approach), reads expand
    // through a resolution rule
    ext.injectParser((session, delegate) => new GraftViewSqlParser(session, delegate))
    ext.injectResolutionRule(session => new ResolveGraftViews(session))
    // transparent MV rewrite (r17, [[RewriteOntoMv]]): post-hoc, so
    // HAVING/ORDER BY have already folded into the Aggregate and the
    // substitution sees the final resolved shape
    ext.injectPostHocResolutionRule(session => new RewriteOntoMv(session))
    // transparent text-index rewrite (r18, [[RewriteOntoTextIndex]]):
    // the q101 tokenization front reconstructs from CURRENT postings
    ext.injectPostHocResolutionRule(session => new RewriteOntoTextIndex(session))
    ext.injectFunction(graft.functions.VectorFunctions.dotInfo)
    ext.injectFunction(graft.functions.HilbertFunctions.info)
    ext.injectFunction(graft.functions.HilbertFunctions.xyInfo)
    ext.injectFunction(graft.functions.ShingleFunctions.info)
    ext.injectFunction(graft.functions.IntersectFunctions.info)
    ext.injectFunction(graft.functions.GeoFunctions.envelopeInfo)
    ext.injectFunction(graft.functions.GeoFunctions.containsInfo)
    ext.injectFunction(graft.functions.GeoFunctions.intersectsInfo)
    ext.injectFunction(graft.functions.GeoFunctions.distanceInfo)
    val (a, b, c, mod) = graft.dedup.Dedup.minhashFamily
    ext.injectFunction(graft.functions.MinhashFunctions.info(a, b, c, mod))
    ext.injectFunction(graft.functions.MinhashFunctions.textInfo(
      "minhash_sig_text_md5", a, b, c, mod, replayable = true))
    ext.injectFunction(graft.functions.MinhashFunctions.textInfo(
      "minhash_sig_text_xxh", a, b, c, mod, replayable = false))
  }
}

/** Defensive boolean conf parse shared by the rewrite kill switches
  * (r18 review): a malformed SET must never throw from rule
  * application — unparseable values warn and take the default. */
private[plans] object LenientConf {
  def bool(session: org.apache.spark.sql.SparkSession, key: String,
      default: Boolean, warn: String => Unit): Boolean =
    session.conf.get(key, default.toString).trim.toLowerCase match {
      case "true" | "1" | "yes" | "on" => true
      case "false" | "0" | "no" | "off" => false
      case other =>
        warn(s"$key='$other' is not a boolean; treating as $default")
        default
    }
}

/** Optimizer rule: a filter `levenshtein(a, b) <= k` gains the conjunct
  * `abs(length(a) - length(b)) <= k` AHEAD of it. Edit distance is lower-
  * bounded by the length difference, so the guard never changes results —
  * but it is O(1) versus Levenshtein's O(len(a)·len(b)) DP, and
  * conjunction evaluation short-circuits, so rows whose lengths already
  * rule them out (the common case in fuzzy matching over a wide corpus)
  * skip the expensive comparison entirely.
  *
  * The rule joins the optimizer's fixed-point batch, so it must be
  * idempotent: a filter that already contains a length-difference guard
  * (ours or hand-written) is left untouched. */
object LevenshteinPrefilter extends Rule[LogicalPlan] {

  /** `abs(length(a) - length(b))` over some operand pair. */
  private object AbsLenDiff {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case Abs(Subtract(Length(a), Length(b), _), _) => Some((a, b))
      case _ => None
    }
  }

  /** A levenshtein comparison in either literal position, normalized to
    * its effective inclusive bound: `lev <= k`/`k >= lev` → k,
    * `lev < k`/`k > lev` → k-1. */
  private object LevBound {
    def unapply(e: Expression): Option[(Expression, Expression, Int)] = e match {
      case LessThanOrEqual(Levenshtein(l, r, None), Literal(k: Int, IntegerType)) => Some((l, r, k))
      case LessThan(Levenshtein(l, r, None), Literal(k: Int, IntegerType)) => Some((l, r, k - 1))
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), Levenshtein(l, r, None)) => Some((l, r, k))
      case GreaterThan(Literal(k: Int, IntegerType), Levenshtein(l, r, None)) => Some((l, r, k - 1))
      case _ => None
    }
  }

  /** Does the condition already carry a length-difference guard over
    * THESE operands that is at least as tight as the levenshtein bound
    * `k`? Checked per comparison (not filter-wide), so one guarded
    * levenshtein conjunct doesn't suppress the rewrite for a different,
    * unguarded one — and a WEAKER hand-written guard (e.g.
    * `abs(...) <= 50` next to `lev <= 2`) doesn't suppress it either:
    * only a guard whose inclusive bound is <= k makes ours redundant.
    * A lower-bound form (`abs(...) >= g`) is not a guard at all. */
  private def hasGuardFor(cond: Expression, l: Expression, r: Expression, k: Int): Boolean =
    cond.exists { e =>
      val bound = e match {
        case LessThanOrEqual(AbsLenDiff(a, b), Literal(g: Int, IntegerType)) => Some((a, b, g))
        case LessThan(AbsLenDiff(a, b), Literal(g: Int, IntegerType)) => Some((a, b, g - 1))
        case GreaterThanOrEqual(Literal(g: Int, IntegerType), AbsLenDiff(a, b)) => Some((a, b, g))
        case GreaterThan(Literal(g: Int, IntegerType), AbsLenDiff(a, b)) => Some((a, b, g - 1))
        case _ => None
      }
      bound.exists { case (a, b, g) =>
        g <= k &&
          ((a.semanticEquals(l) && b.semanticEquals(r)) ||
            (a.semanticEquals(r) && b.semanticEquals(l)))
      }
    }

  private def guarded(cmp: Expression, l: Expression, r: Expression, k: Int): Expression =
    And(LessThanOrEqual(Abs(Subtract(Length(l), Length(r))), Literal(k)), cmp)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val rewritten = cond.transformUp {
        case cmp @ LevBound(l, r, k) if !hasGuardFor(cond, l, r, k) =>
          guarded(cmp, l, r, k)
      }
      if (rewritten fastEquals cond) f else Filter(rewritten, child)
  }
}
