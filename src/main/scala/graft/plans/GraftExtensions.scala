package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Height→bucket predicate derivation (SURVEY §4 optional polish #2).
  *
  * The physical layout partitions every analytic table by
  * `height_bucket = floor(height / 100000)` (ref models.js:117
  * `intDiv(height, 100000)`). Queries filter on raw `height`; without help
  * the scan reads every bucket directory. This rule derives the implied
  * `height_bucket` bounds from top-level height conjuncts so
  * FileSourceStrategy classifies them as partition filters — directory
  * pruning for free, the Spark analogue of ClickHouse partition pruning.
  *
  * Conservative by construction: only top-level AND-ed comparisons with
  * literals, only when the relation exposes both `height` and
  * `height_bucket`, and never when a bucket predicate is already present.
  */
object HeightBucketPruning extends Rule[LogicalPlan] {

  private val BucketSize = 100000L

  private def bucketOf(h: Long): Long = math.floorDiv(h, BucketSize)

  /** Literal matching the bucket attribute's type (partition-column discovery
    * may infer INT); skip derivation when the value wouldn't fit. */
  private def bucketLit(v: Long, bucket: Attribute): Option[Literal] =
    bucket.dataType match {
      case LongType => Some(Literal(v))
      case org.apache.spark.sql.types.IntegerType if v.isValidInt => Some(Literal(v.toInt))
      case _ => None
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def isHeight(e: Expression, height: Attribute): Boolean = e match {
    case a: Attribute => a.exprId == height.exprId
    case _ => false
  }

  private def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, _) => Some(v.toLong)
    case _ => None
  }

  /** Derive bucket bounds implied by one height conjunct. */
  private def derive(c: Expression, height: Attribute,
                     bucket: Attribute): Seq[Expression] = {
    def lit(x: Long) = bucketLit(bucketOf(x), bucket)
    c match {
      case EqualTo(h, v) if isHeight(h, height) =>
        longLit(v).flatMap(x => lit(x).map(EqualTo(bucket, _))).toSeq
      case EqualTo(v, h) if isHeight(h, height) =>
        longLit(v).flatMap(x => lit(x).map(EqualTo(bucket, _))).toSeq
      case GreaterThanOrEqual(h, v) if isHeight(h, height) =>
        longLit(v).flatMap(x => lit(x).map(GreaterThanOrEqual(bucket, _))).toSeq
      case GreaterThan(h, v) if isHeight(h, height) =>
        longLit(v).flatMap(x => lit(x).map(GreaterThanOrEqual(bucket, _))).toSeq
      case LessThanOrEqual(h, v) if isHeight(h, height) =>
        longLit(v).flatMap(x => lit(x).map(LessThanOrEqual(bucket, _))).toSeq
      case LessThan(h, v) if isHeight(h, height) =>
        longLit(v).flatMap(x => lit(x).map(LessThanOrEqual(bucket, _))).toSeq
      // reversed operand order
      case GreaterThanOrEqual(v, h) if isHeight(h, height) =>
        longLit(v).flatMap(x => lit(x).map(LessThanOrEqual(bucket, _))).toSeq
      case LessThanOrEqual(v, h) if isHeight(h, height) =>
        longLit(v).flatMap(x => lit(x).map(GreaterThanOrEqual(bucket, _))).toSeq
      case _ => Seq.empty
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val heightOpt = child.output.find(a => a.name == "height" && a.dataType == LongType)
      val bucketOpt = child.output.find(a => a.name == "height_bucket")
      (heightOpt, bucketOpt) match {
        case (Some(height), Some(bucket))
            if !cond.references.contains(bucket) =>
          val derived = splitConjuncts(cond).flatMap(derive(_, height, bucket)).distinct
          if (derived.isEmpty) f
          else Filter(derived.foldLeft(cond)(And(_, _)), child)
        case _ => f
      }
  }
}

/** ClickHouse's `FINAL` modifier as a Spark query hint (SURVEY §4 optional
  * polish #1): `df.hint("FINAL")` — or `SELECT /*+ FINAL */ …` on the SQL
  * surface — rewrites the hinted subtree to its latest-full-row-per-key
  * view during analysis.
  *
  * The rule only infers which spec applies: exactly one
  * [[graft.store.Store.versionedTables]] entry whose key and version
  * columns all appear in the child's output. Zero matches or an ambiguous
  * schema fail loudly — a silent raw read is exactly the hazard the hint
  * exists to close. The rewrite itself is [[graft.store.Store.latestPlan]],
  * the plan `Store.latest` builds, so hinted and explicit reads are
  * plan-identical.
  *
  * Tie-break columns deliberately do NOT gate the match: a projection that
  * pruned `id` off failed_blocks is still a versioned read and must keep
  * resolving; the rewrite applies the tie-breaks that survive the
  * projection (full-schema reads stay plan-identical to the explicit read).
  *
  * Opt-in by design: an automatic rewrite of every versioned-table read
  * would break the call sites that legitimately read raw appends (ingest
  * counters, compaction audits, partition-layout checks). */
object FinalHintResolution extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint
  import graft.store.Store

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case h @ UnresolvedHint(name, _, child) if name.equalsIgnoreCase("FINAL") =>
      if (!child.resolved) h
      else {
        def present(c: String) = child.output.exists(_.name == c)
        Store.versionedTables.toSeq.filter { case (_, spec) =>
          (spec.keys :+ spec.ver).forall(present)
        } match {
          case Seq((_, spec)) =>
            Store.latestPlan(child, spec.copy(tieBreak = spec.tieBreak.filter(present)))
          case Seq() => throw new IllegalArgumentException(
            "FINAL hint: no versioned-table spec matches schema " +
              child.output.map(_.name).mkString("[", ", ", "]") +
              s" (registry: ${Store.versionedTables.keys.mkString(", ")})")
          case many => throw new IllegalArgumentException(
            s"FINAL hint: ambiguous schema matches ${many.map(_._1).sorted.mkString(", ")}")
        }
      }
  }
}

/** Session-extension registration, installed by [[graft.Session]] through
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => HeightBucketPruning)
    e.injectResolutionRule(_ => FinalHintResolution)
  }
}
