package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.Tables

/** Materialized-view rewrite: a Catalyst optimizer rule that answers
  * `fact.groupBy(keys).agg(count/sum/min/max(value))` from a
  * maintained [[graft.ops.AggMaintain]] state table instead of
  * re-scanning the fact table.
  *
  * This is the read half of the maintenance algebra: AggMaintain keeps
  * one bounded partial-state row per group up to date per batch; this
  * rule makes EXISTING queries benefit without being edited. At 100 TB
  * the difference is a full corpus scan + shuffle versus a scan of
  * |groups| pre-reduced rows — the rewrite turns the dashboard query
  * every analyst already runs into a metadata-sized read.
  *
  * Mechanics, all public Spark API (`experimentalMethods.
  * extraOptimizations` / `SparkSessionExtensions.injectOptimizerRule` —
  * the documented extension points; no internals are patched):
  *
  *  - [[MvRewrite.register]] records (fact file paths, keys, value,
  *    state relation). The state must be the parquet output of
  *    `AggMaintain.partial`/`merge` over exactly the registered fact
  *    data — freshness is the registrar's contract, same as any MV
  *    refresh pipeline (stale state = stale answers, never an error).
  *  - The rule matches a logical `Aggregate` whose child scans the
  *    registered fact paths (through any column-pruning `Project` of
  *    plain attributes), whose grouping is exactly the registered key
  *    set, and whose aggregates are drawn from the mergeable algebra:
  *    `count(1)/count(*)` → `n`, `sum(value)` → `sum_v`,
  *    `min(value)` → `min_v`, `max(value)` → `max_v`, and
  *    `avg(value)` FINISHED AT REWRITE TIME as `sum_v / n` (the state
  *    holds avg's own partial (sum, count) pair — the textbook
  *    mergeable-avg finish and the most common dashboard aggregate;
  *    double-result avgs only: a decimal-typed avg has engine-specific
  *    result scale/rounding the finish won't reproduce, so it vetoes).
  *    Anything else — a filter above the scan, a DISTINCT or FILTER
  *    clause, an unregistered column —
  *    leaves the plan untouched: the rewrite must be semantically
  *    invisible, so it fires only on exact algebraic matches.
  *  - The replacement is a `Project` over a fresh `newInstance()` of
  *    the state relation (fresh exprIds — safe if the same MV appears
  *    twice in one query), with every output column aliased to the
  *    ORIGINAL output's name and exprId so parent operators re-resolve
  *    unchanged. `sum_v` is stored as exact DECIMAL(28,2) (merge-order
  *    independence; see AggMaintain) and is cast back to the original
  *    aggregate's result type here, so the rewritten query is
  *    schema-identical to the direct plan.
  *
  * Verified two ways: the oracle-checked `q_mv_rewrite` runs the plain
  * aggregate with the rule installed and must hash-match DuckDB
  * running the same SQL on the raw fact table, and `MvRewriteSpec`
  * pins that the optimized plan reads the state files and NOT the
  * fact files (plus every must-not-fire guard above).
  */
object MvRewrite {

  /** One registered view: fact scan roots → (keys, value, state). */
  final case class MvDef(
      factPaths: Set[String],
      keys: Seq[String],
      value: String,
      state: LogicalRelation)

  private val registry = new ConcurrentHashMap[String, MvDef]()

  /** Register a maintained aggregate state for `factPath`. `statePath`
    * must hold `AggMaintain` partial-state parquet (keys ++ n, sum_v,
    * min_v, max_v). Also installs the rule into the session's
    * `extraOptimizations` (idempotently).
    *
    * Rounding gate: AggMaintain state stores `sum_v` at scale 2, so a
    * value column with finer-than-2-decimal values would make the
    * rewritten sum differ from the direct plan — exactly the silent
    * divergence the rule promises never to introduce. Integral and
    * scale-≤2 decimal columns are accepted outright; floating-point
    * columns require the caller to assert 2-dp safety explicitly via
    * `acceptTwoDecimalRounding = true` (e.g. a double column holding
    * integral quantities or money already rounded to cents). The
    * value column must also be non-null-or-coalesced: state `n`
    * counts ROWS, so a null value would skew both the rewritten
    * count-vs-sum pairing and AggMaintain's own avg_v.
    */
  def register(
      spark: SparkSession,
      factPath: String,
      keys: Seq[String],
      value: String,
      statePath: String,
      acceptTwoDecimalRounding: Boolean = false): Unit = {
    val stateRel =
      spark.read.parquet(statePath).queryExecution.analyzed match {
        case lr: LogicalRelation => lr
        case other =>
          throw new IllegalArgumentException(
            s"state at $statePath did not analyze to a file relation: " +
              other.getClass.getName)
      }
    val missing = (keys ++ Seq("n", "sum_v", "min_v", "max_v"))
      .filterNot(c => stateRel.output.exists(_.name == c))
    require(missing.isEmpty, s"state at $statePath lacks columns $missing")
    val fact = Tables.readParquet(spark, factPath)
    val valueType = fact.schema
      .find(_.name == value)
      .getOrElse(throw new IllegalArgumentException(
        s"value column $value not in fact table at $factPath"))
      .dataType
    val twoDpSafe = valueType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale <= 2
      case FloatType | DoubleType => acceptTwoDecimalRounding
      case _ => false
    }
    require(twoDpSafe,
      s"value column $value: ${valueType.catalogString} sums are not " +
        "exactly representable in the state's DECIMAL(_,2) — pass " +
        "acceptTwoDecimalRounding = true only if every value is a " +
        "whole number of hundredths")
    registry.put(normalize(factPath),
      MvDef(scanPaths(fact, factPath), keys, value, stateRel))
    install(spark)
  }

  def unregister(factPath: String): Unit = {
    registry.remove(normalize(factPath)); ()
  }

  /** Idempotently add the rewrite rule to this session's optimizer. */
  def install(spark: SparkSession): Unit = {
    val extra = spark.experimental.extraOptimizations
    if (!extra.exists(_.isInstanceOf[MvRewriteRule]))
      spark.experimental.extraOptimizations = extra :+ new MvRewriteRule
  }

  private def normalize(p: String): String = p.stripSuffix("/")

  /** Resolve the root paths Spark will report for a scan of `path`,
    * from the planned read `df` of it — path comparison then never
    * depends on scheme/qualification details.
    */
  private def scanPaths(df: DataFrame, path: String): Set[String] =
    df.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString).toSet
      case _ => Set(normalize(path))
    }

  private[plans] def lookup(paths: Set[String]): Option[MvDef] =
    registry.values.asScala.find(_.factPaths == paths)
}

/** The optimizer rule. Class (not object) so `extraOptimizations` can
  * hold one instance per registration site; all state lives in the
  * shared [[MvRewrite]] registry.
  */
class MvRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case agg @ Aggregate(groupings, aggExprs, child, _) =>
        rewrite(agg, groupings, aggExprs, child).getOrElse(agg)
    }

  private def rewrite(
      agg: Aggregate,
      groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    for {
      paths <- factScan(child)
      mv <- MvRewrite.lookup(paths)
      keyNames = groupings.map {
        case a: AttributeReference => a.name
        case _ => return None
      }
      if keyNames.toSet == mv.keys.toSet && keyNames.size == mv.keys.size
      state = mv.state.newInstance()
      out <- rewriteOutputs(aggExprs, mv, state)
    } yield Project(out, state)
  }

  /** The fact-table scan under the aggregate, through at most one
    * column-pruning Project of plain attributes. Returns its root
    * paths for registry lookup.
    */
  private def factScan(plan: LogicalPlan): Option[Set[String]] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Some(fs.location.rootPaths.map(_.toString).toSet)
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      factScan(child)
    case _ => None
  }

  /** Map every aggregate output onto a state column, preserving name,
    * exprId, and data type. Any unmatchable output vetoes the rewrite.
    */
  private def rewriteOutputs(
      aggExprs: Seq[NamedExpression],
      mv: MvRewrite.MvDef,
      state: LogicalRelation): Option[Seq[NamedExpression]] = {
    def stateAttr(name: String): Attribute =
      state.output.find(_.name == name).get
    def keep(orig: NamedExpression, e: Expression): NamedExpression =
      Alias(e, orig.name)(exprId = orig.exprId)
    def retyped(orig: NamedExpression, name: String): Expression = {
      val a = stateAttr(name)
      if (a.dataType == orig.dataType) a else Cast(a, orig.dataType)
    }
    val out = aggExprs.map {
      case a: AttributeReference if mv.keys.contains(a.name) =>
        keep(a, stateAttr(a.name))
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
        fn match {
          // null-literal guard: count(NULL) is 0 per group, NOT the
          // row count — it must never rewrite to n
          case Count(Seq(Literal(v, _))) if v != null =>
            keep(al, retyped(al, "n"))
          case Count(Seq()) => keep(al, retyped(al, "n"))
          case Sum(e, _) if isValue(e, mv.value) =>
            keep(al, retyped(al, "sum_v"))
          case Min(e) if isValue(e, mv.value) =>
            keep(al, retyped(al, "min_v"))
          case Max(e) if isValue(e, mv.value) =>
            keep(al, retyped(al, "max_v"))
          // avg finishes from the state's (sum_v, n) pair — the same
          // division Average.evaluateExpression performs over its own
          // partial state for a double result. Caveat for INTEGRAL
          // value columns: Average accumulates its sum in double
          // (lossy per-add once the running sum passes 2^53), while
          // the MV state sum_v is an exact long — so past 2^53 the
          // rewrite can differ from the unrewritten plan by the
          // accumulated rounding ulps (the rewrite is the MORE exact
          // of the two). Double value columns share the double sum
          // and match bit-for-bit. Decimal-result avgs veto: their
          // result scale and HALF_UP finish are engine-specific and
          // not replicated here.
          case Average(e, _)
              if isValue(e, mv.value) && al.dataType == DoubleType =>
            keep(al, Divide(
              Cast(stateAttr("sum_v"), DoubleType),
              Cast(stateAttr("n"), DoubleType), EvalMode.LEGACY))
          case _ => return None
        }
      case _ => return None
    }
    Some(out)
  }

  /** The registered value column, through any implicit numeric cast
    * the analyzer inserted (sum over int casts to long, etc.).
    */
  private def isValue(e: Expression, value: String): Boolean = e match {
    case a: AttributeReference => a.name == value
    case Cast(inner, dt, _, _)
        if dt == LongType || dt == DoubleType ||
          dt.isInstanceOf[DecimalType] =>
      isValue(inner, value)
    case _ => false
  }
}
