package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.PlanBridge

/** A ZERO-COST optimizer barrier against expression inlining and
  * duplication. It guards against two optimizer rules.
  *
  * Filter pushdown: `PushPredicateThroughNonJoin` moves a filter below
  * the projection that computes the filtered column by substituting
  * the column's defining expression into the predicate. A
  * `filter(sig.isNotNull)` over `select(minhashSig(shingles) AS sig)`
  * thus becomes `Filter isnotnull(minhashsig(shingles))` under
  * `Project [minhashsig(shingles) AS sig]`, and every row computes the
  * signature twice (PlanBarrierSpec shows the doubled expression). Any
  * deterministic expression is copied this way, a `ScalaUDF` too (a
  * counting UDF filtered over 100 rows of an RDD ran 199 times, and 100
  * times under a barrier). A barrier directly above the projection
  * keeps the filter above it, reading the computed attribute.
  *
  * Collapse: `CollapseProject` merges adjacent projections by substituting the
  * lower project's expressions into the upper one — the hazard being
  * an expensive producer (a whole-signature MinHash, a per-row kernel)
  * substituted into a context that evaluates it more than once per row
  * (a higher-order-function lambda runs once PER ELEMENT). Spark 4.1's
  * cost guard already declines to inline non-cheap expressions into
  * lambdas (verified empirically — see PlanBarrierSpec's canary, which
  * fails on any regression), so on this version the guarantee is
  * heuristic-by-upstream. [[ProjectBarrier]] makes it STRUCTURAL and
  * optimizer-version-independent: a logical node that collapse rules
  * cannot see through (`CollapseProject` only matches adjacent
  * `Project`s), planned by [[BarrierStrategy]] to NOTHING — the
  * physical plan is exactly the child's, so execution, whole-stage
  * codegen, and shuffle placement are untouched. Unlike the
  * `persist()`-as-barrier idiom this repo used previously, it costs no
  * cache write and needs no release bookkeeping.
  *
  * Because it blocks pushdown and pruning across itself, place it
  * directly ABOVE the narrow projection that computes the expensive
  * column (scan pruning below is already settled there, and whatever
  * sits above only consumes what the barrier emits).
  */
case class ProjectBarrier(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): ProjectBarrier =
    copy(child = newChild)
}

/** Plans [[ProjectBarrier]] as its child — the barrier has no physical
  * footprint. Registered via [[PlanBarrier.barrier]] (idempotent) or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object BarrierStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ProjectBarrier(child) => planLater(child) :: Nil
    case _ => Nil
  }
}

object PlanBarrier {

  /** Ensure [[BarrierStrategy]] is installed in this session. */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(BarrierStrategy)) {
      spark.experimental.extraStrategies =
        BarrierStrategy +: spark.experimental.extraStrategies
    }

  /** Wrap a DataFrame in a collapse barrier: downstream plans treat its
    * columns as opaque attributes and can never inline their defining
    * expressions into lambdas or duplicate them across consumers within
    * one plan. Free at runtime — no cache, no checkpoint, no exchange.
    */
  def barrier(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    PlanBridge.ofRows(spark, ProjectBarrier(PlanBridge.analyzed(df)))
  }
}
