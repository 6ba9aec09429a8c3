package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.ExprId
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Compiled-plan templates for iterative loops.
  *
  * An epoch-style loop that rebuilds the same DataFrame graph every
  * iteration pays Catalyst's full analyze+optimize cost per iteration —
  * measured at ~0.4 s/epoch for the GdMf trainer at sf0.1, ~40% of the
  * epoch wall clock, and the fraction grows as executors get faster.
  * The loop body's plan is IDENTICAL across iterations except for which
  * RDDs sit at its leaves, so:
  *
  *  1. build the body ONCE through the normal DataFrame API against
  *     placeholder [[leafFrame]]s (bare `LogicalRDD` leaves with stable
  *     attributes) and capture `queryExecution.optimizedPlan` — paying
  *     analysis+optimization once;
  *  2. each iteration, substitute the placeholder leaves with the
  *     current generation's RDDs (attributes — and hence every
  *     reference in the tree — stay identical) and run the result
  *     through `QueryExecution.prepareExecutedPlan`, which does ONLY
  *     physical planning + preparation. Codegen is cached by generated
  *     source, so iteration N reuses iteration 1's compiled classes.
  *
  * The optimized template must make its own join strategies explicit
  * (broadcast hints): substituted leaves carry default (huge) stats, so
  * nothing auto-broadcasts — the same contract as
  * [[DatasetBridge.localCheckpointFresh]]. Instantiated plans also run
  * WITHOUT AQE, so no shuffle in them is ever coalesced: the caller
  * gives their shuffle width, sized to its data, at [[instantiate]].
  */
object PlanTemplate {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** A placeholder relation: a DataFrame whose whole plan is one
    * `LogicalRDD` with stable attributes. Build templates against it;
    * bind an actual RDD to it at instantiation. (A
    * [[DatasetBridge.FreshCheckpoint]]'s df has the same shape and can
    * be used as a leaf directly.)
    */
  def leafFrame(spark: SparkSession, schema: StructType): DataFrame = {
    val s = classic(spark)
    val attrs = DataTypeUtils.toAttributes(schema)
    org.apache.spark.sql.classic.Dataset.ofRows(
      s, LogicalRDD(attrs, s.sparkContext.emptyRDD[InternalRow])(s))
  }

  /** The exprId signature identifying `leaf`'s LogicalRDD inside a
    * template. `leaf` must be a [[leafFrame]] or checkpoint-backed
    * frame (its analyzed plan must BE a LogicalRDD).
    */
  private def keyOf(leaf: DataFrame): Seq[ExprId] = {
    val l = leaf.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }
      .getOrElse(throw new IllegalArgumentException(
        s"not a leaf frame: ${leaf.queryExecution.analyzed.nodeName}"))
    l.output.map(_.exprId)
  }

  /** One leaf substitution: the placeholder frame, the RDD to bind, and
    * (optionally) hash-partitioning columns the bound RDD is KNOWN to
    * already have — declaring it lets EnsureRequirements skip the
    * exchange a downstream aggregation/join on those keys would
    * otherwise insert (the whole point for fact-sized leaves).
    */
  final case class Bind(
      leaf: DataFrame, rdd: RDD[InternalRow],
      hashPartCols: Seq[String] = Nil, numPartitions: Int = 0)

  /** Capture the analyzed+optimized body as a reusable template. */
  def template(df: DataFrame): LogicalPlan = df.queryExecution.optimizedPlan

  /** Substitute bound leaves into `template` and produce an executable
    * physical plan WITHOUT re-running analysis or optimization; every
    * exchange the planner inserts is `shufflePartitions` wide.
    */
  def instantiate(spark: SparkSession, template: LogicalPlan,
      binds: Seq[Bind], shufflePartitions: Int): SparkPlan = {
    val s = classic(spark)
    val byKey = binds.map(b => keyOf(b.leaf) -> b).toMap
    var seen = 0
    val substituted = template.transform {
      case l: LogicalRDD if byKey.contains(l.output.map(_.exprId)) =>
        val b = byKey(l.output.map(_.exprId))
        seen += 1
        val part =
          if (b.hashPartCols.isEmpty) UnknownPartitioning(0)
          else HashPartitioning(
            b.hashPartCols.map(n => l.output.find(_.name == n).getOrElse(
              throw new IllegalArgumentException(
                s"hash column $n not in leaf ${l.output.map(_.name)}"))),
            if (b.numPartitions > 0) b.numPartitions else b.rdd.getNumPartitions)
        LogicalRDD(l.output, b.rdd, part)(s)
    }
    require(seen == binds.size,
      s"only $seen of ${binds.size} leaves found in template — key mismatch")
    // the width is read through SQLConf.get while planning: give this
    // thread a private copy of the conf so the shared session's
    // spark.sql.shuffle.partitions is never written
    val conf = s.sessionState.conf.clone()
    conf.setConf(SQLConf.SHUFFLE_PARTITIONS, shufflePartitions)
    conf.unsetConf(SQLConf.COALESCE_PARTITIONS_INITIAL_PARTITION_NUM)
    s.withActive(SQLConf.withExistingConf(conf)(
      QueryExecution.prepareExecutedPlan(s, substituted)))
  }

  /** Run an instantiated plan to a fresh RDD (rows copied out of the
    * unsafe buffers).
    */
  def runToRdd(plan: SparkPlan): RDD[InternalRow] =
    plan.execute().map(_.copy())

  /** Collect an instantiated (small!) plan's rows on the driver. */
  def collectRows(plan: SparkPlan): Array[InternalRow] = plan.executeCollect()
}
