package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, Expression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

import graft.SparkSpec
import graft.functions.{MinHashSig, MinHashWords, SimHashSig}

/** Each dedup operator computes a document's shingles and signature
  * once: no filter re-evaluates them below the projection that
  * computes them.
  */
class SignaturePlanSpec extends SparkSpec {
  import spark.implicits._

  // over an RDD, not a local relation, whose projections and filters
  // the optimizer would evaluate away before any plan could show them
  private val docs = {
    val local = Seq(
      (1L, "a", "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "a", "the quick brown fox jumps over the lazy dog near the river bed"),
      (3L, "b", "short text"),
      (4L, "b", "a completely different document about query engines and shuffles"))
      .toDF("doc_id", "source", "text")
    spark.createDataFrame(local.rdd, local.schema)
  }

  /** `plan` and every node below it, the plans of cached relations
    * included.
    */
  private def nodes(plan: QueryPlan[_]): Seq[QueryPlan[_]] = {
    val inner: Seq[QueryPlan[_]] = plan match {
      case m: InMemoryRelation => Seq(m.cacheBuilder.cachedPlan)
      case s: InMemoryTableScanExec => Seq(s.relation)
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case _ => Nil
    }
    plan +: (plan.children.map(_.asInstanceOf[QueryPlan[_]]) ++ inner).flatMap(nodes)
  }

  /** The signature and shingle expressions `e` computes. */
  private def computed(e: Expression): Seq[String] = e.collect {
    case x @ (_: MinHashSig | _: MinHashWords | _: SimHashSig | _: ArrayDistinct) =>
      x.getClass.getSimpleName
  }

  /** Asserts that no filter computes a signature or shingle set and that
    * no node computes one that a node below it computes already.
    */
  private def computesOnce(what: String, df: DataFrame): Unit = {
    val all = nodes(df.queryExecution.optimizedPlan)
    assert(all.exists(_.expressions.exists(computed(_).nonEmpty)),
      s"$what: no signature in the plan")
    for (n <- all) {
      val filtered = n match {
        case f: Filter => computed(f.condition)
        case f: FilterExec => computed(f.condition)
        case _ => Nil
      }
      assert(filtered.isEmpty, s"$what: a filter computes $filtered:\n$n")
      val here = n.expressions.flatMap(computed).toSet
      for (below <- nodes(n).tail; again = below.expressions.flatMap(computed).toSet
          if (here & again).nonEmpty)
        fail(s"$what: ${here & again} computed twice on one branch:\n$n\nabove\n$below")
    }
  }

  private def owners = Dedup.bucketOwners(docs, "doc_id", "text", 5, 16, 4)

  private val operators: Seq[(String, () => DataFrame)] = Seq(
    "minHashPairs" -> (() => Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.5)),
    "containmentPairs" -> (() =>
      Dedup.containmentPairs(docs, "doc_id", "text", docs, "doc_id", "text")),
    "sigTable" -> (() => Dedup.sigTable(docs, "doc_id", "text", 5, 64)),
    "bucketOwners" -> (() => owners),
    "dedupAgainstIndex" -> (() => Dedup.dedupAgainstIndex(docs, owners, "doc_id", "text")),
    "newIndexRows" -> (() => Dedup.newIndexRows(owners, docs, "doc_id", "text")),
    "simHashPairs" -> (() => Dedup.simHashPairs(docs, "doc_id", "text")),
    "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source")),
    // a block over the cap takes the banded path, which signs its shingles
    "ngramJaccardPairs over banded blocks" -> (() =>
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", maxBlockSize = 1)))

  for ((name, plan) <- operators)
    test(s"$name computes its shingles and signatures once per branch") {
      computesOnce(name, plan())
    }

  test("bucketIndex caches signatures computed once per document") {
    val index = Dedup.bucketIndex(docs, "doc_id", "text")
    try computesOnce("bucketIndex", index) finally index.unpersist()
  }
}
