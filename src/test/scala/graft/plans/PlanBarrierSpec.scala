package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PlanBarrierSpec extends SparkSpec {
  import spark.implicits._

  test("barrier is semantically transparent") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b = PlanBarrier.barrier(df.withColumn("n", length($"v")))
    assert(b.schema === df.withColumn("n", length($"v")).schema)
    assert(b.orderBy("id").collect().toSeq ===
      df.withColumn("n", length($"v")).orderBy("id").collect().toSeq)
    // composes with downstream operators and shuffles
    assert(b.groupBy("v").count().count() === 2L)
  }

  test("one eval per row through HOF fan-out — guard canary + barrier guarantee") {
    // CANARY for the upstream optimizer behavior this repo relies on:
    // Spark 4.1's CollapseProject cost guard refuses to inline
    // non-cheap expressions into higher-order-function lambdas, so the
    // plain (unbarried) pipeline already evaluates the expensive
    // column once per row, NOT once per lambda element. If a Spark
    // upgrade regresses this, the `plain` assert below fails — that is
    // the signal to route the affected producers through barrier().
    val calls = spark.sparkContext.longAccumulator("expensiveCalls")
    val expensive = udf { (x: Long) => calls.add(1L); x * 2 }
    val k = 16
    val df = spark.range(100).toDF("id")

    calls.reset()
    val plain = df.select($"id", expensive($"id").as("e"))
      .select(explode(transform(sequence(lit(0), lit(k - 1)), i => $"e" + i)).as("x"))
    val sumPlain = plain.agg(sum("x")).collect()(0).getLong(0)
    assert(calls.value === 100L,
      s"optimizer guard regressed: expensive column evaluated ${calls.value}× " +
        "for 100 rows — apply PlanBarrier.barrier() to the affected producers")

    // the barrier gives the same guarantee STRUCTURALLY (no heuristic
    // involved) at zero runtime cost
    calls.reset()
    val barried = PlanBarrier.barrier(df.select($"id", expensive($"id").as("e")))
      .select(explode(transform(sequence(lit(0), lit(k - 1)), i => $"e" + i)).as("x"))
    val sumBarried = barried.agg(sum("x")).collect()(0).getLong(0)
    assert(calls.value === 100L)
    assert(sumBarried === sumPlain)
  }

  test("a filter on a computed column: doubled by pushdown without the barrier, once with it") {
    // PushPredicateThroughNonJoin substitutes the column's definition
    // into the predicate it moves below the projection, so the plain
    // plan computes the hash once in the filter and once in the project
    def hashes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case n => n.expressions }.flatten
        .map(_.collect { case h: org.apache.spark.sql.catalyst.expressions.XxHash64 => h }.size)
        .sum
    val hashed = spark.range(100).toDF("id").select($"id", xxhash64($"id").as("h"))
    val plain = hashed.filter($"h" =!= 0L)
    val barred = PlanBarrier.barrier(hashed).filter($"h" =!= 0L)
    assert(hashes(plain) === 2, plain.queryExecution.optimizedPlan.toString)
    assert(hashes(barred) === 1, barred.queryExecution.optimizedPlan.toString)
    assert(barred.orderBy("id").collect().toSeq === plain.orderBy("id").collect().toSeq)
  }

  test("barrier survives optimization but vanishes from the physical plan") {
    val b = PlanBarrier.barrier(
      spark.range(10).toDF("id").withColumn("h", xxhash64($"id")))
      .filter($"h" =!= 0L)
    assert(b.queryExecution.optimizedPlan.toString.contains("ProjectBarrier"),
      s"barrier optimized away:\n${b.queryExecution.optimizedPlan}")
    assert(!b.queryExecution.executedPlan.toString.contains("Barrier"),
      s"barrier has physical footprint:\n${b.queryExecution.executedPlan}")
    assert(b.count() === 10L)
  }

  test("barrier survives under joins and aggregation") {
    val left = PlanBarrier.barrier(
      spark.range(10).toDF("id").withColumn("h", xxhash64($"id")))
    val right = spark.range(10).toDF("id")
    val joined = left.join(right, "id").groupBy().agg(count(lit(1))).head().getLong(0)
    assert(joined === 10L)
  }
}
