package graft.recommender

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.encode.RatingStats

class ServingSpec extends SparkSpec {
  import spark.implicits._

  private val stats = RatingStats(
    nRatings = 4, nUsers = 2, nItems = 2,
    minRating = 1.0, maxRating = 5.0, meanRating = 3.0)

  private def userState = Seq(
    ("u1", Array(1.0, 0.0), 0.5)).toDF("user", "u_factors", "u_bias")
  private def itemState = Seq(
    ("i1", Array(10.0, 0.0), 0.25)).toDF("item", "i_factors", "i_bias")

  // FIXTURES.md F3 cold-start split: the 4 fallback cases of
  // reference models/als.py:205-212
  test("predict: known pair scores dot+biases+mean then clips; unknown falls back to raw mean") {
    val test = Seq(
      ("u1", "i1", 5.0), // both known: 1*10 + 0.5 + 0.25 + 3 = 13.75 → clip 5.0
      ("uX", "i1", 3.0), // unknown user → mean
      ("u1", "iX", 3.0), // unknown item → mean
      ("uX", "iX", 3.0) // both unknown → mean
    ).toDF("user", "item", "rating")
    val out = Serving.predict(test, userState, itemState, stats)
      .select("user", "item", "prediction").as[(String, String, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out(("u1", "i1")) === 5.0)
    assert(out(("uX", "i1")) === 3.0)
    assert(out(("u1", "iX")) === 3.0)
    assert(out(("uX", "iX")) === 3.0)
  }

  test("predict: stats hints skip the probe jobs and leave verdicts unchanged") {
    val test = Seq(
      ("u1", "i1", 5.0), ("uX", "i1", 3.0),
      ("u1", "iX", 3.0), ("uX", "iX", 3.0)).toDF("user", "item", "rating")
    val probed = Serving.predict(test, userState, itemState, stats)
      .select("user", "item", "prediction").collect().toSet
    // count jobs during PLAN CONSTRUCTION: without hints the size gate
    // runs one agg job per state; with hints it must run none (the
    // hot-serving-path contract)
    val (hintedPlan, shape) = shapeOf(Serving.predict(test, userState, itemState, stats,
      userStateStats = Some(Serving.StateStats(1L, 2)),
      itemStateStats = Some(Serving.StateStats(1L, 2))))
    assert(shape.jobs === 0,
      s"hinted predict must run zero probe jobs, ran ${shape.jobs}")
    assert(hintedPlan.select("user", "item", "prediction")
      .collect().toSet === probed)
    // a hint over the broadcast threshold must degrade to shuffle
    // joins (auto-broadcast off so Catalyst can't mask the gate — the
    // AnnSpec size-gate discipline)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = Serving.predict(test, userState, itemState, stats,
        userStateStats = Some(Serving.StateStats(1L << 40, 30)),
        itemStateStats = Some(Serving.StateStats(1L << 40, 30)))
      big.count()
      assert(!big.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "an over-threshold hint must not force a broadcast")
      assert(big.select("user", "item", "prediction").collect().toSet
        === probed)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("dot is the inner product") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(df.select(Serving.dot(col("a"), col("b"))).as[Double].head() === 32.0)
  }

  test("clip clamps to bounds") {
    val df = Seq(0.5, 3.0, 9.9).toDF("x")
    assert(df.select(Serving.clip(col("x"), 1.0, 5.0)).as[Double]
      .collect().toSeq === Seq(1.0, 3.0, 5.0))
  }

  test("evaluate computes mae/mse/rmse in one pass") {
    val df = Seq((1.0, 2.0), (3.0, 3.0), (5.0, 3.0)).toDF("label", "pred")
    val m = Evaluator.evaluate(df, "label", "pred")
    assert(math.abs(m.mae - 1.0) < 1e-12)
    assert(math.abs(m.mse - 5.0 / 3.0) < 1e-12)
    assert(math.abs(m.rmse - math.sqrt(5.0 / 3.0)) < 1e-12)
    assert(math.abs(m.rmse * m.rmse - m.mse) < 1e-12)
  }

  test("rankingMetrics matches hand-computed hits/RR/DCG/NDCG@5") {
    val w = Evaluator.dcgWeights(5)
    assert(w.head === 1000000L && w(2) === 500000L) // log2(2)=1, log2(4)=2
    val truth = Seq(
      ("u1", "a"), ("u1", "b"), ("u1", "c"), ("u2", "x"), ("u4", "y"))
      .toDF("user", "item")
    val recs = Seq(
      ("u1", "a", 1), ("u1", "z", 2), ("u1", "b", 3), ("u1", "q", 4),
      ("u1", "r", 5),
      ("u2", "m", 1), ("u2", "n", 2), ("u2", "x", 3), ("u2", "o", 4),
      ("u3", "a", 1) // no truth for u3 → excluded from the report
    ).toDF("user", "item", "rank")
    val got = Evaluator.rankingMetrics(recs, truth,
      "user", "item", "rank", k = 5)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(got.keySet === Set("u1", "u2", "u4"))
    // u1: hits a@1 and b@3; idcg over min(5, 3 truths)
    val dcg1 = w(0) + w(2)
    val idcg1 = w(0) + w(1) + w(2)
    assert(got("u1") === (("u1", 3L, 2L, 1000000L, dcg1, idcg1,
      dcg1 * 1000000L / idcg1)))
    // u2: one hit at rank 3; perfect would be rank 1
    assert(got("u2") === (("u2", 1L, 1L, 333333L, w(2), w(0),
      w(2) * 1000000L / w(0))))
    // u4: truth but no recs → zero rr/dcg/ndcg, idcg still defined
    assert(got("u4") === (("u4", 1L, 0L, 0L, 0L, w(0), 0L)))
  }

  test("evaluateByDf: per-slice metrics, null slice kept as its own cohort") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (Option("a"), 3.0, 4.0),  // err 1
      (Option("a"), 3.0, 3.0),  // err 0
      (Option("b"), 2.0, 5.0),  // err 3
      (Option.empty[String], 1.0, 2.5)) // cold cohort, err 1.5
      .toDF("tier", "rating", "prediction")
    val got = Evaluator.evaluateByDf(df, "rating", "prediction", "tier")
      .as[(Option[String], Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(Some("a")) === ((Some("a"), 2L, 0.5, 0.5, math.sqrt(0.5))))
    assert(got(Some("b"))._2 === 1L)
    assert(got(Some("b"))._3 === 3.0 && got(Some("b"))._4 === 9.0)
    // the null slice is a real row, not dropped
    assert(got(None) === ((None, 1L, 1.5, 2.25, 1.5)))
  }
}
