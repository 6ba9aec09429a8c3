package graft.recommender

import graft.SparkSpec
import graft.model.Rating

class AlsRecommenderSpec extends SparkSpec {
  import spark.implicits._

  // FIXTURES.md F4-ish: seeded synthetic ratings, every user/item ≥ 3
  private lazy val data: Seq[Rating] = {
    val rnd = new scala.util.Random(42)
    for {
      u <- 0 until 60
      i <- 0 until 30
      if rnd.nextDouble() < 0.3
    } yield {
      val base = 1.0 + (u % 5) * 0.5 + (i % 4) * 0.5
      Rating(s"u$u", s"i$i", math.min(5.0, math.max(1.0, base)), (u * 100 + i).toLong)
    }
  }

  private lazy val model =
    AlsRecommender.fit(data.toDF, AlsRecommender.Params(rank = 8, maxIter = 8, numBlocks = 4))

  test("fit + predict beats the global-mean baseline on train data") {
    val pred = model.predict(data.toDF)
    assert(pred.count() === data.size)
    val m = Evaluator.evaluate(pred, "rating", "prediction")
    // global-mean predictor's RMSE = stddev of ratings; ALS must beat it
    val ratings = data.map(_.rating)
    val mean = ratings.sum / ratings.size
    val sd = math.sqrt(ratings.map(r => (r - mean) * (r - mean)).sum / ratings.size)
    assert(m.rmse < sd, s"rmse ${m.rmse} not better than baseline $sd")
  }

  test("cold-start rows fall back to the raw global mean, known rows are clipped") {
    val test = Seq(
      Rating("u0", "i0", 3.0, 0L),
      Rating("uNEW", "i0", 3.0, 0L),
      Rating("u0", "iNEW", 3.0, 0L),
      Rating("uNEW", "iNEW", 3.0, 0L)).toDF
    val got = model.predict(test)
      .select("user", "item", "prediction").as[(String, String, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val mean = model.stats.meanRating
    assert(got(("uNEW", "i0")) === mean)
    assert(got(("u0", "iNEW")) === mean)
    assert(got(("uNEW", "iNEW")) === mean)
    val known = got(("u0", "i0"))
    assert(known >= model.stats.minRating && known <= model.stats.maxRating)
  }

  test("recommendForAllUsersExact returns n decoded recs per user") {
    val recs = model.recommendForAllUsersExact(3)
    assert(recs.columns.toSet === Set("user", "item", "rank"))
    val users = data.map(_.user).distinct.size
    assert(recs.count() === users * 3)
    assert(recs.filter($"rank" < 1 || $"rank" > 3).count() === 0)
  }

  test("ANN top-N achieves high recall against the exact cross join") {
    val exact = model.recommendForAllUsersExact(5)
      .select("user", "item").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = model.recommendForAllUsersAnn(5, nlist = 8, nprobe = 4)
      .select("user", "item").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ann.keySet === exact.keySet, "ANN path lost users")
    // every user gets exactly n recs back
    assert(ann.values.forall(_.size === 5))
    val recall = exact.map { case (u, ex) =>
      (ex & ann(u)).size.toDouble / ex.size
    }.sum / exact.size
    // nprobe/nlist = half the catalog scanned → recall should be high
    assert(recall >= 0.8, s"ANN top-N recall too low: $recall")
  }

  test("ANN top-N recall >= 0.9 at sf0.1 with the registered q31 config") {
    assume(new java.io.File("/root/testdata/sf0.1/events.parquet").exists())
    import org.apache.spark.sql.functions._
    val events = graft.io.Tables.events(spark, "/root/testdata/sf0.1")
    val ratings = events.select(
      col("user_id").cast("string").as("user"),
      get_json_object(col("props"), "$.k").cast("long").cast("string").as("item"),
      col("value").as("rating"),
      unix_micros(col("ts")).as("time"))
    val m = AlsRecommender.fit(ratings,
      AlsRecommender.Params(rank = 8, maxIter = 5, numBlocks = 8))
    try {
      val exact = m.recommendForAllUsersExact(5)
        .select("user", "item").as[(String, String)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val ann = m.recommendForAllUsersAnn(5, nlist = 16, nprobe = 8)
        .select("user", "item").as[(String, String)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recall = exact.map { case (u, ex) =>
        (ex & ann(u)).size.toDouble / ex.size
      }.sum / exact.size
      assert(recall >= 0.9, s"sf0.1 ANN top-N recall too low: $recall")
    } finally m.release()
  }

  test("ANN top-N plan contains no users-by-items product") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // AQE and caching both hide subtrees behind opaque nodes — recurse
    // through them so the assertion sees every join in the DAG
    def collectAll(p: SparkPlan): Seq[SparkPlan] = {
      val nodes = p.collect { case n => n }
      nodes ++ nodes.flatMap {
        case s: InMemoryTableScanExec => collectAll(s.relation.cachedPlan)
        case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
        case _ => Nil
      }
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = model.recommendForAllUsersAnn(5, nlist = 8, nprobe = 4)
        .queryExecution.executedPlan
      // the only unconditioned join allowed is queries × centroids (a
      // relation bounded by nlist); anything touching the factor columns
      // would be the quadratic product this path exists to avoid
      val products = collectAll(plan).collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }
      assert(products.nonEmpty, "expected the bounded users×centroids probe join")
      products.foreach { j =>
        val outCols = j.output.map(_.name).toSet
        assert(outCols.contains("centroid"),
          s"unexpected unconditioned join over ${outCols.mkString(",")}")
        assert(!outCols.contains("i_factors") && !outCols.contains("u_factors"),
          s"users×items product found in ANN plan: ${outCols.mkString(",")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("fit stats equal ratingStats over the encoded facts: null-key rows are not cells") {
    import graft.encode.Encoding
    val raw = (data.map(r => (r.user, r.item, r.rating, r.time)) ++ Seq(
      (null, "i0", 5.0, 1L), // null user
      ("u0", null, 1.0, 2L))) // null item
      .toDF("user", "item", "rating", "time")
    val facts = Encoding.encode(raw, Encoding.dimension(raw, "user", "time", "u_id"),
      Encoding.dimension(raw, "item", "time", "i_id"))
    def six(s: graft.encode.RatingStats) =
      (s.nRatings, s.nUsers, s.nItems, s.minRating, s.maxRating, s.meanRating)
    val m = AlsRecommender.fit(raw, AlsRecommender.Params(rank = 4, maxIter = 2, numBlocks = 2))
    try {
      assert(six(m.stats) === six(Encoding.ratingStats(facts)))
      assert(m.stats.nRatings === data.size.toLong)
    } finally m.release()
  }
}
