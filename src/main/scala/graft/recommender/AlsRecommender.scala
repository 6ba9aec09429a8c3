package graft.recommender

import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.encode.{Encoding, RatingStats}

/** MLlib-backed ALS recommender — the scale path (SURVEY §2.12).
  *
  * The reference's "ALS" is batch gradient descent (see [[GdMf]] with
  * `alternating = true` for the semantically faithful port); this class
  * is the *production* formulation: MLlib's blocked normal-equation ALS
  * optimizes the same objective and is the design the reference's own
  * report benchmarked against (`report.pdf` §7.1.1 "MLlib ALS"). The
  * report's MLlib row lost (1.59 vs 0.92 RMSE) because it was untuned
  * and lacked the bias/mean/clip serving wrapper — we fit damped
  * user/item biases, let ALS factorize the residuals, and serve through
  * [[Serving.predict]] with the reference's exact clip +
  * cold-start-mean semantics, never MLlib's `coldStartStrategy="drop"`
  * (which silently changes eval denominators, SURVEY §7.4.5). The set-up
  * (the slice without null-key rows, its statistics and both ID
  * dimensions) is [[Encoding.keyed]], the one [[GdMf]] and [[BprMf]]
  * share; the fit adds the bias tables and MLlib's factorization.
  */
object AlsRecommender {

  final case class Params(
      rank: Int = 30,
      maxIter: Int = 10,
      reg: Double = 0.3, // biases carry additive structure; factors model
                         // interactions only, so shrink them harder

      seed: Long = 42L,
      numBlocks: Int = 32)

  final case class Model(
      userState: DataFrame, // user, u_factors, u_bias
      itemState: DataFrame, // item, i_factors, i_bias
      stats: RatingStats,
      userDim: DataFrame,
      itemDim: DataFrame,
      mlModel: org.apache.spark.ml.recommendation.ALSModel,
      private val backing: Seq[
        org.apache.spark.sql.graftbridge.DatasetBridge.FreshCheckpoint] = Nil) {

    def predict(test: DataFrame): DataFrame =
      Serving.predict(test, userState, itemState, stats)

    def evaluate(test: DataFrame): Metrics =
      Evaluator.evaluate(predict(test), "rating", "prediction")

    /** Drop the checkpoint blocks backing the dims/bias tables this
      * model's states reference (fit-many-models sessions accumulate
      * one block set per retained Model otherwise). States are unusable
      * afterwards.
      */
    def release(): Unit = backing.foreach(_.release())

    /** EXACT top-N serving — the small-scale VERIFIER. Ranks by the
      * model's FULL per-item score `dot(P,Q) + i_bias` — MLlib's own
      * `recommendForAllUsers` ranks by the residual dot alone, which
      * contradicts `predict`'s semantics once item biases exist (mean
      * and u_bias are constant per user and cannot change the order).
      * The users×items cross join scores EVERY pair: correct at any
      * size that can afford it, quadratic at catalog scale — the
      * production path is [[recommendForAllUsersAnn]]; this form exists
      * to verify it (see the recall test in AlsRecommenderSpec).
      */
    def recommendForAllUsersExact(n: Int): DataFrame =
      topNExact(userState, itemState, n)

    /** Top-N serving through an ANN shortlist — the SCALE path (a 10⁷
      * users × 10⁶ items catalog is 10¹³ scored pairs under the cross
      * join; the shortlist scores ~nprobe/nlist of the catalog per
      * user).
      *
      * MIPS→cosine reduction: score(u,i) = P_u·Q_i + b_i =
      * [P_u,1]·[Q_i,b_i]. With a_i = [Q_i,b_i] and M = max‖a_i‖,
      * augment items to the UNIT vectors ã_i = [a_i/M, √(1−‖a_i‖²/M²)]
      * and users to ũ = [P_u, 1, 0]: cos(ũ,ã_i) = score(u,i)/(M·‖ũ‖)
      * is monotone in the score for each fixed user, so a cosine-ANN
      * shortlist over (ũ, ã) shortlists the inner-product ranking
      * exactly. The `overfetch·n` IVF shortlist is then re-ranked on
      * the TRUE score (joins against the factor states — broadcast
      * item side, shuffle-by-user on the shortlist), which also erases
      * any fp noise from the cosine mapping. No users×items product
      * anywhere in the plan: users meet only centroids (|users|×nlist)
      * and their probed lists.
      */
    def recommendForAllUsersAnn(
        n: Int, nlist: Int = 64, nprobe: Int = 8,
        overfetch: Int = 4, seed: Long = 42L): DataFrame =
      topNAnn(userState, itemState, n, nlist, nprobe, overfetch, seed,
        itemStateBytes = Encoding.dimBytes(stats.nItems,
          stats.avgItemKeyBytes + 8.0 * (mlModel.rank + 2)))
  }

  /** The ANN serving core of [[Model.recommendForAllUsersAnn]],
    * standalone so OTHER model families reuse the one verified
    * reduction ([[BprMf.Model.recommendForAllUsersAnn]] calls it with
    * a zero bias column). See the Model method for the MIPS→cosine
    * derivation. `itemStateBytes` size-gates the re-rank broadcast
    * (at a 10⁸-item catalog the re-rank degrades to a shuffle join);
    * callers without a size estimate pass Long.MaxValue — never
    * broadcasting is the safe default.
    */
  def topNAnn(userState: DataFrame, itemState: DataFrame,
      n: Int, nlist: Int = 64, nprobe: Int = 8,
      overfetch: Int = 4, seed: Long = 42L,
      itemStateBytes: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions
    import graft.similarity.Ann
    // items augmented with their bias as an extra dimension
    val itemsAug = itemState
      .select(col("item"),
        concat(col("i_factors"), array(col("i_bias"))).as("av"))
      .withColumn("nrm2", VectorExpressions.dot(col("av"), col("av")))
    val m2 = math.max(
      itemsAug.agg(max(col("nrm2"))).head().getDouble(0), 1e-300)
    val itemsTilde = itemsAug.select(col("item"),
      concat(
        transform(col("av"), x => x / lit(math.sqrt(m2))),
        array(sqrt(greatest(lit(0.0), lit(1.0) - col("nrm2") / lit(m2)))))
        .as("v"))
    val usersTilde = userState.select(col("user"),
      concat(col("u_factors"), array(lit(1.0), lit(0.0))).as("v"))
    val shortlist = Ann.ivfTopK(
      itemsTilde, "item", "v", usersTilde, "user", "v",
      k = overfetch * n, nlist = nlist, nprobe = nprobe, seed = seed,
      // user and item ids are different key spaces — never self-filter;
      // the probe relation is user-sized, far too big to broadcast
      excludeSelf = false, broadcastProbes = false)
      .select(col("query_id").as("user"), col("neighbor_id").as("item"))
    // exact re-rank of the shortlist on the true score; the item
    // state broadcast is size-gated like every fit-path hint
    val w = Window.partitionBy(col("user"))
      .orderBy(col("score").desc, col("item"))
    shortlist
      .join(userState.select(col("user"), col("u_factors")), "user")
      .join(Encoding.gate(itemState, itemStateBytes, Encoding.DefaultAutoBroadcastDimBytes),
        "item")
      .withColumn("score",
        Serving.dot(col("u_factors"), col("i_factors")) + col("i_bias"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(col("user"), col("item"), col("rank"))
  }

  /** Exact cross-join top-N over explicit factor states — the serving
    * core of [[Model.recommendForAllUsersExact]], standalone so
    * DETERMINISTIC states can hash-gate the operator (q31b, the q121b
    * fixed-centroid precedent: training is float/RNG and stays
    * rows-only; the ranking operator itself is a pure function of its
    * state inputs). Scores by the full `dot(P,Q) + i_bias` (left-assoc
    * IEEE chain, replayable cross-engine) with `(score desc, item)`
    * tie-break.
    *
    * @param userState (user, u_factors ARRAY<DOUBLE>)
    * @param itemState (item, i_factors ARRAY<DOUBLE>, i_bias DOUBLE)
    */
  def topNExact(userState: DataFrame, itemState: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user"))
      .orderBy(col("score").desc, col("item"))
    userState.crossJoin(broadcast(itemState))
      .withColumn("score",
        Serving.dot(col("u_factors"), col("i_factors")) + col("i_bias"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(col("user"), col("item"), col("rank"))
  }

  def fit(ratings: DataFrame, params: Params = Params()): Model = {
    // The keyed set-up (Encoding.keyed): one scan of the source, over the
    // rows with a user and an item, feeds the dims, the stats, the bias
    // aggregates and the encode.
    val keyed = Encoding.keyed(
      ratings.select(Seq("user", "item", "rating", "time").filter(ratings.columns.contains)
        .map(col): _*))
    val (r, stats) = (keyed.slice, keyed.stats)
    // The reference's decomposition is `mean + u_bias + i_bias + P·Q`
    // (models/als.py:79). Mirror it: damped user/item biases from the
    // training deviations, then ALS factorizes the *residuals* — the
    // published reason its tuned runs beat raw MLlib ALS (BASELINE.md).
    // The item bias subtracts u_bias. Both are fresh checkpoints
    // (releasable through Model.release), joined through the keyed gate:
    // a bias row is a key and one double, as a dim row is a key and an id.
    import org.apache.spark.sql.graftbridge.DatasetBridge.localCheckpointFresh
    val damping = 5.0
    val ubCp = localCheckpointFresh(r.groupBy("user").agg(
      (sum(col("rating") - stats.meanRating) / (count(lit(1)) + damping)).as("u_bias")))
    val ub = ubCp.df
    val ibCp = localCheckpointFresh(
      r.join(keyed.gate(ub, users = true), "user")
        .groupBy("item").agg(
          (sum(col("rating") - stats.meanRating - col("u_bias")) /
            (count(lit(1)) + damping)).as("i_bias")))
    val ib = ibCp.df
    val encoded = keyed.encode(
      r.join(keyed.gate(ub, users = true), "user").join(keyed.gate(ib, users = false), "item"))
      .select(col("u_id"), col("i_id"),
        (col("rating") - stats.meanRating - col("u_bias") - col("i_bias"))
          .cast("float").as("r_centered"))

    val als = new ALS()
      .setUserCol("u_id").setItemCol("i_id").setRatingCol("r_centered")
      .setRank(params.rank).setMaxIter(params.maxIter)
      .setRegParam(params.reg).setSeed(params.seed)
      .setNumUserBlocks(params.numBlocks).setNumItemBlocks(params.numBlocks)
      .setColdStartStrategy("nan")
    val model = als.fit(encoded) // materializes `encoded`: ALS caches
    // its internal block RDDs up front, so the slice can go now
    keyed.release()

    val toDouble = (c: String) =>
      transform(col("features"), f => f.cast("double")).as(c)
    val userState = model.userFactors
      .select(col("id").as("u_id"), toDouble("u_factors"))
      .join(keyed.userDim.df, "u_id").join(ub, "user")
      .select(col("user"), col("u_factors"), col("u_bias"))
    val itemState = model.itemFactors
      .select(col("id").as("i_id"), toDouble("i_factors"))
      .join(keyed.itemDim.df, "i_id").join(ib, "item")
      .select(col("item"), col("i_factors"), col("i_bias"))

    Model(userState, itemState, stats, keyed.userDim.df, keyed.itemDim.df, model,
      backing = Seq(keyed.userDim, keyed.itemDim, ubCp, ibCp))
  }
}
