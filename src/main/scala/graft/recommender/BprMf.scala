package graft.recommender

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.encode.Encoding
import graft.prep.Prep

/** BPR matrix factorization (Rendle et al. 2009, "BPR: Bayesian
  * Personalized Ranking from Implicit Feedback") — the implicit-
  * feedback trainer the deterministic sampling surface
  * ([[graft.prep.Prep.negativeSample]]/[[graft.prep.Prep.bprTriplets]])
  * was built to feed. Where [[GdMf]] regresses explicit ratings, BPR
  * optimizes PAIRWISE RANKING: for every (user, positive, negative)
  * triplet, maximize ln σ(x̂_up − x̂_un) − reg·‖Θ‖², so the model
  * learns to score a user's seen items above unseen ones.
  *
  * Full-batch GD over a FIXED, deterministically-sampled triplet set
  * (the paper's SGD resamples negatives per draw; sampling once keeps
  * every epoch's input engine-replayable — the q148/q149 determinism
  * contract — and is the standard batch formulation). Per epoch, with
  * s = σ(−x) the residual of triplet (u, p, n):
  *   w_u += lr·(Σ s·(h_p − h_n) − reg·w_u)
  *   h_i += lr·(Σ_{i=p} s·w_u − Σ_{i=n} s·w_u − reg·h_i)
  * Both sides update SIMULTANEOUSLY from the epoch-start states (the
  * classic batch-gradient step; [[GdMf]]'s in-epoch ordering traps are
  * reference artifacts that do not apply here).
  *
  * Scale shape (the [[GdMf]] epoch discipline): the scored relation is
  * NARROW — (u_id, p_id, n_id, x), no factor vectors — so the per-epoch
  * cache is O(|triplets|)·32 B; factor joins are broadcast under the
  * same exact-size gate as GdMf (oversized dims degrade to shuffle
  * joins); gradients are map-side-combinable [[ScaledVectorSum]]
  * aggregates, so one k-vector per (partition, id) crosses the wire;
  * lineage is cut per epoch with releasable fresh checkpoints (the
  * measured superlinear-analysis lesson from GdMf applies unchanged).
  */
object BprMf {

  final case class Config(
      nFactors: Int,
      epochs: Int,
      lr: Double = 0.05,
      reg: Double = 0.01,
      seed: Long = 42L,
      // negatives per user handed to Prep.negativeSample
      negativesPerUser: Int = 5,
      oversample: Int = 3,
      collectMetrics: Boolean = false,
      autoBroadcastDimBytes: Long = 64L << 20)

  /** Per-epoch training metrics, recorded BEFORE the epoch's update:
    * `auc` is the fraction of training triplets ranked correctly
    * (ties at ½ — exactly the sampled-pairs AUC of the paper's
    * criterion) and `loss` is the mean softplus(−x) = −ln σ(x).
    */
  final case class EpochMetrics(auc: Double, loss: Double)

  final case class Model(
      userState: DataFrame, // user, u_factors ARRAY<DOUBLE>
      itemState: DataFrame, // item, i_factors ARRAY<DOUBLE>
      history: Seq[(Int, EpochMetrics)],
      private val backing: Seq[
        org.apache.spark.sql.graftbridge.DatasetBridge.FreshCheckpoint] = Nil,
      // estimated itemState broadcast bytes (fit knows counts + key
      // widths); Long.MaxValue = unknown → the ANN re-rank never
      // broadcasts, the safe default for hand-built models
      private val itemStateBytes: Long = Long.MaxValue) {

    /** Score every (user, item) row of `pairs`: x̂ = w_u · h_i. */
    def score(pairs: DataFrame): DataFrame =
      pairs
        .join(userState, "user")
        .join(itemState, "item")
        .withColumn("score", Serving.dot(col("u_factors"), col("i_factors")))
        .drop("u_factors", "i_factors")

    /** EXACT top-N — the small-scale serving VERIFIER (quadratic
      * cross join; see [[BprMf.topNExact]]).
      */
    def recommendForAllUsersExact(n: Int): DataFrame =
      BprMf.topNExact(userState, itemState, n)

    /** Top-N through an ANN shortlist — the SCALE path (the q31
      * pairing: exact form verifies, this form serves). The BPR score
      * is the pure dot, i.e. [[AlsRecommender.topNAnn]]'s
      * MIPS→cosine reduction with a zero bias dimension — one
      * verified reduction serves both model families. Recall lock in
      * BprMfSpec.
      */
    def recommendForAllUsersAnn(
        n: Int, nlist: Int = 64, nprobe: Int = 8,
        overfetch: Int = 4, seed: Long = 42L): DataFrame =
      AlsRecommender.topNAnn(
        userState, itemState.withColumn("i_bias", lit(0.0)),
        n, nlist, nprobe, overfetch, seed, itemStateBytes)

    def release(): Unit = backing.foreach(_.release())

    def historyDf: DataFrame = {
      val spark = userState.sparkSession
      import spark.implicits._
      history.map { case (e, m) => (e, m.auc, m.loss) }
        .toDF("epoch", "auc", "loss")
    }
  }

  /** Numerically stable softplus(−x) = −ln σ(x). */
  private def softplusNeg(x: Column): Column =
    when(x >= 0, log1p(exp(-x))).otherwise(-x + log1p(exp(x)))

  /** EXACT top-N serving under frozen factor states — implicit MF
    * ranks by the PURE dot x̂ = w_u · h_i (no biases in the BPR
    * criterion), which is [[AlsRecommender.topNExact]]'s score chain
    * with a zero item bias (`dot + 0.0` preserves every IEEE
    * comparison), so the one verified ranking implementation serves
    * both model families. Standalone so DETERMINISTIC caller-frozen
    * states can hash-gate the operator (q155, the q31b precedent —
    * training itself is a float trajectory and stays rows-only).
    * Quadratic cross join: the small-scale VERIFIER, not the
    * production path.
    *
    * @param userState (user, u_factors ARRAY<DOUBLE>)
    * @param itemState (item, i_factors ARRAY<DOUBLE>)
    */
  def topNExact(userState: DataFrame, itemState: DataFrame, n: Int): DataFrame =
    AlsRecommender.topNExact(
      userState, itemState.withColumn("i_bias", lit(0.0)), n)

  def fit(ratings: DataFrame, cfg: Config): Model = {
    require(cfg.nFactors > 0 && cfg.epochs >= 0, "bad config")
    val spark = ratings.sparkSession
    import org.apache.spark.sql.graftbridge.DatasetBridge

    // ONE deterministic sampling pass builds the epoch-stable triplet
    // set; dims come from the same ratings relation (negatives are
    // drawn from the rated-item universe, so the item dim covers them)
    val ratingsP = ratings.select(col("user"), col("item"))
      .filter(col("user").isNotNull && col("item").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val probe = ratingsP.agg(
      count(lit(1)).as("nnz"),
      approx_count_distinct(col("user")).as("au"),
      approx_count_distinct(col("item")).as("ai"),
      // sampled key widths for the dim-broadcast gates below
      avg(length(col("user").cast("string"))).as("ukb"),
      avg(length(col("item").cast("string"))).as("ikb")).head()
    def keyBytes(i: Int): Double = if (probe.isNullAt(i)) 0.0 else probe.getDouble(i)
    val userDimCp = DatasetBridge.localCheckpointFresh(
      Encoding.dimensionAuto(ratingsP, "user", "user", "u_id", probe.getLong(1)))
    val itemDimCp = DatasetBridge.localCheckpointFresh(
      Encoding.dimensionAuto(ratingsP, "item", "item", "i_id", probe.getLong(2)))
    val userDim = userDimCp.df
    val itemDim = itemDimCp.df

    val triplets = Prep.bprTriplets(ratingsP, "user", "item",
      cfg.negativesPerUser, cfg.oversample, cfg.autoBroadcastDimBytes)

    // each encode join gated by ITS dim's estimated bytes (probe count
    // × sampled key width — the Encoding.dimBytes estimate)
    val uDimBytes = Encoding.dimBytes(probe.getLong(1), keyBytes(3) + 8.0)
    val iDimBytes = Encoding.dimBytes(probe.getLong(2), keyBytes(4) + 8.0)
    def gate(df: DataFrame, est: Long): DataFrame =
      if (est <= cfg.autoBroadcastDimBytes) broadcast(df) else df
    val facts = triplets
      .join(gate(userDim, uDimBytes), "user")
      .join(gate(itemDim.select(col("item").as("pos_item"),
        col("i_id").as("p_id")), iDimBytes), "pos_item")
      .join(gate(itemDim.select(col("item").as("neg_item"),
        col("i_id").as("n_id")), iDimBytes), "neg_item")
      .select(col("u_id"), col("p_id"), col("n_id"))
      .repartition(math.max(1L,
        probe.getLong(0) * cfg.negativesPerUser * 24L / (32L << 20)).toInt,
        col("u_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nTriplets = facts.count()
    ratingsP.unpersist()

    // the probe's approximate distinct counts are exact enough for a
    // 64 MB size gate (±2 % HLL error) — no extra count jobs
    val nUsers = probe.getLong(1)
    val nItems = probe.getLong(2)
    def stateBytes(ids: Long): Long = ids * (16L + 8L * cfg.nFactors)
    val bcastU = stateBytes(nUsers) <= cfg.autoBroadcastDimBytes
    val bcastI = stateBytes(nItems) <= cfg.autoBroadcastDimBytes
    def bu(df: DataFrame): DataFrame = if (bcastU) broadcast(df) else df
    def bi(df: DataFrame): DataFrame = if (bcastI) broadcast(df) else df

    var uState = userDim.withColumn("u_factors",
      GdMf.initColumn(col("u_id"), cfg.nFactors, cfg.seed, normal = true))
    var iState = itemDim.withColumn("i_factors",
      GdMf.initColumn(col("i_id"), cfg.nFactors, cfg.seed + 1, normal = true))

    // scored(u_id, p_id, n_id, x): NARROW — factors re-join at the
    // consumers, exactly GdMf's err-relation discipline
    def scoredOn(u: DataFrame, i: DataFrame): DataFrame =
      facts
        .join(bu(u.select("u_id", "u_factors")), "u_id")
        .join(bi(i.select(col("i_id").as("p_id"),
          col("i_factors").as("__pf"))), "p_id")
        .join(bi(i.select(col("i_id").as("n_id"),
          col("i_factors").as("__nf"))), "n_id")
        .withColumn("x",
          Serving.dot(col("u_factors"), col("__pf")) -
            Serving.dot(col("u_factors"), col("__nf")))
        .select("u_id", "p_id", "n_id", "x")

    import ScaledVectorSum.scaledVecSum
    val zeros = array((0 until cfg.nFactors).map(_ => lit(0.0)): _*)
    def step(factors: Column, grad: Column): Column =
      zip_with(factors, coalesce(grad, zeros),
        (p, g) => p + lit(cfg.lr) * (g - lit(cfg.reg) * p))

    def userGrad(scored: DataFrame, i: DataFrame): DataFrame =
      scored
        .join(bi(i.select(col("i_id").as("p_id"),
          col("i_factors").as("__pf"))), "p_id")
        .join(bi(i.select(col("i_id").as("n_id"),
          col("i_factors").as("__nf"))), "n_id")
        .withColumn("s", lit(1.0) / (lit(1.0) + exp(col("x"))))
        .groupBy("u_id")
        .agg(scaledVecSum(
          zip_with(col("__pf"), col("__nf"), (p, n) => p - n),
          col("s")).as("fgrad"))

    def itemGrad(scored: DataFrame, u: DataFrame): DataFrame = {
      val withU = scored
        .join(bu(u.select("u_id", "u_factors")), "u_id")
        .withColumn("s", lit(1.0) / (lit(1.0) + exp(col("x"))))
      withU.select(col("p_id").as("i_id"), col("u_factors"), col("s"))
        .unionAll(withU.select(col("n_id").as("i_id"), col("u_factors"),
          (-col("s")).as("s")))
        .groupBy("i_id")
        .agg(scaledVecSum(col("u_factors"), col("s")).as("fgrad"))
    }

    val history = scala.collection.mutable.ArrayBuffer.empty[(Int, EpochMetrics)]
    var cpU: Option[DatasetBridge.FreshCheckpoint] = None
    var cpI: Option[DatasetBridge.FreshCheckpoint] = None
    for (epoch <- 0 until cfg.epochs) {
      val scored = scoredOn(uState, iState)
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (cfg.collectMetrics) {
        val r = scored.agg(
          avg(when(col("x") > 0, 1.0).when(col("x") === 0, 0.5)
            .otherwise(0.0)).as("auc"),
          avg(softplusNeg(col("x"))).as("loss")).head()
        history += ((epoch, EpochMetrics(r.getDouble(0), r.getDouble(1))))
      }
      // simultaneous update from the epoch-start states; user side cut
      // first, item side reads only OLD states + the shared scored
      // relation, so neither cut re-executes the other's update
      val uNew = DatasetBridge.localCheckpointFresh(
        uState.join(
          if (bcastU) broadcast(userGrad(scored, iState))
          else userGrad(scored, iState),
          Seq("u_id"), "left_outer")
          .withColumn("u_factors", step(col("u_factors"), col("fgrad")))
          .drop("fgrad"))
      val iNew = DatasetBridge.localCheckpointFresh(
        iState.join(
          if (bcastI) broadcast(itemGrad(scored, uState))
          else itemGrad(scored, uState),
          Seq("i_id"), "left_outer")
          .withColumn("i_factors", step(col("i_factors"), col("fgrad")))
          .drop("fgrad"))
      // both new generations are materialized — the old ones and the
      // epoch's scored cache are safe to drop
      cpU.foreach(_.release()); cpI.foreach(_.release())
      scored.unpersist()
      cpU = Some(uNew); cpI = Some(iNew)
      uState = uNew.df
      iState = iNew.df
    }
    if (cfg.epochs > 0) {
      // the final states are checkpointed by the last epoch's cuts and
      // no longer reference the dims; with epochs == 0 the lazy init
      // states still do, so the dims stay resident for the Model's life
      userDimCp.release()
      itemDimCp.release()
    }
    facts.unpersist()
    val backing =
      if (cfg.epochs > 0) Seq(cpU, cpI).flatten
      else Seq(userDimCp, itemDimCp)
    Model(
      userState = uState.select("user", "u_factors"),
      itemState = iState.select("item", "i_factors"),
      history = history.toSeq,
      backing = backing,
      itemStateBytes = Encoding.dimBytes(
        nItems, keyBytes(4) + 8.0 * (cfg.nFactors + 1)))
  }
}
