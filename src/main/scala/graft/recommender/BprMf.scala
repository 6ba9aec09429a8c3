package graft.recommender

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * reference artifacts that do not apply here). No biases: the states
  * are factors only.
  *
  * Scale shape: [[GdMf]]'s. The set-up is the same [[Encoding.keyed]]
  * over (user, item) alone, so the dims number the keys in key order,
  * and the triplets are sampled from its persisted slice and encoded by
  * its gated joins. The encoded triplets are cached once as
  * user blocks sorted by (u_id, p_id, n_id), every user in one (a user
  * who rated every item has no triplet and steps by decay only), and
  * each epoch is ONE job of the fused kernel ([[FusedEpoch]] with its
  * [[FusedEpoch.bprPass]]): the states stay on the executors, and the
  * partials and history sums add in block order, so a fit is
  * bit-reproducible.
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
      collectMetrics: Boolean = false)

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
    FusedEpoch.requireConfig(cfg.nFactors, cfg.epochs)
    // The keyed set-up (Encoding.keyed) over (user, item) alone, so the
    // dims number the keys in key order: the ids feed the init.
    val keyed = Encoding.keyed(ratings.select(col("user"), col("item")))
    val stats = keyed.stats

    // ONE deterministic sampling pass over the slice builds the
    // epoch-stable triplet set (negatives are drawn from the rated-item
    // universe, so the item dim covers them), encoded through the gated
    // dims.
    val facts = keyed.encode(
      Prep.bprTriplets(keyed.slice, "user", "item", cfg.negativesPerUser, cfg.oversample),
      "pos_item" -> "p_id", "neg_item" -> "n_id")
      .select(col("u_id"), col("p_id"), col("n_id"))

    // The epochs' triplet cache, built before the slice is dropped (an
    // epochs = 0 fit never reads it), sized as GdMf sizes its facts: one
    // triplet per rated cell at ~24 B.
    val blocks = if (cfg.epochs > 0)
      FusedEpoch.triplets(facts, keyed.userDim.df, keyed.width(BigInt(stats.nRatings) * 24))
      else null
    val nTriplets = if (cfg.epochs > 0) blocks.map(_.from.last.toLong).reduce(_ + _) else 0L
    keyed.release()

    val history = scala.collection.mutable.ArrayBuffer.empty[(Int, EpochMetrics)]
    val rule = FusedEpoch.Rule(cfg.nFactors, cfg.lr, cfg.reg, mean = 0.0, stats.nUsers,
      stats.nItems, alternating = false)
    val (userState, itemState, backing) = FusedEpoch.train(keyed, blocks, rule,
      FusedEpoch.bprPass, cfg.epochs, cfg.seed, normal = true, biases = false) {
      case (epoch, (ranked, loss)) if cfg.collectMetrics =>
        history += ((epoch, EpochMetrics(ranked / nTriplets, loss / nTriplets)))
      case _ =>
    }
    Model(userState, itemState, history.toSeq, backing,
      itemStateBytes = Encoding.dimBytes(
        stats.nItems, stats.avgItemKeyBytes + 8.0 * (cfg.nFactors + 1)))
  }
}
