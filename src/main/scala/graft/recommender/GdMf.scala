package graft.recommender

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.encode.{Encoding, RatingStats}

/** Full-batch gradient-descent matrix factorization with the reference's
  * exact semantics (reference `models/funk_svd.py:136-190`,
  * `models/als.py:139-188`) re-expressed on Spark.
  *
  * The reference materializes a dense `n_users × n_items` error matrix
  * per epoch (`error = x - pred * x_mask`) and runs blocked dense
  * algebra over it — O(n_users·n_items) work on ~0.075 %-dense data,
  * which is why its distributed runs OOM'd (`report.pdf` §7.1.2). Here
  * the error lives on observed cells only (SURVEY §1.3) — O(nnz·k) work
  * per epoch. The set-up (the persisted input slice, its statistics, both
  * ID dimensions and the gated fact encode) is [[Encoding.keyed]], the
  * one shared by every trainer; the fit keeps only what is its own: the
  * facts, the pass and the history. Each epoch is ONE job of the fused
  * kernel ([[FusedEpoch]]):
  * over user-blocked facts, one pass computes the error, its sums and
  * both gradients; nothing fact-sized is shuffled or materialized. The
  * states live on the executors between epochs: the user state beside
  * its blocks, the item state in i_id ranges, exchanged by two shuffles
  * inside the epoch's job. Nothing state-sized reaches the driver, so it
  * scales to any nnz that fits a cluster.
  *
  * Semantics traps preserved (SURVEY §7.1):
  *  1. the bias regularizer sums over the FULL dimension (reference
  *     `models/als.py:168` `da.sum(error - reg*u_biases, axis=1)` — the
  *     reg term is broadcast across all n_items columns, error is zero
  *     off-mask) → bias decay is `lr·reg·n_items·bias`, not
  *     `lr·reg·bias`;
  *  2. update ordering — FunkSVD's item-factor gradient uses the
  *     already-updated user factors within the epoch
  *     (`models/funk_svd.py:166-167`); ALS-GD recomputes the error
  *     between the user-side and item-side updates
  *     (`models/als.py:160-174`).
  */
object GdMf {

  final case class Config(
      nFactors: Int,
      epochs: Int,
      lr: Double = 0.001,
      reg: Double = 0.001,
      seed: Long = 42L,
      alternating: Boolean = false, // false = FunkSVD, true = ALS-GD
      collectErrors: Boolean = false,
      // Partition count of EVERY fit stage. 0 (default) = auto
      // (Encoding.width): the input slice by its plan's size estimate,
      // the facts (so the epoch's tasks, one per user block, and its
      // item ranges) at ~24 B/row.
      factsPartitions: Int = 0,
      // A dimension broadcasts into the fact encode when its estimated
      // size fits under this cap.
      autoBroadcastDimBytes: Long = Encoding.DefaultAutoBroadcastDimBytes)

  /** Trained model: distributed per-id state, driver-side scalars, and
    * the optional per-epoch training-error history (reference
    * `collect_errors`, surfaced as data instead of a matplotlib PDF —
    * SURVEY §2.1 "plot sink").
    */
  final case class Model(
      userState: DataFrame, // user, u_factors ARRAY<DOUBLE>, u_bias
      itemState: DataFrame, // item, i_factors ARRAY<DOUBLE>, i_bias
      stats: RatingStats,
      trainErrors: Seq[(Int, Metrics)],
      private val nFactors: Int,
      // checkpoint handles backing userState/itemState (the final
      // generation's cuts, or the dim checkpoints when epochs == 0) —
      // private so release() is the only door
      private val backing: Seq[
        org.apache.spark.sql.graftbridge.DatasetBridge.FreshCheckpoint] = Nil) {

    // the state sizes are known from the fit: no probe jobs at predict
    def predict(test: DataFrame): DataFrame =
      Serving.predict(test, userState, itemState, stats,
        userStateStats = Some(Serving.StateStats(stats.nUsers, nFactors)),
        itemStateStats = Some(Serving.StateStats(stats.nItems, nFactors)))

    /** Drop the checkpoint blocks backing this model's states. Call when
      * the model is no longer needed — a session that fits many models
      * would otherwise accumulate one unreleasable block set per
      * retained Model (DataFrame.unpersist is a no-op on
      * checkpoint-backed frames). The states are unusable afterwards.
      */
    def release(): Unit = backing.foreach(_.release())

    def trainErrorsDf: DataFrame = {
      val spark = userState.sparkSession
      import spark.implicits._
      trainErrors.map { case (e, m) => (e, m.mae, m.mse, m.rmse) }
        .toDF("epoch", "mae", "mse", "rmse")
    }
  }

  // --- deterministic per-id initialization (SURVEY §4.3.4) -------------
  // The reference's dask RNG is chunking-dependent; ours is a pure
  // function of (id, factor index, seed), reproducible at any
  // parallelism: SQL xxhash64(id, index, seed) → U(0,1) → uniform, or
  // Box-Muller for the normal path. One Scala function computes it, for
  // the epoch's dense states (initDense) and in a UDF for the SQL form,
  // bit-identical to the SQL expression chain it replaces.

  /** U(0,1) from `xxhash64(id, salt, seed)`, `idHash` being the XXH64
    * chain's state after the id (seed 42, hashInt for an int id,
    * hashLong for a long one).
    */
  private def u01(idHash: Long, salt: Int, seed: Long): Double =
    XXH64.hashLong(seed, XXH64.hashInt(salt, idHash)).toDouble /
      1.8446744073709552e19 + 0.5

  /** Writes `id`'s `k` initial factors to `out(at until at + k)`:
    * uniform(0, 0.1), the ALS init (reference `models/als.py:74-75`), or
    * normal(0, 0.1), the FunkSVD and [[BprMf]] init (reference
    * `models/funk_svd.py:76-77`).
    */
  private[recommender] def initFactors(id: Long, longId: Boolean, k: Int, seed: Long,
      normal: Boolean, out: Array[Double], at: Int): Unit = {
    val h = if (longId) XXH64.hashLong(id, 42L) else XXH64.hashInt(id.toInt, 42L)
    var f = 0
    while (f < k) {
      out(at + f) =
        if (!normal) u01(h, f, seed) * 0.1
        else {
          val a = math.max(u01(h, 2 * f, seed), 1e-12)
          val b = u01(h, 2 * f + 1, seed)
          // the functions Spark's generated code calls: StrictMath.log, Math.cos
          math.sqrt(-2.0 * StrictMath.log(a)) * math.cos(2.0 * math.Pi * b) * 0.1
        }
      f += 1
    }
  }

  /** [[initFactors]] for `ids`, as a dense state with zero biases. */
  private[recommender] def initDense(ids: Array[Int], longId: Boolean, k: Int, seed: Long,
      normal: Boolean): FusedEpoch.Dense = {
    val d = new FusedEpoch.Dense(new Array[Double](Math.multiplyExact(ids.length, k)),
      new Array[Double](ids.length))
    for (x <- ids.indices) initFactors(ids(x), longId, k, seed, normal, d.factors, x * k)
    d
  }

  /** [[initDense]] for the ids of `dim`'s `idCol`, an int or long column. */
  private[recommender] def initFor(dim: DataFrame, idCol: String, k: Int, seed: Long,
      normal: Boolean): Array[Int] => FusedEpoch.Dense = {
    val longId = dim.schema(idCol).dataType == LongType
    ids => initDense(ids, longId, k, seed, normal)
  }

  /** [[initFactors]] over an int or long id column. Its elements are
    * nullable, as the SQL forms' (divide, log) were, so the states keep
    * their schema.
    */
  private[recommender] def initColumn(id: Column, k: Int, seed: Long,
      normal: Boolean): Column =
    udf(new UDF1[Any, Array[Double]] {
      def call(id: Any): Array[Double] = {
        val out = new Array[Double](k)
        id match {
          case i: Int => initFactors(i, longId = false, k, seed, normal, out, 0)
          case l: Long => initFactors(l, longId = true, k, seed, normal, out, 0)
        }
        out
      }
    }, ArrayType(DoubleType, containsNull = true)).asNonNullable()(id)

  // ---------------------------------------------------------------------

  def fit(ratings: DataFrame, cfg: Config): Model = {
    FusedEpoch.requireConfig(cfg.nFactors, cfg.epochs)
    // The keyed set-up (Encoding.keyed): the persisted 4-column slice, its
    // stats and both dims, over the rows with a user and an item.
    val keyed = Encoding.keyed(
      ratings.select(Seq("user", "item", "rating", "time").filter(ratings.columns.contains)
        .map(col): _*),
      cfg.factsPartitions, cfg.autoBroadcastDimBytes)
    val stats = keyed.stats

    // The fact table: encoded observed cells, cached below as hash(u_id)
    // blocks so that each user's rows sit in one partition and an epoch
    // task holds whole users (reference chunk grid → §1.3), at ~24 B/row.
    val facts = keyed.encode(keyed.slice).select(col("u_id"), col("i_id"), col("rating"))

    // The epochs' fact cache, built before the slice is dropped (an
    // epochs = 0 fit never reads the facts).
    val blocks =
      if (cfg.epochs > 0) FusedEpoch.blocks(facts, keyed.width(BigInt(stats.nRatings) * 24))
      else null
    if (cfg.epochs > 0) blocks.count()
    keyed.release()

    // One job per epoch over the user blocks (FusedEpoch); the history
    // comes from the same pass, over the cells with a rating.
    val history = scala.collection.mutable.ArrayBuffer.empty[(Int, Metrics)]
    val rule = FusedEpoch.Rule(cfg.nFactors, cfg.lr, cfg.reg,
      stats.meanRating, stats.nUsers, stats.nItems, cfg.alternating)
    val (userState, itemState, backing) = FusedEpoch.train(keyed, blocks, rule,
      FusedEpoch.gdPass, cfg.epochs, cfg.seed, normal = !cfg.alternating, biases = true) {
      case (epoch, (sae, sse)) if cfg.collectErrors =>
        val n = keyed.rated
        history += ((epoch, Metrics(sae / n, sse / n, math.sqrt(sse / n))))
      case _ =>
    }
    Model(userState, itemState, stats, history.toSeq, cfg.nFactors, backing)
  }
}
