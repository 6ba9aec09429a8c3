package graft.recommender

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import org.apache.spark.storage.StorageLevel

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
  * per epoch. Each epoch is ONE job of the fused kernel ([[FusedEpoch]]):
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
      // Partition count of EVERY fit stage. 0 (default) = auto: bytes /
      // 32 MB, floored at 1 — the input slice by its plan's size
      // estimate, the facts (so the epoch's tasks, one per user block,
      // and its item ranges) at ~24 B/row. Local scales get 1 partition,
      // not the session's shuffle width (32 tasks over 2 MB is pure
      // scheduler overhead); 100 TB gets thousands, like
      // files.maxPartitionBytes.
      factsPartitions: Int = 0,
      // A dimension broadcasts into the fact encode when its estimated
      // size fits under this cap.
      autoBroadcastDimBytes: Long = 64L << 20)

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
    val orderCol = if (ratings.columns.contains("time")) "time" else "rating"
    // Every stage is as wide as its data (Config.factsPartitions).
    def width(bytes: BigInt): Int =
      if (cfg.factsPartitions > 0) cfg.factsPartitions
      else (bytes / (32L << 20)).max(1).min(Int.MaxValue).toInt
    // ONE narrow scan of the source, which feeds both dimension builds
    // and the fact encode: the 4-column slice, persisted and coalesced
    // to its estimated size (row order kept: same dims and facts). Null
    // user/item rows drop here, not in the inner encode joins, so the
    // dims hold exactly the keys the facts use.
    val slice = ratings
      .select(Seq("user", "item", "rating", orderCol).distinct.map(col): _*)
      .where(col("user").isNotNull && col("item").isNotNull)
    val ratingsP = slice
      .coalesce(width(slice.queryExecution.optimizedPlan.stats.sizeInBytes))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materializes ratingsP; yields the fact count and rating stats, and
    // approximate key counts for the dimension-build scale switch
    val probe = ratingsP.agg(
      count(lit(1)).as("nnz"),
      approx_count_distinct(col("user")).as("au"),
      approx_count_distinct(col("item")).as("ai"),
      // key widths feed the encode-join broadcast gates below
      avg(length(col("user").cast("string"))).as("ukb"),
      avg(length(col("item").cast("string"))).as("ikb"),
      min(col("rating")), max(col("rating")), avg(col("rating")),
      // the cells the epoch's error covers: a null rating has none
      count(col("rating")).as("rated")).head()
    val nnz = probe.getLong(0)
    def keyBytes(i: Int): Double = if (probe.isNullAt(i)) 0.0 else probe.getDouble(i)
    val factParts = width(BigInt(nnz) * 24)
    // Checkpoint the DIMENSIONS: every consumer of a dim (the fact
    // encode below, the final states) would otherwise re-run the
    // dimension's groupBy+window plan — measured as the dominant setup
    // cost.
    // Fresh checkpoints (not Dataset.localCheckpoint) so the blocks are
    // explicitly releasable — DataFrame.unpersist is a no-op on
    // checkpoint-backed frames. dimensionAuto: above ~50M keys the
    // single-partition window numbering would bottleneck on one core,
    // so the build switches to the zipWithIndex form (same mapping).
    import org.apache.spark.sql.graftbridge.DatasetBridge
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // independent user- and item-side jobs (the two dims here, the two
    // final states below) run concurrently (finite await: a
    // hung job must surface, not wedge the fit)
    def par[A, B](a: => A, b: => B): (A, B) = {
      val (fa, fb) = (Future(a), Future(b))
      val t = Duration(3600L, "s")
      (Await.result(fa, t), Await.result(fb, t))
    }
    import DatasetBridge.localCheckpointFresh
    val (userDimCp, itemDimCp) = par(
      localCheckpointFresh(Encoding.dimensionAuto(
        ratingsP, "user", orderCol, "u_id", probe.getLong(1))),
      localCheckpointFresh(Encoding.dimensionAuto(
        ratingsP, "item", orderCol, "i_id", probe.getLong(2))))
    val userDim = userDimCp.df
    val itemDim = itemDimCp.df

    // Global statistics: Encoding.ratingStats over the facts, from the
    // passes above — the facts are the slice's rows, and the dims' row
    // counts (from their checkpoint jobs) the distinct users and items.
    val stats = graft.encode.RatingStats(nnz, userDimCp.rows, itemDimCp.rows,
      probe.getDouble(5), probe.getDouble(6), probe.getDouble(7))

    // The fact table: encoded observed cells, cached below as hash(u_id)
    // blocks so that each user's rows sit in one partition and an epoch
    // task holds whole users (reference chunk grid → §1.3). Dim broadcasts
    // size-gated on the exact probe counts + sampled key widths
    // (checkpointed dims have no planner estimates, so the gate can't be
    // left to auto-broadcast; an unconditional hint was the SURVEY §1.3
    // driver-OOM class at 10⁹ keys).
    val facts = Encoding.encode(ratingsP, userDim, itemDim,
      Encoding.dimBytes(probe.getLong(1), keyBytes(3) + 8.0),
      Encoding.dimBytes(probe.getLong(2), keyBytes(4) + 8.0),
      cfg.autoBroadcastDimBytes)
      .select(col("u_id"), col("i_id"), col("rating"))

    // The epochs' fact cache, built before the slice is dropped (an
    // epochs = 0 fit never reads the facts).
    val blocks = if (cfg.epochs > 0) FusedEpoch.blocks(facts, factParts) else null
    if (cfg.epochs > 0) blocks.count()
    ratingsP.unpersist()

    // Initial states: the per-id init (initFactors) and a zero bias. The
    // SQL form is a LAZY plan over the checkpointed dims (the init is a
    // UDF of the id: no shuffle, no scan) — an epochs = 0 Model's states,
    // and the schema of every fit's; a trained fit makes them with
    // initDense beside its blocks and in its item ranges.
    val normal = !cfg.alternating
    def initState(dim: DataFrame, idCol: String, factorsCol: String,
        biasCol: String, seed: Long): DataFrame =
      dim.withColumn(factorsCol, initColumn(col(idCol), cfg.nFactors, seed, normal))
        .withColumn(biasCol, lit(0.0))

    val rated = probe.getLong(8)
    def metrics(sae: Double, sse: Double): Metrics =
      Metrics(sae / rated, sse / rated, math.sqrt(sse / rated))

    val history = scala.collection.mutable.ArrayBuffer.empty[(Int, Metrics)]

    val (uState, iState, backing) = if (cfg.epochs > 0) {
      // One job per epoch over the user blocks (FusedEpoch); the history
      // comes from the same pass. The final states are checkpointed over
      // the dims' rows with initState's schema, so the Model's states
      // hold exactly the dims' keys and no longer reference the dims.
      val k = cfg.nFactors
      val rule = FusedEpoch.Rule(k, cfg.lr, cfg.reg,
        stats.meanRating, stats.nUsers, stats.nItems, cfg.alternating)
      val fit = new FusedEpoch.States(blocks, rule, FusedEpoch.gdPass,
        initFor(userDim, "u_id", k, cfg.seed, normal),
        initFor(itemDim, "i_id", k, cfg.seed + 1, normal))
      for (epoch <- 0 until cfg.epochs) {
        val (sae, sse) = fit.epoch()
        if (cfg.collectErrors) history += ((epoch, metrics(sae, sse)))
      }
      val (uCp, iCp) = par(
        fit.checkpoint(userDimCp, "u_id", users = true,
          initState(userDim, "u_id", "u_factors", "u_bias", cfg.seed).schema),
        fit.checkpoint(itemDimCp, "i_id", users = false,
          initState(itemDim, "i_id", "i_factors", "i_bias", cfg.seed + 1).schema))
      fit.release()
      userDimCp.release()
      itemDimCp.release()
      (uCp.df, iCp.df, Seq(uCp, iCp))
    } else {
      // an untrained Model keeps the lazy init states over the dim
      // checkpoints, which then stay resident for its life
      (initState(userDim, "u_id", "u_factors", "u_bias", cfg.seed),
        initState(itemDim, "i_id", "i_factors", "i_bias", cfg.seed + 1),
        Seq(userDimCp, itemDimCp))
    }
    Model(
      userState = uState.select(col("user"),
        col("u_factors"), col("u_bias")),
      itemState = iState.select(col("item"),
        col("i_factors"), col("i_bias")),
      stats = stats,
      trainErrors = history.toSeq,
      nFactors = cfg.nFactors,
      backing = backing)
  }
}
