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
  * `models/als.py:139-188`) re-expressed relationally.
  *
  * The reference materializes a dense `n_users × n_items` error matrix
  * per epoch (`error = x - pred * x_mask`) and runs blocked dense
  * algebra over it — O(n_users·n_items) work on ~0.075 %-dense data,
  * which is why its distributed runs OOM'd (`report.pdf` §7.1.2). Here
  * the error lives on observed cells only (SURVEY §1.3) — O(nnz·k) work
  * per epoch — and sizes exact from the dimension counts, against
  * `Config.autoBroadcastDimBytes`, pick the epoch:
  *  - the user state plus one item state per fact partition under the
  *    cap (every caller in the tree): the fused kernel ([[FusedEpoch]]) —
  *    the states sit on the driver as dense arrays, are broadcast each
  *    epoch, and ONE job over the user-blocked facts computes the error,
  *    its sums and both gradients; nothing fact-sized is shuffled or
  *    materialized, and the driver receives at most that cap per epoch;
  *  - otherwise: the relational plan-template loop — the error is a
  *    relation (the inner join IS the mask) and every update is join +
  *    groupBy + scaled-vector-sum, a broadcast join for a state that fits
  *    and a shuffle join for one that does not, checkpointed every
  *    epoch. Gradients combine on the executors, so it scales to any nnz
  *    that fits a cluster; the fused kernel is bounded by the driver.
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
      // estimate, the facts (so the fused epoch's tasks, one per user
      // block, and the template plans' shuffles, which run outside AQE)
      // at ~24 B/row. Local scales get 1 partition, not the
      // session's shuffle width (32 tasks over 2 MB is pure scheduler
      // overhead); 100 TB gets thousands, like files.maxPartitionBytes.
      // With a low autoBroadcastDimBytes it reaches, at test scale, the
      // multi-partition shuffle-join plans that large inputs pick — the
      // regime where the error rows' declared partitioning follows bcastI.
      factsPartitions: Int = 0,
      // A factor state is broadcast when its estimated size (ids ×
      // (16 + 8k) bytes) fits under this cap. When the user state plus
      // one item state per fact partition fit (what a fused epoch sends
      // the driver), the fused epoch runs: both states on the driver, one
      // job per epoch; otherwise the template loop runs. Above the cap
      // (dims too big for executor memory — the regime where MLlib ALS's
      // block formulation is the right tool anyway) that state's
      // template-loop joins fall back to shuffle hash/sort-merge, and the
      // loop's persisted error rows keep the facts'
      // hash(u_id) partitioning only while the item state broadcasts; a
      // shuffled item join leaves them hashed on i_id, and the loop
      // declares them unpartitioned.
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
  // Box-Muller for the normal path. One Scala function computes it, on
  // the driver for the fused epoch's arrays and in a UDF everywhere
  // else, bit-identical to the SQL expression chain it replaces.

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
    val spark = ratings.sparkSession
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
      min(col("rating")), max(col("rating")), avg(col("rating"))).head()
    val nnz = probe.getLong(0)
    def keyBytes(i: Int): Double = if (probe.isNullAt(i)) 0.0 else probe.getDouble(i)
    val factParts = width(BigInt(nnz) * 24)
    // Checkpoint the DIMENSIONS, not the derived factor states: every
    // broadcast of a dim (the fact encode below + each epoch's state
    // broadcasts) would otherwise re-run the dimension's groupBy+window
    // plan once per consumer — measured as the dominant setup cost.
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
    // initial and final states below) run concurrently (finite await: a
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

    // The fact table: encoded observed cells, hash-partitioned by u_id so
    // each user's rows sit in one partition — a fused-epoch task holds
    // whole users, and the template loop's user-side joins/groupBys reuse
    // the partitioning without a new exchange (reference chunk grid → §1.3).
    // Dim broadcasts size-gated on the exact probe counts + sampled key
    // widths (checkpointed dims have no planner estimates, so the gate
    // can't be left to auto-broadcast; an unconditional hint was the
    // SURVEY §1.3 driver-OOM class at 10⁹ keys).
    val facts = Encoding.encode(ratingsP, userDim, itemDim,
      Encoding.dimBytes(probe.getLong(1), keyBytes(3) + 8.0),
      Encoding.dimBytes(probe.getLong(2), keyBytes(4) + 8.0),
      cfg.autoBroadcastDimBytes)
      .select(col("u_id"), col("i_id"), col("rating"))
      .repartition(factParts, col("u_id"))

    // Factor states broadcast when they fit (size known exactly from
    // the dimension counts — no reliance on planner estimates, which are
    // unavailable for localCheckpoint'd frames). The states live on the
    // driver and each epoch is one fused job (FusedEpoch) when what an
    // epoch sends the driver fits the same cap: the user gradients (one
    // user state) plus one item-partial array per task (at most one item
    // state each). The cap is also held under 2^31 bytes, so every dense
    // array fits one JVM array. Otherwise the template loop below runs
    // and broadcasts whichever state fits.
    def stateBytes(ids: Long): Long = ids * (16L + 8L * cfg.nFactors)
    val bcastU = stateBytes(stats.nUsers) <= cfg.autoBroadcastDimBytes
    val bcastI = stateBytes(stats.nItems) <= cfg.autoBroadcastDimBytes
    val epochBytes = BigInt(stateBytes(stats.nUsers)) + BigInt(factParts) * stateBytes(stats.nItems)
    val fused = cfg.epochs > 0 &&
      epochBytes <= cfg.autoBroadcastDimBytes.min(Int.MaxValue.toLong)
    def bu(df: DataFrame): DataFrame = if (bcastU) broadcast(df) else df
    def bi(df: DataFrame): DataFrame = if (bcastI) broadcast(df) else df

    // The epochs' fact cache — user-sorted blocks for the fused epoch,
    // the rows for the template loop — built before the slice is dropped
    // (an epochs = 0 fit never reads the facts).
    val blocks = if (fused) FusedEpoch.blocks(facts) else null
    if (fused) blocks.count()
    else if (cfg.epochs > 0) facts.persist(StorageLevel.MEMORY_AND_DISK).count()
    ratingsP.unpersist()

    // Initial states: the per-id init (initFactors) and a zero bias.
    // The fused epoch builds them as driver arrays; otherwise they are
    // LAZY plans over the checkpointed dims (the init is a UDF of the id:
    // no shuffle, no scan), computed by their one consumer — an
    // epochs = 0 Model or the template loop's first cut.
    val normal = !cfg.alternating
    def initState(dim: DataFrame, idCol: String, factorsCol: String,
        biasCol: String, seed: Long): DataFrame =
      dim.withColumn(factorsCol, initColumn(col(idCol), cfg.nFactors, seed, normal))
        .withColumn(biasCol, lit(0.0))

    // err(u_id, i_id, e) on observed cells only — NARROW: the factor
    // vectors are re-joined where a consumer needs them, so the
    // per-epoch cache/shuffle rows are 24 bytes, not 2·k doubles wide.
    // Built once, over the template's placeholder leaves.
    def errRelOn(f: DataFrame, u: DataFrame, i: DataFrame): DataFrame =
      f
        .join(bu(u.select("u_id", "u_factors", "u_bias")), "u_id")
        .join(bi(i.select("i_id", "i_factors", "i_bias")), "i_id")
        .withColumn("e",
          col("rating") - (lit(stats.meanRating) + col("u_bias") +
            col("i_bias") + Serving.dot(col("u_factors"), col("i_factors"))))
        .select("u_id", "i_id", "e")

    // training error from one (Σ|e|, Σe²) aggregate over err
    def errSums(err: DataFrame): DataFrame =
      err.agg(sum(abs(col("e"))).as("sae"), sum(col("e") * col("e")).as("sse"))
    def metrics(sae: Double, sse: Double): Metrics =
      Metrics(sae / stats.nRatings, sse / stats.nRatings, math.sqrt(sse / stats.nRatings))

    // Σᵢ e·Qᵢ and Σᵢ e per user (scaled-vector-sum UDAF: compiled
    // multiply-accumulate, map-side combine — one k-vector per
    // (partition, id) crosses the wire).
    import ScaledVectorSum.scaledVecSum
    def userGrad(err: DataFrame, i: DataFrame): DataFrame =
      err.join(bi(i.select("i_id", "i_factors")), "i_id")
        .groupBy("u_id")
        .agg(scaledVecSum(col("i_factors"), col("e")).as("fgrad"),
          sum(col("e")).as("esum"))

    def itemGrad(err: DataFrame, u: DataFrame): DataFrame =
      err.join(bu(u.select("u_id", "u_factors")), "u_id")
        .groupBy("i_id")
        .agg(scaledVecSum(col("u_factors"), col("e")).as("fgrad"),
          sum(col("e")).as("esum"))

    // The gradient relation is at most dim-sized (one row per id with
    // observations), so it broadcasts under the same policy as the
    // factor states — turning the state⋈grad update into a shuffle-free
    // broadcast join; above the cap both sides degrade to a shuffle
    // join, which is the right plan for dims that big.
    def updated(state: DataFrame, grad: DataFrame, idCol: String,
        factorsCol: String, biasCol: String, dimSize: Long,
        bcast: Boolean): DataFrame =
      state.join(if (bcast) broadcast(grad) else grad, Seq(idCol), "left_outer")
        .withColumn(factorsCol,
          zip_with(col(factorsCol),
            coalesce(col("fgrad"), array((0 until cfg.nFactors).map(_ => lit(0.0)): _*)),
            (p, g) => p + lit(cfg.lr) * (g - lit(cfg.reg) * p)))
        // trap 1: reg term scales with the FULL opposite-dimension size
        .withColumn(biasCol,
          col(biasCol) + lit(cfg.lr) *
            (coalesce(col("esum"), lit(0.0)) - lit(cfg.reg) * col(biasCol) * dimSize))
        .drop("fgrad", "esum")

    val history = scala.collection.mutable.ArrayBuffer.empty[(Int, Metrics)]
    // a trained fit's states are checkpoints that no longer reference
    // the dims
    def adopt(uCp: DatasetBridge.FreshCheckpoint, iCp: DatasetBridge.FreshCheckpoint) = {
      userDimCp.release()
      itemDimCp.release()
      (uCp.df, iCp.df, Seq(uCp, iCp))
    }

    val (uState, iState, backing) = if (fused) {
      // One job per epoch over the user blocks (FusedEpoch); the history
      // comes from the same pass. The initial states are made on the
      // driver (the ids are dense from 0), the final ones checkpointed
      // over the dims' rows with initState's schema, so the Model's
      // states hold exactly the dims' keys.
      val k = cfg.nFactors
      def initDense(dim: DataFrame, idCol: String, n: Long, seed: Long) = {
        val longId = dim.schema(idCol).dataType == LongType
        val d = new FusedEpoch.Dense(new Array[Double](Math.toIntExact(n * k)),
          new Array[Double](Math.toIntExact(n)))
        for (id <- d.bias.indices) initFactors(id, longId, k, seed, normal, d.factors, id * k)
        d
      }
      val rule = FusedEpoch.Rule(k, cfg.lr, cfg.reg,
        stats.meanRating, stats.nUsers, stats.nItems, cfg.alternating)
      var u = initDense(userDim, "u_id", stats.nUsers, cfg.seed)
      var i = initDense(itemDim, "i_id", stats.nItems, cfg.seed + 1)
      for (epoch <- 0 until cfg.epochs) {
        val (u1, i1, sae, sse) = FusedEpoch.epoch(blocks, u, i, rule)
        if (cfg.collectErrors) history += ((epoch, metrics(sae, sse)))
        u = u1
        i = i1
      }
      blocks.unpersist()
      val (uCp, iCp) = par(
        FusedEpoch.checkpoint(spark, userDimCp, "u_id", u, k,
          initState(userDim, "u_id", "u_factors", "u_bias", cfg.seed).schema),
        FusedEpoch.checkpoint(spark, itemDimCp, "i_id", i, k,
          initState(itemDim, "i_id", "i_factors", "i_bias", cfg.seed + 1).schema))
      adopt(uCp, iCp)
    } else if (cfg.epochs > 0) {
      // Template loop, for a state or the fused epoch's driver share
      // over the cap: the epoch body is analyzed+optimized ONCE per fit
      // against placeholder leaves; each epoch
      // substitutes the current generation's RDDs and pays physical
      // planning only (codegen is cached by source). GdMfSpec checks it
      // against a naive driver-side reference with both states, neither
      // and only the item state under the cap.
      //
      // Lineage (SURVEY §4.1) is cut every epoch, user side FIRST: the
      // item-side plan reads the new user state, and binding it to the
      // fresh checkpoint keeps the item job from re-running the user
      // update. Cuts are fresh checkpoints (DatasetBridge), not
      // Dataset.localCheckpoint: Spark 4's copies the cut plan's
      // estimated statistics into the new leaf, and in an iterative loop
      // that estimate compounds until Catalyst spends minutes in
      // BigInteger.multiply. Every state join is explicitly
      // broadcast-gated, so the default leaf stats lose nothing.
      import org.apache.spark.rdd.RDD
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
      import org.apache.spark.sql.graftbridge.PlanTemplate
      import org.apache.spark.sql.graftbridge.PlanTemplate.Bind

      // materialize the initial states once
      var (uCp, iCp) = par(
        localCheckpointFresh(initState(userDim, "u_id", "u_factors", "u_bias", cfg.seed)),
        localCheckpointFresh(initState(itemDim, "i_id", "i_factors", "i_bias", cfg.seed + 1)))

      // placeholder leaves with nullable schemas: epoch outputs may be
      // nullable where the hash-init columns are not, and a nullable
      // leaf reading never-null rows is safe while the reverse breaks
      // codegen'd null checks
      def nullable(s: org.apache.spark.sql.types.StructType) =
        org.apache.spark.sql.types.StructType(s.fields.map(_.copy(nullable = true)))
      val uLeaf = PlanTemplate.leafFrame(spark, nullable(uCp.df.schema))
      val iLeaf = PlanTemplate.leafFrame(spark, nullable(iCp.df.schema))
      val factsLeaf = PlanTemplate.leafFrame(spark, nullable(facts.schema))
      val errProto = errRelOn(factsLeaf, uLeaf, iLeaf)
      val errLeaf = PlanTemplate.leafFrame(spark, nullable(errProto.schema))
      // epoch outputs re-bind to the same state leaves next epoch —
      // normalize the column order to the leaf schema
      val uCols = uCp.df.columns.toSeq.map(col)
      val iCols = iCp.df.columns.toSeq.map(col)
      val tErr = PlanTemplate.template(errProto)
      val tMetrics = PlanTemplate.template(errSums(errLeaf))
      val tU = PlanTemplate.template(
        updated(uLeaf, userGrad(errLeaf, iLeaf), "u_id", "u_factors",
          "u_bias", stats.nItems, bcastU).select(uCols: _*))
      val tI = PlanTemplate.template(
        updated(iLeaf, itemGrad(errLeaf, uLeaf), "i_id", "i_factors",
          "i_bias", stats.nUsers, bcastI).select(iCols: _*))

      // the fact rows bind as a leaf, declared with the hash(u_id)
      // partitioning the repartition above gave them (read through the
      // cache; recomputed partitions would land identically)
      val factsBind =
        Bind(factsLeaf, facts.queryExecution.toRdd,
          hashPartCols = Seq("u_id"), numPartitions = factParts)

      // every exchange in the template plans is as wide as the facts
      def plan(t: LogicalPlan, binds: Bind*) =
        PlanTemplate.instantiate(spark, t, binds, factParts)
      def errOf(u: RDD[InternalRow], i: RDD[InternalRow]): RDD[InternalRow] =
        PlanTemplate.runToRdd(plan(tErr, factsBind, Bind(uLeaf, u), Bind(iLeaf, i)))
          // released: every errOf result is unpersisted by the epoch loop below
          .persist(StorageLevel.MEMORY_AND_DISK)
      // the err rows keep the facts' hash(u_id) partitioning only when
      // the item join broadcasts (it preserves the streamed side), and
      // declaring it then lets the user-side aggregation skip its
      // exchange; a shuffled item join leaves them hashed on i_id
      def bindErr(err: RDD[InternalRow]): Bind =
        Bind(errLeaf, err, hashPartCols = if (bcastI) Seq("u_id") else Nil)
      def metricsOfRdd(err: RDD[InternalRow]): Metrics = {
        val row = PlanTemplate.collectRows(plan(tMetrics, Bind(errLeaf, err))).head
        metrics(row.getDouble(0), row.getDouble(1))
      }
      // one side's update, cut: tU over (uLeaf, iLeaf, err), tI likewise
      def step(t: LogicalPlan, leaf: DataFrame, binds: Bind*) =
        DatasetBridge.checkpointRows(spark,
          PlanTemplate.runToRdd(plan(t, binds: _*)), leaf.schema)
      def advance(uNew: DatasetBridge.FreshCheckpoint,
          iNew: DatasetBridge.FreshCheckpoint): Unit = {
        uCp.release(); iCp.release()
        uCp = uNew; iCp = iNew
      }

      if (cfg.alternating) {
        // ALS-GD (reference models/als.py:158-174): the epoch-start error
        // is the previous epoch's final one; metrics are pre-update
        var err = errOf(uCp.rdd, iCp.rdd)
        for (epoch <- 0 until cfg.epochs) {
          if (cfg.collectErrors) history += ((epoch, metricsOfRdd(err)))
          val uNew = step(tU, uLeaf,
            Bind(uLeaf, uCp.rdd), Bind(iLeaf, iCp.rdd), bindErr(err))
          val err1 = errOf(uNew.rdd, iCp.rdd)
          val iNew = step(tI, iLeaf,
            Bind(iLeaf, iCp.rdd), Bind(uLeaf, uNew.rdd), bindErr(err1))
          val err2 = errOf(uNew.rdd, iNew.rdd) // lazy; consumed next epoch
          err.unpersist(blocking = false)
          err1.unpersist(blocking = false)
          advance(uNew, iNew)
          err = err2
        }
        err.unpersist(blocking = false)
      } else {
        // FunkSVD (reference models/funk_svd.py:157-170): ONE error per
        // epoch, shared by both sides' updates
        for (epoch <- 0 until cfg.epochs) {
          val err = errOf(uCp.rdd, iCp.rdd)
          if (cfg.collectErrors) history += ((epoch, metricsOfRdd(err)))
          val uNew = step(tU, uLeaf,
            Bind(uLeaf, uCp.rdd), Bind(iLeaf, iCp.rdd), bindErr(err))
          // trap 2 holds: tI joins the epoch error against the NEW user
          // factors (uLeaf re-bound to the fresh checkpoint)
          val iNew = step(tI, iLeaf,
            Bind(iLeaf, iCp.rdd), Bind(uLeaf, uNew.rdd), bindErr(err))
          err.unpersist(blocking = false)
          advance(uNew, iNew)
        }
      }
      facts.unpersist()
      adopt(uCp, iCp)
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
