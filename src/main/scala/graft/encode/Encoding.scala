package graft.encode

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge.{localCheckpointFresh, FreshCheckpoint}
import org.apache.spark.storage.StorageLevel

/** Dense-ID encoding and global statistics (SURVEY §2.5, §1.3).
  *
  * The reference builds driver-local Python dicts `u_mapping`/`i_mapping`
  * (reference `models/als.py:29-32`) — its single worst 100-TB bottleneck.
  * Here the mapping IS a distributed dimension table `(key, id)`; encoding
  * is a join (broadcast when the dimension is small, shuffle otherwise),
  * decoding is the same join the other way. Nothing ever lands on the
  * driver. [[keyed]] is every trainer's set-up: the slice, the stats,
  * both dims and the gated encode, in one probe job and one concurrent
  * pair of dimension checkpoints.
  */
object Encoding {

  /** Distributed dimension table: one row per distinct `keyCol`, dense
    * contiguous ids 0..n-1 ordered by first appearance (earliest
    * `orderCol`, ties broken by the key itself so the mapping is total
    * and deterministic — reference `models/als.py:26-30` uses
    * first-appearance file order, unobservable in outputs, SURVEY §7.1.4).
    *
    * The `row_number` over a global window is a single-partition sort of
    * the *distinct keys only* — fine up to ~billions of keys; at that
    * point switch to `zipWithIndex`-style per-partition offsets. The
    * groupBy before it is a standard partial-agg shuffle.
    */
  def dimension(df: DataFrame, keyCol: String, orderCol: String, idCol: String): DataFrame = {
    val firstSeen = df.groupBy(col(keyCol))
      .agg(min(col(orderCol)).as("__first_seen"))
    val w = Window.orderBy(col("__first_seen"), col(keyCol))
    firstSeen
      .withColumn(idCol, (row_number().over(w) - 1).cast("int"))
      .drop("__first_seen")
  }

  /** `dimension` without the global window: dense ids from range
    * partitioning + per-partition offsets (the `zipWithIndex` two-pass
    * pattern). Produces the IDENTICAL mapping to `dimension` (modulo id
    * width) — the global order is the same total order
    * (__first_seen, key), and `zipWithIndex` numbers rows in
    * partition-concatenation order, which for range partitions IS that
    * global order regardless of where the sampled range boundaries
    * land — but no stage ever sorts all keys in one partition, so it
    * holds at billions of keys (EncodingSpec asserts exact equality
    * with `dimension`). The id column is LongType precisely because
    * this is the >2^31-keys path; `dimension` keeps IntegerType since
    * its single-partition window sort caps it well below that anyway.
    *
    * Cost: one extra count-per-partition job (zipWithIndex's first
    * pass) — the standard price of distributed dense numbering.
    */
  def dimensionAtScale(
      df: DataFrame, keyCol: String, orderCol: String, idCol: String,
      numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val firstSeen = df.groupBy(col(keyCol))
      .agg(min(col(orderCol)).as("__first_seen"))
    val parts =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = firstSeen
      .repartitionByRange(parts, col("__first_seen"), col(keyCol))
      .sortWithinPartitions(col("__first_seen"), col(keyCol))
    val schema = sorted.schema.add(idCol, LongType, nullable = false)
    val withIds = sorted.rdd.zipWithIndex.map {
      case (r, i) => Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(withIds, schema).drop("__first_seen")
  }

  /** How many distinct keys the single-partition window sort of
    * [[dimension]] is allowed before [[dimensionAuto]] switches to the
    * [[dimensionAtScale]] two-pass numbering: 50M keys ≈ 1.2 GB in one
    * sort task — the edge of single-task comfort; beyond it the window
    * plan concentrates the whole dimension on one core.
    */
  val DefaultMaxWindowKeys: Long = 50L * 1000 * 1000

  /** [[dimension]] with an automatic scale switch: callers pass the
    * (approximate is fine) distinct-key count they already know — e.g.
    * from `approx_count_distinct` in a stats pass — and the dimension
    * build picks the single-partition window form below
    * `maxWindowKeys` (IntegerType ids) or the range-partition +
    * zipWithIndex form above it (LongType ids; identical mapping,
    * proven in EncodingSpec). Dispatch is driver-side on a known
    * scalar — no extra job.
    */
  def dimensionAuto(
      df: DataFrame, keyCol: String, orderCol: String, idCol: String,
      approxKeys: Long,
      maxWindowKeys: Long = DefaultMaxWindowKeys): DataFrame =
    if (approxKeys <= maxWindowKeys) dimension(df, keyCol, orderCol, idCol)
    else dimensionAtScale(df, keyCol, orderCol, idCol)

  /** Default cap for an EXPLICIT dimension-broadcast hint: 64 MB of
    * estimated build-side bytes — comfortably executor-resident, far
    * above Catalyst's 10 MB auto threshold, far below driver OOM
    * territory. Shared by every size-gated broadcast in the engine
    * (the fit paths' encode joins, negativeSample's proposal dim,
    * AlsRecommender's bias joins).
    */
  val DefaultAutoBroadcastDimBytes: Long = 64L << 20

  /** Estimated broadcast bytes of an n-row dimension-class table:
    * ~16 B UnsafeRow overhead + numeric id, plus the key's own width
    * (callers pass `avg(length(key))` from a stats pass they already
    * run — a catalog of long URL/composite keys must not slip under
    * the gate on a flat per-row constant).
    */
  def dimBytes(nKeys: Long, avgKeyBytes: Double): Long =
    (nKeys.toDouble * (16.0 + math.max(0.0, avgKeyBytes))).toLong

  /** Attach dense ids for user and item (reference
    * `models/als.py:31-32` `df[col].map(mapping)`): two equi-joins.
    * No broadcast hint: Catalyst's auto-broadcast picks the broadcast
    * form below `spark.sql.autoBroadcastJoinThreshold` from its own
    * size estimates and falls back to a shuffle join above it. An
    * UNCONDITIONAL hint here was the one 100-TB scale-killer left in
    * the engine (a 10⁹-key dimension would be forced through the
    * driver) — the trainers, which know the exact key counts, use
    * [[Keyed.encode]], which keeps the hint's plan stability without
    * the blow-up.
    */
  def encode(ratings: DataFrame, userDim: DataFrame, itemDim: DataFrame): DataFrame =
    ratings
      .join(userDim, Seq("user"))
      .join(itemDim, Seq("item"))

  /** `table` with a broadcast hint while its estimated bytes fit
    * `capBytes`; above it a join with `table` degrades to a shuffle join
    * instead of a driver-side build (the [[dimBytes]] estimate, SURVEY
    * §1.3). The one gate of every size-gated hint in the engine.
    */
  def gate(table: DataFrame, estBytes: Long, capBytes: Long): DataFrame =
    if (estBytes <= capBytes) broadcast(table) else table

  /** Every stage of a trainer is as wide as its data: `bytes` / 32 MB,
    * floored at 1, or `partitions` when it is positive. Local scales get
    * 1 partition, not the session's shuffle width (32 tasks over 2 MB is
    * pure scheduler overhead); 100 TB gets thousands, like
    * files.maxPartitionBytes.
    */
  def width(partitions: Int)(bytes: BigInt): Int =
    if (partitions > 0) partitions
    else (bytes / (32L << 20)).max(1).min(Int.MaxValue).toInt

  /** `a` and `b` run concurrently (independent jobs, such as a fit's
    * user- and item-side ones), under one finite await: a hung job
    * surfaces instead of wedging the caller.
    */
  private[graft] def concurrently[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val (fa, fb) = (Future(a), Future(b))
    Await.result(fa.zip(fb), Duration(3600L, "s"))
  }

  /** A trainer's keyed set-up (reference `models/als.py:17-41`: the ID
    * encoding and the global statistics) over its projected `slice`:
    * `user`, `item`, and `rating` and `time` where the trainer has them.
    *
    *  - Rows with a null user or item drop here, not in the inner encode
    *    joins, so the dims hold exactly the keys the facts use and the
    *    stats count only user-item cells.
    *  - The slice is persisted and coalesced to [[width]] of its plan's
    *    size estimate (row order kept: the same dims and facts). It is
    *    the ONE narrow scan of the source that the dims, the facts and
    *    any trainer aggregate read.
    *  - One probe job materializes it: the count, approximate key counts
    *    (the [[dimensionAuto]] scale switch), the key widths (the gates'
    *    [[dimBytes]]) and, with a `rating` column, its min, max, mean and
    *    count.
    *  - Both dims are fresh checkpoints, built concurrently: every
    *    consumer of a dim would otherwise re-run its groupBy + window
    *    plan (measured as the dominant set-up cost), and a fresh
    *    checkpoint is explicitly releasable (`DataFrame.unpersist` is a
    *    no-op on checkpoint-backed frames). Ids number the keys by their
    *    earliest `time` if the slice has it, else by their lowest
    *    `rating`, else by the key itself.
    *
    * `partitions` overrides [[width]]; `capBytes` caps the dims' gated
    * broadcasts.
    */
  def keyed(slice: DataFrame, partitions: Int = 0,
      capBytes: Long = DefaultAutoBroadcastDimBytes): Keyed = {
    val columns = slice.columns.toSet
    val kept = slice.where(col("user").isNotNull && col("item").isNotNull)
    val persisted = kept
      .coalesce(width(partitions)(kept.queryExecution.optimizedPlan.stats.sizeInBytes))
      // Keyed.release drops it, once the trainer has read its facts
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rating = if (columns("rating")) col("rating") else lit(null).cast("double")
    val probe = persisted.agg(
      count(lit(1)), approx_count_distinct(col("user")), approx_count_distinct(col("item")),
      avg(length(col("user").cast("string"))), avg(length(col("item").cast("string"))),
      // the cells a rating error covers: a null rating has none
      min(rating), max(rating), avg(rating), count(rating)).head()
    // null where the slice has no rows, or no rating column or rating
    def num(i: Int, none: Double): Double = if (probe.isNullAt(i)) none else probe.getDouble(i)
    def dim(key: String, idCol: String, approxKeys: Long): FreshCheckpoint =
      localCheckpointFresh(dimensionAuto(persisted, key,
        Seq("time", "rating").find(columns).getOrElse(key), idCol, approxKeys))
    val (userDim, itemDim) = concurrently(
      dim("user", "u_id", probe.getLong(1)), dim("item", "i_id", probe.getLong(2)))
    // the dims' row counts are the distinct users and items
    val stats = RatingStats(probe.getLong(0), userDim.rows, itemDim.rows,
      num(5, Double.NaN), num(6, Double.NaN), num(7, Double.NaN), num(3, 0.0), num(4, 0.0))
    new Keyed(persisted, stats, probe.getLong(8), userDim, itemDim, width(partitions), capBytes)
  }

  /** Global statistics in ONE pass (reference `models/als.py:35-41` runs
    * five separate eager computations): count, distinct users/items,
    * min/max/mean rating. Single hash-aggregate, partial+final.
    */
  def ratingStats(ratings: DataFrame): RatingStats = {
    val row = ratings.agg(
      count(lit(1)).as("n_ratings"),
      countDistinct(col("user")).as("n_users"),
      countDistinct(col("item")).as("n_items"),
      min(col("rating")).as("min_rating"),
      max(col("rating")).as("max_rating"),
      avg(col("rating")).as("mean_rating"),
      // key widths feed the dimBytes broadcast gates — same pass, free
      avg(length(col("user").cast("string"))).as("u_key_bytes"),
      avg(length(col("item").cast("string"))).as("i_key_bytes")).head()
    RatingStats(
      nRatings = row.getLong(0),
      nUsers = row.getLong(1),
      nItems = row.getLong(2),
      minRating = row.getDouble(3),
      maxRating = row.getDouble(4),
      meanRating = row.getDouble(5),
      avgUserKeyBytes = if (row.isNullAt(6)) 0.0 else row.getDouble(6),
      avgItemKeyBytes = if (row.isNullAt(7)) 0.0 else row.getDouble(7))
  }
}

/** What [[Encoding.keyed]] sets up for a trainer.
  *
  * @param slice   the persisted, coalesced, non-null-key slice
  * @param stats   its global statistics, with the measured key widths
  * @param rated   its rows with a non-null rating
  * @param userDim (user, u_id), a fresh checkpoint the trainer owns
  * @param itemDim (item, i_id), likewise
  * @param width   [[Encoding.width]] under the trainer's override
  */
final class Keyed private[encode] (
    val slice: DataFrame,
    val stats: RatingStats,
    val rated: Long,
    val userDim: FreshCheckpoint,
    val itemDim: FreshCheckpoint,
    val width: BigInt => Int,
    capBytes: Long) {

  /** `table`, one row per user (`users`) or per item such as a dim or a
    * bias table, hinted for broadcast while that dim's estimated bytes
    * fit the cap: the dims are checkpoints with no planner estimates, so
    * the gate cannot be left to auto-broadcast.
    */
  def gate(table: DataFrame, users: Boolean): DataFrame =
    Encoding.gate(table, if (users) stats.userDimBytes else stats.itemDimBytes, capBytes)

  /** `facts` with `u_id` for its `user`, and for each (key column, id
    * column) of `itemKeys` (default `item` to `i_id`) the item id: inner
    * equi-joins with the gated dims.
    */
  def encode(facts: DataFrame, itemKeys: (String, String)*): DataFrame =
    (if (itemKeys.isEmpty) Seq("item" -> "i_id") else itemKeys)
      .foldLeft(facts.join(gate(userDim.df, users = true), Seq("user"))) {
        case (df, (key, id)) =>
          df.join(gate(itemDim.df.select(col("item").as(key), col("i_id").as(id)),
            users = false), Seq(key))
      }

  /** Drops the slice; the dims stay with the trainer (its Model's states
    * or its final checkpoints release them).
    */
  def release(): Unit = slice.unpersist()
}

/** Driver-side scalars of the fit (reference `models/als.py:35-41`) —
  * six doubles/longs, the only model state that legitimately lives on the
  * driver.
  */
final case class RatingStats(
    nRatings: Long,
    nUsers: Long,
    nItems: Long,
    minRating: Double,
    maxRating: Double,
    meanRating: Double,
    // average UTF-8-ish key widths (avg(length(key))) — inputs to the
    // Encoding.dimBytes broadcast gates; defaults keep hand-built
    // fixtures (tests) source-compatible
    avgUserKeyBytes: Double = 32.0,
    avgItemKeyBytes: Double = 32.0) {

  /** Estimated broadcast bytes of the (user key, id) dimension. */
  def userDimBytes: Long = Encoding.dimBytes(nUsers, avgUserKeyBytes + 8.0)

  /** Estimated broadcast bytes of the (item key, id) dimension. */
  def itemDimBytes: Long = Encoding.dimBytes(nItems, avgItemKeyBytes + 8.0)
}
