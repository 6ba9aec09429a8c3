package graft.encode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dense-ID encoding and global statistics (SURVEY §2.5, §1.3).
  *
  * The reference builds driver-local Python dicts `u_mapping`/`i_mapping`
  * (reference `models/als.py:29-32`) — its single worst 100-TB bottleneck.
  * Here the mapping IS a distributed dimension table `(key, id)`; encoding
  * is a join (broadcast when the dimension is small, shuffle otherwise),
  * decoding is the same join the other way. Nothing ever lands on the
  * driver.
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
    * driver) — callers that know the exact key counts use the gated
    * overload below, which keeps the hint's plan stability without
    * the blow-up.
    */
  def encode(ratings: DataFrame, userDim: DataFrame, itemDim: DataFrame): DataFrame =
    ratings
      .join(userDim, Seq("user"))
      .join(itemDim, Seq("item"))

  /** [[encode]] with explicit, size-gated broadcast hints — for fit
    * paths whose dims are fresh-checkpointed (planner estimates are
    * unavailable there, so auto-broadcast can't engage) and whose key
    * counts are already known from a stats/probe pass (zero extra
    * jobs). Each dim is hinted only while its estimated bytes fit
    * `thresholdBytes`; an oversized dim degrades to a shuffle join
    * instead of a driver OOM (the [[dimBytes]] estimate, SURVEY
    * §1.3).
    */
  def encode(ratings: DataFrame, userDim: DataFrame, itemDim: DataFrame,
      userDimBytes: Long, itemDimBytes: Long,
      thresholdBytes: Long): DataFrame = {
    def gate(df: DataFrame, est: Long): DataFrame =
      if (est <= thresholdBytes) broadcast(df) else df
    ratings
      .join(gate(userDim, userDimBytes), Seq("user"))
      .join(gate(itemDim, itemDimBytes), Seq("item"))
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
