package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Stats-free eager local checkpoint.
  *
  * Spark 4's `Dataset.localCheckpoint` builds the replacement
  * `LogicalRDD` via `rewriteStatsAndConstraints`, which COPIES the
  * estimated statistics of the plan being cut into the new leaf. In an
  * iterative loop (checkpoint → join/aggregate → checkpoint → …) each
  * epoch's size-in-bytes estimate is a *product* over children that
  * include the previous epoch's leaf, so the carried `BigInt` compounds
  * geometrically — its digit count roughly doubles per epoch, and by
  * ~epoch 16 Catalyst's stats visitor spends MINUTES in
  * `BigInteger.multiply` (measured: a 20-epoch fit went from ~40 s of
  * real work to 25+ min of driver CPU inside
  * `SizeInBytesOnlyStatsPlanVisitor`).
  *
  * [[localCheckpointFresh]] reproduces what `localCheckpoint(true)`
  * does mechanically — materialize `queryExecution.toRdd` under a local
  * checkpoint — but rebuilds the DataFrame with
  * `internalCreateDataFrame`, whose `LogicalRDD` takes the DEFAULT leaf
  * statistics instead of the inherited ones. Loop operators that force
  * their own join strategies (broadcast hints) lose nothing from the
  * default stats, and the estimate can no longer snowball.
  */
object DatasetBridge {

  // rows: the count the materializing job returned
  final case class FreshCheckpoint(df: DataFrame, rdd: RDD[InternalRow], rows: Long) {
    /** Drop the checkpointed blocks (old epochs' state). Non-blocking. */
    def release(): Unit = rdd.unpersist(blocking = false)
  }

  def localCheckpointFresh(df: DataFrame): FreshCheckpoint =
    checkpointRows(df.sparkSession, df.queryExecution.toRdd.map(_.copy()), df.schema)

  /** `df.localCheckpoint()` as Spark builds it (the frame keeps `df`'s
    * partitioning, ordering and statistics), whose one materializing
    * job also counts the rows and, when there are at most `maxRows` of
    * them, returns them to the driver as well. Each task ships its rows
    * only while it holds at most its even share of `maxRows`, so the
    * driver never receives more than `maxRows` rows; a skewed relation
    * that would fit comes back as None, like one that does not fit.
    */
  def localCheckpointCollect(df: DataFrame, maxRows: Long)
      : (FreshCheckpoint, Option[Array[InternalRow]]) = {
    import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val share = maxRows / math.max(1, rdd.getNumPartitions)
      // this collect is the RDD's first action: it computes (and, via
      // the localCheckpoint mark, caches) every partition, as the count
      // in checkpointRows does
      val parts = rdd.mapPartitions { it =>
        val kept = Array.newBuilder[InternalRow]
        var n = 0L
        while (it.hasNext) {
          val r = it.next()
          n += 1L
          if (n <= share) kept += r
        }
        Iterator.single((n, if (n <= share) kept.result() else null))
      }.collect()
      val rows = parts.map(_._1).sum
      val cut = org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, ds.isStreaming).newInstance())
      (FreshCheckpoint(cut, rdd, rows),
        Option.when(rows <= maxRows && parts.forall(_._2 != null))(parts.flatMap(_._2)))
    }
  }

  /** [[localCheckpointFresh]]'s cut of rows already produced as an RDD
    * of `schema` (e.g. by GdMf's epoch kernel). */
  def checkpointRows(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): FreshCheckpoint = {
    rdd.localCheckpoint()
    val rows = rdd.count() // eager: materialize the cut now, like localCheckpoint(true)
    FreshCheckpoint(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema), rdd, rows)
  }

  /** `df` as a frame over its final-stage RDD, with the same schema and
    * `df`'s estimated statistics. Building that RDD under adaptive
    * execution runs every shuffle map stage of `df`'s plan now, once;
    * each later job over the returned frame (persisted or not) reads
    * the same shuffle files, so frames derived from it share that work
    * with no cache to release. The plan's partitions stay as AQE left
    * them, whatever a consumer persists.
    */
  def shuffledOnce(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    org.apache.spark.sql.classic.Dataset.ofRows(spark,
      org.apache.spark.sql.execution.LogicalRDD(
        DataTypeUtils.toAttributes(df.schema), qe.toRdd)(
        spark, originStats = Some(qe.optimizedPlan.stats)))
  }

  /** [[localCheckpointFresh]] whose materialization action ALSO returns
    * `(count, xor of xxhash64(col0, col1))` over the checkpointed rows —
    * for iterative loops that detect convergence by relation checksum
    * (Dedup.clustersStar). The separate `agg(count, bit_xor(xxhash64))`
    * job those loops ran per round re-read the just-written blocks; here
    * the one job that caches the blocks computes the checksum as it
    * goes, halving the per-round job count. The hash is bit-identical
    * to SQL `xxhash64(c0, c1)` (same XXH64 chain, seed 42; a NULL input
    * leaves the running hash unchanged, like the SQL expression), so
    * the convergence semantics are exactly the old ones.
    *
    * Requires a two-column LongType schema.
    */
  def localCheckpointFreshChecksum(df: DataFrame): (FreshCheckpoint, (Long, Long)) = {
    import org.apache.spark.sql.types.LongType
    require(df.schema.length == 2 &&
      df.schema.forall(_.dataType == LongType),
      s"checksum checkpoint needs (long, long) rows, got ${df.schema}")
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    import org.apache.spark.sql.catalyst.expressions.XXH64
    // the collect below is this RDD's first action: it computes (and,
    // via the localCheckpoint mark, caches) every partition — the same
    // materialization barrier as the count() above, plus the fold
    val (cnt, xor) = rdd.mapPartitions { it =>
      var c = 0L
      var x = 0L
      while (it.hasNext) {
        val r = it.next()
        c += 1L
        var h = 42L
        if (!r.isNullAt(0)) h = XXH64.hashLong(r.getLong(0), h)
        if (!r.isNullAt(1)) h = XXH64.hashLong(r.getLong(1), h)
        x ^= h
      }
      Iterator.single((c, x))
    }.collect().foldLeft((0L, 0L)) { case ((c1, x1), (c2, x2)) =>
      (c1 + c2, x1 ^ x2)
    }
    (FreshCheckpoint(spark.internalCreateDataFrame(rdd, df.schema), rdd, cnt),
      (cnt, xor))
  }
}
