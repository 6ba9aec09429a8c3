package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.pipeline.Curation

/** Continuous SemDeDup — the streaming face of
  * [[graft.pipeline.Curation.semanticDedupFixed]]: each micro-batch
  * assigns its embeddings to the FROZEN centroids, compares them by
  * exact fixed-point cosine against (a) smaller-id batch-mates and
  * (b) the cluster-bucketed index of everything SEEN so far, reports
  * per-doc verdicts (`dup_of` = the minimum smaller-id ≥threshold
  * neighbor, NULL = survivor), and folds the batch into the index.
  *
  * Index = ALL seen embeddings, not just survivors — deliberately
  * different from [[StreamingDedup]]'s survivor-only LSH index. The
  * batch operator's min-id policy drops a doc when ANY smaller-id
  * neighbor exists, surviving or not (a dropped doc still owns later
  * arrivals), so matching it stream-side needs the full fingerprint
  * set. With that index, an id-ordered ingest (each batch's ids all
  * larger than every earlier batch's — the natural shape of
  * monotonically-keyed crawl feeds) makes the stream's verdicts
  * EQUAL to the batch operator's on the union corpus, which is what
  * lets q169 share q168's oracle; out-of-order ingest degrades
  * gracefully to "min smaller-id neighbor among those seen first"
  * (keep-first), never to a wrong cosine.
  *
  * Scale shape: the state table is bucketed by `cluster`, so the
  * per-batch probe join needs NO index-side exchange, and the
  * per-batch shuffle volume is O(batch × cluster-mates) — the
  * SemDeDup candidate bound, Σ|c ∩ batch|·|c|, never index×index.
  * The replay self-presence check rides the SAME cluster-keyed join
  * (max(owner_id == id)), so the fold's anti-join runs against a
  * batch-sized relation instead of an O(index) id-keyed pass. The
  * per-cluster fan-out shares the batch operator's skew exposure; a
  * mega-cluster corpus should pre-split its centroids (more, finer
  * centroids) or apply the batch operator's Rademacher sub-bucket
  * guard to the index key — not needed at any tested scale.
  *
  * Replay safety (the [[StreamingDedup]] discipline): index rows
  * carry the batchId that wrote them and ownership reads only
  * `batch_id < currentBatchId`, so an at-least-once replay probes
  * exactly the pre-batch index (its own failed-attempt rows are
  * invisible as owners but ARE seen by the self-presence check, so
  * nothing re-appends). Null/short vectors land in the reserved
  * cluster −1: never compared, never indexed, always survivors.
  */
object StreamingSemanticDedup {

  final case class Run(
      query: StreamingQuery,
      /** Current index contents (fresh plan per call). */
      finalIndex: () => DataFrame)

  private def indexSchema(idType: DataType): StructType = StructType(Seq(
    StructField("id", idType),
    StructField("cluster", LongType),
    StructField("vf", ArrayType(LongType, containsNull = false))))

  /** Create the cluster-bucketed index (`indexBuckets` only sizes a NEW
    * table) or require the batch_id column of an existing one.
    */
  private def open(spark: SparkSession, table: String, idType: DataType,
      indexBuckets: Int): StandingTable =
    StandingTable.open(spark, table, indexSchema(idType), Some("cluster"),
      indexBuckets)

  /** Fold one batch into the index table and return its verdicts
    * `(id, cluster, dup_of)` — the direct replay/out-of-order test
    * surface, and the path a backfill job uses to seed the table.
    * The returned plan is append-safe: everything index-derived in it
    * is pinned by an internal checkpoint before the table mutates.
    */
  def foldBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], thresholdFp: Long,
      table: String, indexBuckets: Int, batchId: Long): DataFrame =
    fold(spark, batch, idCol, vecCol, centroids, thresholdFp,
      open(spark, table, batch.schema(idCol).dataType, indexBuckets), batchId)

  private def fold(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], thresholdFp: Long,
      table: StandingTable, batchId: Long): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val F = graft.functions.FixedAnnExpressions
    val asg = batch.select(col(idCol).as("id"),
      Curation.assignFixedCentroids(col(vecCol), centroids).as("cluster"),
      F.fixedPoint(F.unitVec(col(vecCol))).as("vf"))
      .localCheckpoint()
    val index = spark.table(table.name)
    val live = asg.filter(col("cluster") >= 0)
    val probeSide = live.select(col("cluster"), col("id"), col("vf"))

    // ONE cluster-keyed join against the FULL table serves both the
    // ownership probe (owners gated to batch_id < batchId — the replay
    // guard) and the self-presence check (owner_id == id at ANY
    // batch_id → already folded, don't re-append). Checkpointed: the
    // append below changes the table's file listing, and a lazy plan
    // would re-probe the mutated table.
    val idxAgg = probeSide
      .join(index.select(col("cluster"), col("id").as("owner_id"),
        col("vf").as("owner_vf"), col("batch_id").as("owner_batch")),
        Seq("cluster"), "left")
      .groupBy(col("id"))
      .agg(
        min(when(col("owner_id") < col("id") &&
          col("owner_batch") < lit(batchId) &&
          F.longDot(col("vf"), col("owner_vf")) >= thresholdFp,
          col("owner_id"))).as("idx_owner"),
        max(when(col("owner_id") === col("id"), lit(1))
          .otherwise(lit(0))).as("already"))
      .localCheckpoint()

    // smaller-id batch-mates: the in-batch half of the candidate set
    val inBatchAgg = probeSide
      .join(live.select(col("cluster"), col("id").as("owner_id"),
        col("vf").as("owner_vf")), Seq("cluster"))
      .filter(col("owner_id") < col("id"))
      .filter(F.longDot(col("vf"), col("owner_vf")) >= thresholdFp)
      .groupBy(col("id")).agg(min(col("owner_id")).as("batch_owner"))

    // least() skips nulls: the verdict owner is the minimum over both
    // candidate halves; cluster −1 rows join nothing and stay NULL
    val verdicts = asg.select(col("id"), col("cluster"))
      .join(idxAgg.select(col("id"), col("idx_owner")), Seq("id"), "left")
      .join(inBatchAgg, Seq("id"), "left")
      .withColumn("dup_of", least(col("batch_owner"), col("idx_owner")))
      .select(col("id"), col("cluster"), col("dup_of"))

    // fold EVERY live batch doc not already present (batch-sized
    // anti-join — `already` came from the probe join above)
    val newRows = live
      .join(idxAgg.filter(col("already") === 1).select(col("id")),
        Seq("id"), "left_anti")
    table.append(newRows, batchId)
    verdicts
  }

  /** Start the continuous dedup stream. `onBatch(verdicts, batchId)`
    * receives every micro-batch's `(id, cluster, dup_of)` rows.
    */
  def start(stream: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], thresholdFp: Long,
      indexTable: String, indexBuckets: Int = 32)
      (onBatch: (DataFrame, Long) => Unit): Run = {
    val caller = stream.sparkSession
    val index = open(caller, indexTable, stream.schema(idCol).dataType,
      indexBuckets)
    val query = StandingTable.foreachBatch(stream, indexTable) {
      (batch: DataFrame, batchId: Long) =>
        // fold through the BATCH's session (the stream's clone —
        // appends refresh its relation cache, the verify-skill gotcha)
        onBatch(fold(batch.sparkSession, batch, idCol, vecCol, centroids,
          thresholdFp, index, batchId), batchId)
    }
    Run(query, finalIndex = () => index.read(caller).get)
  }

  /** ID-ORDERED ingest under OUT-OF-ORDER arrival — the watermark-
    * buffered variant the class doc's ordered-ingest contract calls
    * for (the [[StreamingPrep.packSequencesOrdered]] precedent applied
    * to the index-fold family). Arrivals buffer in keyed state under
    * the id-derived event time `(id+1) seconds` (for THIS operator the
    * id-derived time is not a proxy but the point: the min-id policy
    * is an id-order property, so release order must follow ids); a row
    * releases only once the watermark passes its event time, and rows
    * at-or-behind the watermark are dropped by Spark — so each
    * trigger's released ids are strictly greater than every previously
    * released id, which upgrades "ordered ingest = exact batch
    * semantics" from a caller contract to a property the operator
    * enforces for ANY interleaving inside the watermark horizon.
    *
    * Trades (the standard watermark ones): verdicts are delayed by
    * `delay`, arrivals later than the horizon are dropped (size
    * `delay` to the ingest's real disorder bound), and rows still
    * inside the horizon when the stream idles stay buffered until a
    * later arrival advances the watermark (q83's sentinel pattern
    * drains a bounded test stream). State is O(rows inside the
    * horizon) across `shards` state keys — bounded by disorder, never
    * by stream length. Requires non-negative ids and a FLOAT-array
    * vector column (the typed state encoder; the fold itself is
    * type-agnostic).
    */
  def startOrdered(stream: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], thresholdFp: Long,
      indexTable: String, indexBuckets: Int = 32,
      delay: String = "60 seconds", shards: Int = 32)
      (onBatch: (DataFrame, Long) => Unit): Run = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val caller = stream.sparkSession
    import caller.implicits._
    val ds = stream
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("float")).as("v"),
        // +1: rows AT the watermark are dropped (boundary inclusive)
        // and the watermark starts at 0 — id 0 must sit above it
        timestamp_micros((col(idCol).cast("long") + 1) * lit(1000000L))
          .as("ts"))
      .withWatermark("ts", delay)
      .as[(Long, Seq[Float], java.sql.Timestamp)]
    val ordered = ds.groupByKey(r => r._1 % shards)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[(Long, Seq[Float], java.sql.Timestamp)],
         state: GroupState[Seq[(Long, Seq[Float])]]) =>
          val buf = state.getOption.getOrElse(Nil) ++
            rows.map(r => (r._1, r._2))
          val wmMs = state.getCurrentWatermarkMs()
          // ready = ids whose event time the watermark passed: no
          // earlier id can still arrive, their position is final
          val (ready, hold) = buf.sortBy(_._1)
            .partition { case (id, _) => (id + 1) * 1000L <= wmMs }
          if (hold.nonEmpty) {
            state.update(hold)
            // re-arm strictly past the current watermark so the shard
            // drains once the watermark can release the earliest hold
            state.setTimeoutTimestamp(
              math.max(wmMs + 1, (hold.head._1 + 1) * 1000L + 1))
          } else state.remove()
          ready.iterator
      }
      .toDF("id", "v")
    val index = open(caller, indexTable, LongType, indexBuckets)
    val query = StandingTable.foreachBatch(ordered, indexTable) {
      (batch: DataFrame, batchId: Long) =>
        onBatch(fold(batch.sparkSession, batch, "id", "v", centroids,
          thresholdFp, index, batchId), batchId)
    }
    Run(query, finalIndex = () => index.read(caller).get)
  }
}
