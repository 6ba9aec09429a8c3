package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.prep.Prep

/** Continuous time-series resampling — the streaming face of
  * [[graft.prep.Prep.resampleLocf]]: each micro-batch appends its
  * per-(key, bucket) LAST-observation maxima to a parquet state table;
  * the LOCF expansion is a read-time view over the globally-elected
  * maxima.
  *
  * Replay safety comes FREE (the [[StreamingSketches.startHll]]
  * max-merge class): the last-observation election is `max(struct(t,
  * tie, value))` — idempotent AND commutative — so an at-least-once
  * replay appends duplicate maxima that the read-time election
  * absorbs, and out-of-order batches converge to exactly the batch
  * answer. No batchId guard, no ordering assumption.
  *
  * Per-trigger cost: one O(batch) bucketing pass + a ≤|batch
  * (key, bucket) pairs|-row append — nothing existing is re-read.
  * Appended files are ordinary lake maintenance
  * ([[graft.io.Lake.compact]] between runs, the StreamingDedup
  * discipline).
  */
object StreamingResample {

  final case class Run(
      query: StreamingQuery,
      /** The resampled + LOCF-filled table-so-far (fresh plan per
        * call — reads the state table's current contents); None
        * before the first trigger creates the table.
        */
      result: () => Option[DataFrame])

  def start(stream: DataFrame, keyCol: String, tsUsCol: Column,
      valueCol: String, tieCol: String, intervalUs: Long,
      table: String)(onBatch: (Long) => Unit): Run = {
    val caller = stream.sparkSession
    val query = StandingTable.foreachBatch(stream, table) {
      (batch: DataFrame, batchId: Long) =>
        // write through the BATCH's session (the stream's clone —
        // appends refresh its relation cache, the verify-skill gotcha)
        foldBatch(batch.sparkSession, batch, keyCol, tsUsCol, valueCol,
          tieCol, intervalUs, table)
        onBatch(batchId)
    }
    Run(query, result = () => StandingTable(table).read(caller).map(t =>
      Prep.locfExpand(
        t.groupBy(col("key"), col("bucket")).agg(max(col("o")).as("o")),
        intervalUs)))
  }

  /** Direct fold of a static batch into the state table — the replay/
    * out-of-order test surface, and the path a backfill job uses to
    * seed the table before the stream starts. Rows are tagged
    * `batch_id = -1` whichever batch folds them: the max election is
    * order-free, so no replay guard ever reads the tag.
    */
  def foldBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
      tsUsCol: Column, valueCol: String, tieCol: String,
      intervalUs: Long, table: String): Unit =
    StandingTable(table).append(
      Prep.resampleObserved(batch, keyCol, tsUsCol, valueCol, tieCol,
        intervalUs)
        .groupBy(col("key"), col("bucket")).agg(max(col("o")).as("o")),
      -1L)
}
