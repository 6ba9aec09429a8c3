package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.Profiling

/** Continuous vocabulary-drift monitoring — the streaming face of
  * [[graft.pipeline.Profiling.vocabDrift]] and the LIVE form of the
  * retrain trigger: "is the ingest stream's token distribution
  * walking away from the corpus the tokenizer/model was built on?"
  *
  * The reference corpus's counts are FROZEN at stream start (the
  * frozen-model discipline — a drift monitor that re-derives its
  * baseline per trigger would chase its own tail). Each micro-batch
  * pays one tokenize+count aggregate (vocabulary-sized result) folded
  * into a `batch_id`-partitioned table
  * ([[StandingTable.foldPartition]], the q130 sum-merge class — an
  * at-least-once replay overwrites its OWN partition and cannot
  * double-count). The drift
  * report re-aggregates the vocabulary-sized state and runs
  * [[Profiling.vocabDriftFromCounts]] against the frozen baseline —
  * counts commute, so the report equals the batch operator over
  * everything ingested regardless of batch order (q192 shares q182's
  * oracle verbatim).
  */
object StreamingVocabDrift {

  final case class Run(
      query: StreamingQuery,
      drift: () => Option[DataFrame])

  /** Start the drift stream over `stream`'s `textCol` against the
    * static `reference` corpus. `onBatch(drift, batchId)` receives
    * the report-so-far after each trigger.
    */
  def start(stream: DataFrame, textCol: String, reference: DataFrame,
      refTextCol: String, table: String, topK: Int,
      factorNum: Long = 2L, factorDen: Long = 1L)
      (onBatch: (DataFrame, Long) => Unit): Run = {
    val caller = stream.sparkSession
    // freeze the baseline ONCE — vocabulary-sized, materialized so
    // per-trigger reports never rescan the reference corpus
    val refCounts = Profiling.tokenCounts(reference, refTextCol, "cnt_a")
      .localCheckpoint()
    val counts = StandingTable(table)
    def report(folded: DataFrame): DataFrame =
      Profiling.vocabDriftFromCounts(refCounts,
        folded.groupBy(col("token")).agg(sum(col("cnt_b")).as("cnt_b")),
        topK, factorNum, factorDen)
    val query = StandingTable.foreachBatch(stream, table) {
      (batch: DataFrame, batchId: Long) =>
        // table ops through the stream's CLONED session — the
        // StreamingDedup relation-cache lesson
        counts.foldPartition(
          Profiling.tokenCounts(batch, textCol, "cnt_b"), batchId)
        onBatch(report(batch.sparkSession.table(table)), batchId)
    }
    Run(query, drift = () => counts.read(caller).map(report))
  }
}
