package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.PortableSketches

/** Continuous corpus statistics — the streaming face of
  * [[graft.pipeline.PortableSketches]]: each micro-batch's registers
  * fold into the running sketch, so cardinality over everything ever
  * ingested is available after every trigger without any rescan.
  *
  * Replay safety comes FREE here, unlike the dedup indexes: HLL's
  * merge is `max` per bucket, which is idempotent — an at-least-once
  * foreachBatch replay folds the same registers twice and changes
  * nothing, so no batchId guard is needed (contrast
  * [[StreamingDedup]]'s `batch_id < current` probe). This is the
  * general rule for streaming sketch folds: max-merge sketches (HLL,
  * bottom-k) are replay-idempotent; sum-merge sketches (Count-Min,
  * histograms) would double-count on replay and need an idempotent
  * sink (e.g. per-batch register tables keyed by batchId, summed at
  * read time) — documented here, implemented for the idempotent case.
  *
  * State is at most 2^p rows, held as a persisted frame and replaced
  * per batch (the previous generation is unpersisted once the new one
  * is materialized — the [[StreamingDedup]] in-memory pattern).
  */
object StreamingSketches {

  final case class Run(
      query: StreamingQuery,
      registers: () => Option[DataFrame],
      release: () => Unit)

  /** Start the rolling-HLL stream. `onBatch(registers, batchId)`
    * receives the registers-so-far after each trigger (safe to
    * collect: ≤ 2^p rows).
    */
  def startHll(stream: DataFrame, key: Column, p: Int = 12)
      (onBatch: (DataFrame, Long) => Unit): Run = {
    // one mutable reference, only touched inside foreachBatch (which
    // Structured Streaming serializes batch-over-batch).
    // localCheckpointFresh per generation, NOT persist: a persisted
    // chain nests one union+aggregate of lineage per trigger — the
    // plan grows without bound over the stream's lifetime and an
    // evicted block would recompute through already-unpersisted
    // generations (the pageRankFixed / GdMf compounding-lineage
    // lesson); the fresh checkpoint truncates lineage each trigger
    // and the retired generation's blocks release immediately.
    import org.apache.spark.sql.graftbridge.DatasetBridge
    var regs: DatasetBridge.FreshCheckpoint = null
    val query = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = PortableSketches.hllRegisters(batch, key, p)
        val merged = DatasetBridge.localCheckpointFresh(
          if (regs == null) b else PortableSketches.hllMerge(regs.df, b))
        val old = regs
        regs = merged
        if (old != null) old.release()
        onBatch(merged.df, batchId)
      }
      .start()
    Run(query,
      registers = () => Option(regs).map(_.df),
      release = () => Option(regs).foreach(_.release()))
  }

  /** Continuous Count-Min — the sum-merge case [[startHll]]'s scaladoc
    * promises: per-batch cells land in a `batch_id`-partitioned table
    * (each batch's fold is a dynamic overwrite of its OWN partition,
    * so at-least-once replays are absorbed by construction), and the
    * read-time view sums cells across batches. Per-trigger cost is
    * one O(batch) sketch pass + a ≤ depth·width-row write; nothing
    * existing is re-read.
    */
  def startCm(stream: DataFrame, key: Column, table: String,
      depth: Int = 4, width: Int = 1024)
      (onBatch: (DataFrame, Long) => Unit): Run = {
    val caller = stream.sparkSession
    val cells = StandingTable(table)
    def sums(t: DataFrame): DataFrame =
      t.groupBy("row", "col").agg(sum(col("cnt")).as("cnt"))
    val query = StandingTable.foreachBatch(stream, table) {
      (batch: DataFrame, batchId: Long) =>
        // table ops through the stream's CLONED session — the
        // StreamingDedup relation-cache lesson
        cells.foldPartition(
          PortableSketches.cmSketch(batch, key, depth, width), batchId)
        onBatch(sums(batch.sparkSession.table(table)), batchId)
    }
    Run(query,
      // None until the first batch creates the table — the same
      // pre-first-trigger contract as startHll's registers()
      registers = () => cells.read(caller).map(sums),
      release = () => ())
  }
}
