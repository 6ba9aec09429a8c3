package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.WordPiece

/** Continuous UNK-drift coverage — the streaming twin of
  * [[graft.text.WordPiece.coverageReport]]: per-source tokenizer
  * coverage (`n_words`, `n_unk_words`, `n_pieces` under a FROZEN
  * vocabulary) folded live on the ingest stream, so the retrain
  * trigger signal (a source's UNK rate drifting up) fires while data
  * arrives instead of at the next batch audit.
  *
  * All three statistics are SUMS, so this is the sum-merge fold class
  * ([[StreamingSketches.startCm]]'s scaladoc taxonomy): an
  * at-least-once foreachBatch replay would double-count a naive
  * running total, so each batch's per-source sums land in a
  * `batch_id`-partitioned table ([[StandingTable.foldPartition]]: a
  * replay overwrites exactly its own partition) and the read-time
  * view sums across batches. Per-trigger cost is one O(batch)
  * coverage pass + a ≤|sources|-row write; nothing ingested earlier
  * is ever re-read or re-tokenized.
  */
object StreamingWordPiece {

  final case class Run(
      query: StreamingQuery,
      /** None before the first trigger creates the table. */
      coverage: () => Option[DataFrame])

  /** The read-time view of the fold table: per-source totals over
    * every folded batch.
    */
  def coverageOf(folded: DataFrame, groupCol: String): DataFrame =
    folded.groupBy(col(groupCol)).agg(
      sum(col("n_words")).as("n_words"),
      sum(col("n_unk_words")).as("n_unk_words"),
      sum(col("n_pieces")).as("n_pieces"))

  /** Start the rolling coverage stream. `onBatch(totals, batchId)`
    * receives the per-source totals-so-far after each trigger (safe
    * to collect: ≤|sources| rows).
    */
  def startCoverage(stream: DataFrame, groupCol: String, textCol: String,
      v: WordPiece.Vocab, table: String)
      (onBatch: (DataFrame, Long) => Unit): Run = {
    val caller = stream.sparkSession
    val folded = StandingTable(table)
    val query = StandingTable.foreachBatch(stream, table) {
      (batch: DataFrame, batchId: Long) =>
        // table ops through the stream's CLONED session — the
        // StreamingDedup relation-cache lesson
        folded.foldPartition(
          WordPiece.coverageReport(batch, groupCol, textCol, v), batchId)
        onBatch(coverageOf(batch.sparkSession.table(table), groupCol), batchId)
    }
    Run(query,
      coverage = () => folded.read(caller).map(coverageOf(_, groupCol)))
  }
}
