package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.dedup.Dedup

/** Continuous exact substring dedup — the streaming face of
  * [[graft.dedup.Dedup.substringDedup]] (Lee et al. 2022 span
  * removal): each micro-batch's rolling w-gram hashes elect
  * within-batch owners and probe the gram index of everything
  * admitted before; every non-owner occurrence covers its w token
  * positions, survivors reassemble, and the batch's OWNED gram
  * hashes fold into the index append-only. Under ordered ingest the
  * result is identical to the batch operator over the full corpus —
  * q102 is hash-gated against q99's oracle.
  *
  * Index = one md5 string per distinct gram ever admitted, in a
  * bucketed parquet table: probe and fold shuffle O(batch grams) per
  * trigger. Same foreachBatch discipline as [[StreamingDedup]]
  * (cloned-session reads/writes, localCheckpoint before the table
  * mutates), and the same replay guard as
  * [[StreamingParagraphDedup]]: index rows carry their writing
  * batchId, the probe reads only `batch_id < currentBatchId`, so an
  * at-least-once REPLAY probes the exact pre-batch index instead of
  * self-matching its own failed attempt's grams; `distinct` (no
  * exchange on the h-bucketed scan) absorbs re-append duplicates.
  * As there, the guard assumes one checkpoint lineage
  * ([[StandingTable]]), and pre-batch_id tables are rejected at start,
  * naming [[StandingTable.migrateLegacy]].
  */
object StreamingSubstringDedup {

  def start(docs: DataFrame, idCol: String, textCol: String,
      indexTable: String, windowTokens: Int = 50)
      (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    require(windowTokens >= 2, "windowTokens must be >= 2")
    val w = windowTokens
    val index = StandingTable.open(docs.sparkSession, indexTable,
      StructType(Seq(StructField("h", StringType))), Some("h"))
    StandingTable.foreachBatch(docs, indexTable) {
      (batch: DataFrame, batchId: Long) =>
        // replay guard: see StreamingParagraphDedup — earlier batches
        // only, distinct absorbs a failed attempt's re-appends
        val admitted = index.before(batch.sparkSession, batchId)
          .select("h").distinct()
        val probed = Dedup.rollingGrams(batch, idCol, textCol, w)
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))))
          .join(admitted.withColumn("__hit", lit(true)), Seq("h"), "left")
          .localCheckpoint()
        val covered = Dedup.coveredPositions(probed
          .filter(col("__rn") > 1 || col("__hit").isNotNull)
          .select(col("doc_id"), col("pos").as("start"),
            (col("pos") + (w - 1)).as("end")))
        val out = Dedup.reassembleTokens(batch, idCol, textCol, covered)
          .localCheckpoint()
        // grams first OWNED in this batch enter the index
        index.append(probed
          .filter(col("__rn") === 1 && col("__hit").isNull)
          .select(col("h")).distinct()
          .localCheckpoint(), batchId)
        onBatch(out, batchId)
    }
  }
}
