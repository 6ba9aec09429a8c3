package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.dedup.Dedup

/** Continuous paragraph-level exact dedup — the streaming face of
  * [[graft.dedup.Dedup.paragraphDedup]]: each micro-batch's lines are
  * deduped within the batch (keep-first in (doc_id, para_no) order),
  * probed against the md5 line-hash index of everything ADMITTED
  * before, and the surviving lines reassemble the batch's documents;
  * kept hashes fold into the index append-only. When ingest delivers
  * doc_ids in order, the result is IDENTICAL to the batch operator
  * over the full corpus — which is why the registered query (q101) is
  * hash-gated against the same DuckDB oracle as q97, where every
  * MinHash streaming twin can only be rows-only.
  *
  * Index = one md5 string per distinct non-empty normalized line, in
  * a parquet table bucketed by hash: the probe anti-join needs no
  * exchange on the index side and each batch appends only its new
  * hashes — O(batch) shuffle per trigger, the same posture as
  * [[StreamingDedup]]'s bucketed mode. Empty/whitespace lines are
  * structural: always kept, never indexed (the corpus-wide empty-line
  * hash would be a hot key AND a wrong dedup).
  *
  * Same foreachBatch discipline as [[StreamingDedup]] (learned
  * empirically there): all reads/writes of the table go through the
  * batch's cloned session, and every result that outlives the append
  * is localCheckpoint'd first.
  *
  * Replay safety: foreachBatch is AT-LEAST-ONCE — a failure between
  * the index append and the caller's sink commit replays the batch
  * against an index that already contains its own hashes. Index rows
  * therefore carry the batchId that wrote them, and the probe reads
  * only rows with `batch_id < currentBatchId` — a replayed batch
  * probes exactly the pre-batch index and reproduces its original
  * verdicts. The replay's re-append duplicates (h, batchId) rows in
  * storage; the probe's `distinct` (exchange-free on the h-bucketed
  * table) absorbs them for all later batches.
  *
  * The guard assumes batchIds from ONE checkpoint lineage
  * ([[StandingTable]]): resume this stream over the same table with
  * its checkpoint. Tables created before the batch_id column existed
  * are rejected at start, naming [[StandingTable.migrateLegacy]].
  */
object StreamingParagraphDedup {

  /** Start the stream; `onBatch` receives each micro-batch's
    * reassembled docs as (doc_id, text, n_kept, n_dropped).
    */
  def start(docs: DataFrame, idCol: String, textCol: String,
      indexTable: String, sep: String = "\n")
      (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val index = StandingTable.open(docs.sparkSession, indexTable,
      StructType(Seq(StructField("h", StringType))), Some("h"))
    StandingTable.foreachBatch(docs, indexTable) {
      (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        // replay guard: only hashes admitted by EARLIER batches probe;
        // distinct absorbs re-append duplicates; both it and the probe
        // join are exchange-free on the h-bucketed scan.
        val admitted = index.before(sess, batchId).select("h").distinct()
        val paras = Dedup.explodedParas(batch, idCol, textCol, sep)
        val nonEmpty = paras.filter(!col("__empty"))
        // within-batch keep-first, then the cross-batch probe
        val w = Window.partitionBy(col("__k"))
          .orderBy(col("doc_id"), col("para_no"))
        val batchOwners = nonEmpty
          .withColumn("__rn", row_number().over(w))
        val flagged = batchOwners
          .join(admitted.withColumnRenamed("h", "__k").withColumn("__hit", lit(true)),
            Seq("__k"), "left")
          .withColumn("__keep", col("__rn") === 1 && col("__hit").isNull)
          .drop("__rn", "__hit")
          .unionByName(paras.filter(col("__empty")).withColumn("__keep", lit(true)))
          .localCheckpoint()
        val out = Dedup.reassembleParas(flagged, sep)
          .localCheckpoint()
        // this batch's kept non-empty hashes, appended once
        index.append(flagged
          .filter(col("__keep") && !col("__empty"))
          .select(col("__k").as("h")).distinct()
          .localCheckpoint(), batchId)
        onBatch(out, batchId)
    }
  }
}
