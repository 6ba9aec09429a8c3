package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.dedup.Dedup

/** Continuous incremental near-dup dedup — the streaming face of
  * [[graft.dedup.Dedup.bucketIndex]]/`dedupAgainstIndex`/`newIndexRows`:
  * each micro-batch probes the LSH bucket index of everything ADMITTED
  * so far, reports per-doc verdicts (`dup_of` = earlier owner, NULL =
  * survivor), and folds its survivors into the index for the next
  * batch.
  *
  * Built on `foreachBatch` rather than keyed state on purpose: the
  * natural state key is the LSH *bucket*, but a document's verdict
  * aggregates across its 16 band buckets — a second stateful hop that
  * Structured Streaming does not allow after an arbitrary-stateful
  * operator. The index-as-table formulation sidesteps that, keeps the
  * probe a plain join (same 100 TB shape as batch), and is exactly how
  * production lakehouse dedup maintains its identity index
  * (Delta/Iceberg MERGE per ingest batch).
  *
  * Two index backings:
  *
  *  - `indexTable = Some(tbl)` — THE scale path. The index lives as a
  *    parquet table bucketed by `band_hash`; because index ownership is
  *    append-only (existing owners always win), each batch writes ONLY
  *    its genuinely-new bucket rows (`Dedup.newIndexRows`) as a
  *    bucketed APPEND, and nothing index-sized is re-persisted. The
  *    probe is one left join on (`band`, `band_hash`), which is not the
  *    bucket key alone: an index too big to broadcast is shuffled on
  *    both keys (the plan reads the table with bucketing disabled), so
  *    per-batch shuffle volume is O(index) above the broadcast
  *    threshold. A batch whose join fits that threshold folds its
  *    verdicts and new rows on the driver (`Dedup.probeAndFoldFromSigs`).
  *    Small appended files are ordinary maintenance — use
  *    [[graft.io.Bucketing.compactBucketed]] (offline, between runs),
  *    not `Lake.compact`, which drops the bucket spec the appends
  *    align to.
  *
  *  - `indexTable = None` — in-memory convenience for tests and small
  *    bounded streams: `Dedup.updateIndex` re-merges and re-persists
  *    the full index per batch, O(index) cache churn per trigger. Call
  *    [[Run.release]] after stopping the query to drop the cached
  *    index.
  *
  * Batch-internal duplicates are out of scope here, as in q90's batch
  * contract: compose `minHashPairs` within the batch when needed.
  *
  * Replay safety (bucketed-table mode): foreachBatch is AT-LEAST-ONCE
  * — a failure between the index append and the caller's sink commit
  * replays the batch against an index that already holds its own
  * survivors. Index rows therefore carry the batchId that wrote them
  * and the probe reads only `batch_id < currentBatchId` — a replayed
  * batch probes exactly the pre-batch index and reproduces its
  * original verdicts, INCLUDING for two near-duplicate docs admitted
  * in the same batch (batch-internal dedup is out of scope, so both
  * were survivors; without the guard each would match the other's
  * failed-attempt index row and flip to dup_of its sibling). The
  * fold's anti-join runs against the FULL table (every batch_id), so
  * a replay re-appends only rows the failed attempt did not land —
  * never duplicates. `dedupAgainstIndex` additionally never matches a
  * doc to its OWN entry (owner_id == id means "already admitted"),
  * which covers caller-seeded snapshots of the same corpus.
  *
  * The guard assumes batchIds from ONE checkpoint lineage
  * ([[StandingTable]]): the query is named after the index table, so
  * with `spark.sql.streaming.checkpointLocation` set a restart over the
  * same table resumes its checkpoint. `initialIndex` snapshots are
  * tagged -1 automatically; pre-batch_id tables are rejected at start,
  * naming [[StandingTable.migrateLegacy]]. The in-memory mode's index
  * dies with the JVM, so replay-into-own-state cannot arise there.
  */
object StreamingDedup {

  /** A running dedup stream: the query plus access to (and release of)
    * the index state the stream maintains.
    */
  final case class Run(
      query: StreamingQuery,
      finalIndex: () => Option[DataFrame],
      release: () => Unit)

  private def indexSchema(idType: DataType): StructType = StructType(Seq(
    StructField("owner_id", idType),
    StructField("owner_sig", ArrayType(LongType)),
    StructField("band", IntegerType),
    StructField("band_hash", LongType)))

  /** Start the dedup stream. `onBatch(verdicts, batchId)` receives
    * every micro-batch's rows with their `dup_of` column (the caller
    * routes survivors to the sink of record). In bucketed-table mode
    * the verdict plan is safe to evaluate any number of times, during
    * or after the callback: everything index-derived in it is pinned
    * by an internal checkpoint, so the per-batch table appends can
    * never perturb it (in-memory mode persists verdicts as before).
    */
  def start(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      initialIndex: Option[DataFrame] = None,
      indexTable: Option[String] = None,
      indexBuckets: Int = 32)
      (onBatch: (DataFrame, Long) => Unit): Run = indexTable match {

    case Some(tbl) =>
      val spark = docs.sparkSession
      // indexBuckets only sizes a NEW table; a resumed one keeps its own
      val index = StandingTable.open(spark, tbl,
        indexSchema(docs.schema(idCol).dataType), Some("band_hash"),
        indexBuckets, initialIndex)
      val query = StandingTable.foreachBatch(docs, tbl) {
        (batch: DataFrame, batchId: Long) =>
          // the stream executes in a CLONED SparkSession whose table-
          // relation cache is separate from the caller's: read AND
          // write the index through the batch's own session, or the
          // appends refresh the wrong cache and every later batch
          // probes a stale (empty) file listing (found empirically)
          val fullIndex = batch.sparkSession.table(tbl)
          // The batch's MinHash pass (numPerm permutations over every
          // doc's shingles) is the dominant per-batch CPU. Since the
          // r18 one-join reshape BOTH the probe and the fold read the
          // single checkpointed banded join, so `sigs` has exactly one
          // consumer — it stays LAZY and the minhash pass runs once,
          // inside that join's checkpoint job (the r18 shape still
          // checkpointed sigs separately: one extra job and one extra
          // full pass over the batch per trigger, r19 guide §1.2).
          val sigs = Dedup.sigTable(batch, idCol, textCol, shingleK,
            bands * rowsPerBand)
          // ONE banded left-join against the table serves both the
          // probe (hits with batch_id < batchId — the replay guard)
          // and the fold (unowned buckets → new rows), instead of the
          // earlier probe-join + fold-anti-join double index scan. The
          // join is checkpointed inside probeAndFoldFromSigs: the plan
          // reads the index TABLE, and the append below changes its
          // file listing — a lazy plan would re-probe the mutated
          // table and self-match every survivor (found empirically:
          // batch-0 verdicts [1→1]). Probing the EMPTY table is the
          // uniform first-batch case: no owners, every doc survives.
          // verdicts stay LAZY: their plan derives from the batch
          // source + the join checkpointed inside probeAndFoldFromSigs
          // (or the hits a small batch folded on the driver) — no
          // index-table reference remains, so the append below cannot
          // perturb them and the old pin-before-mutate checkpoint
          // would be a pure extra pass
          val (verdicts, newRows) = Dedup.probeAndFoldFromSigs(batch, sigs,
            fullIndex, batchId, idCol, bands, rowsPerBand, threshold)
          // newRows stays LAZY: it derives only from the checkpointed
          // join (or is a local frame, after a driver fold), so the
          // append below is its single materialization pass (the
          // earlier fold checkpoint was a second full pass before the
          // write). The write itself is
          // bucket-ALIGNED (StandingTable.append): one file per bucket per
          // trigger, parallel across buckets — strictly better than
          // both the earlier unaligned multi-file write and the
          // coalesce(1) single-task variant. Per-trigger bucket files
          // still accumulate across long runs; compact offline via
          // Bucketing.compactBucketed
          // the append and the caller's sink are INDEPENDENT jobs —
          // verdicts' plan is pinned off the table (see above), so the
          // append cannot perturb what onBatch reads — and each leaves
          // most of local[N] idle; overlap them (guide §2.6), both on
          // the batch's session: the aligned writer sets no session
          // conf, so the concurrent append cannot change how onBatch's
          // queries plan, and it refreshes this session's relation
          // cache, so the next batch's probe lists the files it wrote.
          // The await before returning keeps the batch-completion
          // contract (both landed) and the at-least-once replay story
          // exactly as sequential: a failure of either side replays the
          // batch, the probe's batch_id guard reproduces the verdicts,
          // and the fold's no-owner rule suppresses duplicate
          // re-appends. A failing sink still awaits the append before
          // its exception propagates, so no append job outlives the
          // failed batch. Both waits are bounded (3600 s, as GdMf's
          // checkpoint awaits): a hung append must surface, not wedge
          // the stream.
          import scala.concurrent.{Await, Future}
          val bound = scala.concurrent.duration.Duration(3600L, "s")
          val appendF = Future(index.append(newRows, batchId))(
            scala.concurrent.ExecutionContext.global)
          try onBatch(verdicts, batchId)
          catch {
            case sinkFailure: Throwable =>
              try Await.ready(appendF, bound)
              catch { case t: Throwable => sinkFailure.addSuppressed(t) }
              throw sinkFailure
          }
          Await.result(appendF, bound)
      }
      // the appends ran on the stream's session (Structured Streaming's
      // clone); read refreshes this session's relation cache first
      Run(query, finalIndex = () => index.read(spark), release = () => ())

    case None =>
      // one mutable reference, only touched inside foreachBatch (which
      // Structured Streaming serializes batch-over-batch)
      var index: DataFrame = initialIndex.orNull
      val query = docs.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val verdicts = (if (index == null) {
            batch.withColumn("dup_of", lit(null).cast("long"))
          } else {
            Dedup.dedupAgainstIndex(batch, index, idCol, textCol,
              shingleK, bands, rowsPerBand, threshold)
          }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          verdicts.count() // materialize before mutating the index
          try {
            val survivors = verdicts.filter(col("dup_of").isNull)
              .select(batch.columns.map(col): _*)
            val next =
              if (index == null)
                Dedup.bucketIndex(survivors, idCol, textCol,
                  shingleK, bands, rowsPerBand)
              else
                Dedup.updateIndex(index, survivors, idCol, textCol,
                  shingleK, bands, rowsPerBand)
            // updateIndex/bucketIndex are eager — the old generation's
            // blocks can drop as soon as the new one is materialized
            if (index != null) index.unpersist()
            index = next
            onBatch(verdicts, batchId)
          } finally verdicts.unpersist()
        }
        .start()
      Run(query,
        finalIndex = () => Option(index),
        release = () => Option(index).foreach(_.unpersist()))
  }
}
