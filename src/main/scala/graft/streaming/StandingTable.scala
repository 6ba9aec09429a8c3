package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CatalogBridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** A catalog table that a streaming fold keeps across triggers and
  * sessions: the dedup twins' indexes, the curation pack state, the
  * sum-merge partition folds and the resample maxima. Every row
  * carries the `batch_id` that wrote it.
  *
  * Two fold classes share it:
  *
  *  - index tables ([[before]] + [[append]]): a probe reads only
  *    `batch_id < currentBatchId`, so an at-least-once foreachBatch
  *    REPLAY probes exactly the pre-batch table instead of its own
  *    failed attempt's rows. The guard assumes batchIds from ONE
  *    checkpoint lineage; a new stream over an old table needs its
  *    rows retagged to `batch_id = -1` first ([[migrateLegacy]], or a
  *    seed given to [[StandingTable.open]]);
  *  - sum-merge tables ([[foldPartition]]): each batch replaces its
  *    own `batch_id` partition, so a replay cannot double-count.
  *
  * The bucket key and count are decided once, when [[StandingTable.open]]
  * creates the table; appends, migration and compaction read them back
  * from the catalog entry, so a stream resumed with another bucket
  * count still writes aligned to the table it finds.
  *
  * Stream folds read and write through the batch's session (the
  * stream's clone): an append refreshes the writing session's relation
  * cache only.
  */
final case class StandingTable(name: String) {

  /** The replay guard: rows written by batches before `batchId`. */
  def before(spark: SparkSession, batchId: Long): DataFrame =
    spark.table(name).filter(col("batch_id") < batchId)

  /** Append `rows` tagged `batch_id = batchId` through `rows`' own
    * session, under the table's own bucket spec
    * ([[graft.io.Artifact.append]]). The first append creates an
    * unbucketed table.
    */
  def append(rows: DataFrame, batchId: Long): Unit = {
    val tagged = rows.withColumn("batch_id", lit(batchId))
    if (!rows.sparkSession.catalog.tableExists(name))
      tagged.write.format("parquet").saveAsTable(name)
    else graft.io.Artifact.append(tagged, name)
  }

  /** Land `rows` as the `batch_id = batchId` partition, replacing any
    * earlier attempt of the same batch; the first fold creates the
    * table partitioned by `batch_id`.
    */
  def foldPartition(rows: DataFrame, batchId: Long): Unit = {
    val spark = rows.sparkSession
    if (!spark.catalog.tableExists(name))
      rows.withColumn("batch_id", lit(batchId))
        .write.partitionBy("batch_id").format("parquet").saveAsTable(name)
    else {
      // STATIC-partition INSERT OVERWRITE: replaces exactly this
      // batch's partition and leaves every other one untouched,
      // independent of the session's partitionOverwriteMode — the
      // DataFrameWriter option form is silently ignored by v1
      // insertInto (found empirically: batch 1 wiped batch 0's
      // partition)
      val cols = CatalogBridge.entry(spark, name).columns
        .filter(_ != "batch_id").map(c => s"`$c`").mkString(", ")
      val view = s"graft_fold_${math.abs(batchId)}_${System.nanoTime()}"
      rows.createOrReplaceTempView(view)
      try spark.sql(
        s"""INSERT OVERWRITE TABLE $name PARTITION (batch_id = $batchId)
           |SELECT $cols FROM $view""".stripMargin)
      finally spark.catalog.dropTempView(view)
    }
  }

  /** The table as `spark` sees it now (its relation cache refreshed:
    * the folds wrote through the stream's clone), or None before the
    * first fold created it.
    */
  def read(spark: SparkSession): Option[DataFrame] =
    if (!spark.catalog.tableExists(name)) None
    else {
      spark.catalog.refreshTable(name)
      Some(spark.table(name))
    }
}

object StandingTable {

  /** Create `name` empty (columns `schema` + `batch_id`) or from
    * `seed`, bucketed by `bucketKey` into `buckets` when given; or, when
    * it exists, require its `batch_id` column and refuse a seed.
    *
    * Seed rows are pre-history: they are UNCONDITIONALLY retagged
    * `batch_id = -1`, visible to batch 0's probe. A snapshot from an
    * earlier stream carries that lineage's batchIds while this stream's
    * restart at 0, so keeping them would hide every snapshot row with
    * batch_id >= 0 from batch 0 (missed duplicates). Lineage batchIds
    * only mean something when resuming the SAME checkpoint, which goes
    * through the existing-table branch, never through seeding.
    *
    * A missing table whose `__old` aside exists throws instead: an
    * interrupted swap left the last generation there, and an empty
    * table in its place would pass every earlier duplicate as new.
    */
  def open(spark: SparkSession, name: String, schema: StructType,
      bucketKey: Option[String], buckets: Int = 32,
      seed: Option[DataFrame] = None): StandingTable = {
    graft.io.Artifact.requireNoOrphanAside(spark, name)
    if (!spark.catalog.tableExists(name)) {
      val rows = seed.getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      write(rows.select(schema.fieldNames.map(col): _*)
        .withColumn("batch_id", lit(-1L)), name,
        bucketKey.map(_ -> buckets), "overwrite")
    } else {
      require(seed.isEmpty,
        s"standing table '$name' already exists; refusing to silently ignore " +
          "the seed — drop the table to seed from the snapshot, or omit " +
          "the seed to resume from the table")
      // a pre-batch_id table would fail the probe's filter mid-stream
      // with an opaque missing-column error; fail at open instead. The
      // fix is explicit because at index scale it is a full-table
      // rewrite the operator should schedule, not a side effect of a
      // stream start.
      if (!CatalogBridge.entry(spark, name).columns.contains("batch_id"))
        throw new IllegalStateException(
          s"standing table '$name' predates the batch_id replay-guard column; " +
            s"""run graft.streaming.StandingTable.migrateLegacy(spark, "$name") """ +
            "once (rewrites every row with batch_id = -1, keeping the " +
            "bucket spec), then restart the stream")
    }
    StandingTable(name)
  }

  /** Start `fold` on every micro-batch of `stream` as a query named
    * after `table`: with `spark.sql.streaming.checkpointLocation` set,
    * a restart over the same table resumes `<location>/<table>` — the
    * one checkpoint lineage the replay guard assumes. An explicit
    * `checkpoint` wins over the session default.
    */
  def foreachBatch(stream: DataFrame, table: String,
      checkpoint: Option[String] = None)
      (fold: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = stream.writeStream.queryName(table).outputMode("append")
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.foreachBatch(fold).start()
  }

  /** One-time migration of a table that predates `batch_id`: rewrite
    * it with `batch_id = -1` (pre-history, visible to every batch of
    * any future lineage) under its own bucket spec, so the probe join
    * stays exchange-free. Idempotent: a table with the column is left
    * alone. The tagged copy is written to a sibling table first and
    * swapped in only once committed, so the original — possibly the
    * sole copy of a full-scale index — survives a failed rewrite.
    */
  def migrateLegacy(spark: SparkSession, table: String): Unit = {
    val e = CatalogBridge.entry(spark, table)
    if (e.columns.contains("batch_id")) return
    val staged = table + "__migrated"
    spark.sql(s"DROP TABLE IF EXISTS $staged")
    write(spark.table(table).withColumn("batch_id", lit(-1L)), staged,
      e.bucket, "error")
    graft.io.Artifact.swap(spark, Seq(staged -> table))
  }

  private def write(rows: DataFrame, name: String,
      bucket: Option[(String, Int)], mode: String): Unit = bucket match {
    case Some((key, n)) =>
      graft.io.Bucketing.writeBucketedAligned(rows, name, key, n, mode)
    case None =>
      rows.write.format("parquet").mode(mode).saveAsTable(name)
  }
}
