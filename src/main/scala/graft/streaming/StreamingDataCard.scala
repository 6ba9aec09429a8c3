package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.{Quality, TextAnalysis}

/** Continuous per-source data card — the streaming face of
  * [[graft.pipeline.Profiling.dataCard]]: release documentation that
  * is ALWAYS current over the ingest stream, instead of a batch report
  * re-scanned per release cut.
  *
  * State (the q130 sum-merge fold class — every piece lands in a
  * `batch_id`-partitioned table via [[StandingTable.foldPartition]],
  * so an at-least-once foreachBatch replay overwrites its OWN
  * partition and cannot double-count):
  *
  *  - `<table>_sums` — per batch, ONE (source, lang)-keyed aggregate
  *    carrying every sum-mergeable counter (docs/token/char mass,
  *    keep count, DECIMAL(38,0) quality mass — decimals re-merge
  *    exactly, the dataCard overflow rule). Bounded by
  *    |sources|·|langs| rows per batch, so the per-trigger write is
  *    report-sized; the language spread falls out of the SAME rows at
  *    read time (countDistinct over the key), no second state table.
  *  - `<table>_fps` — one (source, fingerprint) row PER DOCUMENT
  *    (dup exposure counts every copy, so the rows are deliberately
  *    not distinct). O(batch) appended per trigger, nothing re-read.
  *
  * Read-time assembly ([[cardOf]]) re-aggregates the sums table
  * (report-sized) and runs the dataCard dup join over the fingerprint
  * table — O(corpus ingested), paid when a card is CUT, not per
  * trigger; the batch operator pays the same scan over the same rows.
  * Batch-order-independent by construction (sums commute, distincts
  * and the dup join are global read-time operations), so the card
  * equals [[graft.pipeline.Profiling.dataCard]] over everything
  * ingested — q178 shares q144's oracle verbatim.
  */
object StreamingDataCard {

  final case class Run(
      query: StreamingQuery,
      card: () => Option[DataFrame])

  private def sumsTable(t: String): String = t + "_sums"
  private def fpsTable(t: String): String = t + "_fps"

  /** Start the card stream. `onBatch(card, batchId)` receives the
    * card-so-far after each trigger.
    */
  def start(stream: DataFrame, sourceCol: String, textCol: String,
      langCol: String, table: String,
      w: Quality.Weights = Quality.defaultWeights)
      (onBatch: (DataFrame, Long) => Unit): Run = {
    val caller = stream.sparkSession
    val sums = StandingTable(sumsTable(table))
    val fps = StandingTable(fpsTable(table))
    val query = StandingTable.foreachBatch(stream, table) {
      (batch: DataFrame, batchId: Long) =>
        // table ops through the stream's CLONED session — the
        // StreamingDedup relation-cache lesson
        val score = Quality.scoreQuality(col(textCol), w)
        sums.foldPartition(batch
          .groupBy(col(sourceCol).as("source"), col(langCol).as("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col(textCol)).cast("long"))
              .as("n_tokens"),
            sum(length(col(textCol)).cast("long")).as("n_chars"),
            count(when(score > 0, lit(1))).as("n_keep"),
            sum(floor(score * 1e6)
              .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
              .as("q_fp")), batchId)
        fps.foldPartition(
          batch.select(col(sourceCol).as("source"),
            TextAnalysis.fingerprint(col(textCol)).as("fp")), batchId)
        onBatch(cardOf(batch.sparkSession, table), batchId)
    }
    Run(query,
      // None until the first batch creates BOTH tables. Gating on the
      // sums table alone would race the first trigger: between the
      // _sums fold and the _fps fold a concurrent card() would pass the
      // guard and cardOf would throw on the missing _fps table.
      card = () =>
        for (_ <- sums.read(caller); _ <- fps.read(caller))
          yield cardOf(caller, table))
  }

  /** Assemble the card from the state tables — the exact
    * [[graft.pipeline.Profiling.dataCard]] output schema and
    * semantics over everything ingested so far. Lazy.
    */
  def cardOf(spark: SparkSession, table: String): DataFrame = {
    val s = spark.table(sumsTable(table))
      .groupBy(col("source"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_keep")).as("n_keep"),
        sum(col("q_fp")).cast("long").as("sum_quality_fp"))
    val f = spark.table(fpsTable(table)).select(col("source"), col("fp"))
    val dups = f
      .join(f.groupBy("fp").agg(count(lit(1)).as("__cnt")), Seq("fp"))
      .groupBy("source")
      .agg(count(when(col("__cnt") > 1, lit(1))).as("n_dup_docs"))
    s.join(dups, Seq("source"), "left")
      .na.fill(0L, Seq("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("n_langs"), col("n_keep"),
        col("sum_quality_fp"), col("n_dup_docs"))
  }

  /** Drop both state tables (test/maintenance convenience). */
  def drop(spark: SparkSession, table: String): Unit =
    Seq(sumsTable(table), fpsTable(table)).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
}
