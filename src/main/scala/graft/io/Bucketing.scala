package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Bucketed-table sinks (SCALE.md "Joins"): writing both sides of a
  * recurring fact-fact join bucketed (+sorted) by the join key makes
  * every later join shuffle-free — the sort-merge join reads
  * co-bucketed files directly. The write pays one shuffle once;
  * every downstream join of the two tables pays none.
  */
object Bucketing {

  /** Bucket-ALIGNED write: the task↔bucket discipline of
    * [[compactBucketed]] as a reusable sink for every bucketed-table
    * build and per-batch append in the engine.
    *
    * A bucketed `saveAsTable` does NOT shuffle: each incoming task
    * sorts its rows by bucket id and opens one file per bucket it
    * holds, so an unaligned write emits up to tasks × buckets files
    * (measured on the q95 per-batch index fold, sf0.1: ~1000 row-sized
    * files per append). Here the rows are first repartitioned by
    * Spark's own bucket-id expression (`pmod(murmur3(key), buckets)`,
    * the one the writer files rows by), used as the shuffle partition
    * id itself (`DirectShufflePartitionID`, not hashed again): with
    * `spark.sql.shuffle.partitions` >= `buckets`, partition i holds
    * exactly bucket i, so a full build writes at `buckets` tasks as
    * before; below it, partition i holds the buckets ≡ i mod the
    * partition count, still whole. A write therefore makes at most one
    * file per bucket. The shuffle is a by-column repartition, which
    * adaptive execution may coalesce (whole partitions, so whole
    * buckets) but never splits: a 400-row append runs in one task. No
    * session conf is touched, so the write may run concurrently with
    * other queries on its session.
    */
  def writeBucketedAligned(df: DataFrame, table: String, key: String,
      buckets: Int, mode: String): Unit = {
    import org.apache.spark.sql.catalyst.expressions.DirectShufflePartitionID
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bucketId = HashPartitioning(
      Seq(ColumnBridge.expression(col(key))), buckets).partitionIdExpression
    df.repartition(ColumnBridge.column(DirectShufflePartitionID(bucketId)))
      .write
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .mode(mode)
      .saveAsTable(table)
  }

  /** Bucket-PRESERVING compaction for the append-only index tables
    * the streaming dedup/ANN folds maintain (each micro-batch appends
    * one small file set per bucket; thousands of triggers fragment the
    * table the same way any continuously-ingested lake path
    * fragments). [[Lake.compact]] must NOT be used on these — a plain
    * rewrite drops the bucket spec and every probe join regains its
    * index-side exchange. This rewrites THROUGH the table's own bucket
    * spec, read back from its catalog entry, into a fresh table and
    * swaps it in under the original name
    * ([[Artifact.swap]]: aside first, so run
    * between streaming runs, never under a live query). Returns
    * (rows, files before, files after).
    */
  def compactBucketed(spark: org.apache.spark.sql.SparkSession,
      table: String): (Long, Long, Long) = {
    import org.apache.spark.sql.graftbridge.CatalogBridge
    def parquetFiles(t: String): Long = {
      val p = new org.apache.hadoop.fs.Path(CatalogBridge.entry(spark, t).location)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    val (key, buckets) = CatalogBridge.entry(spark, table).bucket.getOrElse(
      throw new IllegalArgumentException(s"table '$table' is not bucketed"))
    val before = parquetFiles(table)
    val tmp = table + "__compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    // File count = writing tasks × buckets-per-task. The aligning
    // repartition is on the bucket id, not on `key`: one on `key` into
    // `buckets` partitions equals the bucketed scan's partitioning, so
    // the planner drops it and the scan reverts to file splits (46-47
    // files for 8 buckets, observed). The plan is scan → exchange(bucket
    // id) → per-task sort+write, one file per non-empty bucket.
    val rows = spark.table(table)
    val nRows = rows.count()
    writeBucketedAligned(rows, tmp, key, buckets, "overwrite")
    Artifact.swap(spark, Seq(tmp -> table))
    (nRows, before, parquetFiles(table))
  }

  /** Create-if-absent variant: reuse an already-materialized bucketed
    * table so repeated query runs in one session neither race on the
    * warehouse dir nor re-pay the write shuffle. The caller owns
    * invalidation (drop the table) if the source data changes.
    */
  def ensureBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    synchronized {
      val s = df.sparkSession
      if (!s.catalog.tableExists(table)) {
        // A prior session (fresh in-memory catalog) may have left the
        // managed location behind without metadata; saveAsTable refuses
        // to reuse it, so clear the orphaned directory first — via the
        // Hadoop FileSystem API so hdfs:/s3a: warehouse URIs work, not
        // just the local filesystem.
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
        val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(wh)) fs.delete(wh, true)
        writeBucketedAligned(df, table, key, buckets, "overwrite")
      }
    }
}
