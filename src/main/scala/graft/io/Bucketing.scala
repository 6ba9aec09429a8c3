package graft.io

import org.apache.spark.sql.DataFrame

/** Bucketed-table sinks (SCALE.md "Joins"): writing both sides of a
  * recurring fact-fact join bucketed (+sorted) by the join key makes
  * every later join shuffle-free — the sort-merge join reads
  * co-bucketed files directly. The write pays one shuffle once;
  * every downstream join of the two tables pays none.
  */
object Bucketing {

  /** Bucket-ALIGNED write: the task↔bucket 1:1 discipline of
    * [[compactBucketed]] as a reusable sink for every bucketed-table
    * build and per-batch append in the engine.
    *
    * A bucketed `saveAsTable` does NOT shuffle: each incoming task
    * sorts its rows by bucket id and opens one file per bucket it
    * holds, so an unaligned write emits up to tasks × buckets files.
    * Measured on the q95 per-batch index fold (sf0.1, 4k rows/batch):
    * ~1000 row-sized parquet files and ~2.8 s per append vs 32 files
    * and ~0.95 s aligned — the append was the dominant per-batch cost
    * (guide §6 small-files, both write-side open/commit overhead and
    * read-side listing for every later probe). `repartition(buckets,
    * key)` uses the same pmod(murmur3) assignment as the bucket-id
    * function, so partition i holds exactly bucket i; AQE and
    * autoBucketedScan are pinned off around the write because both can
    * silently undo the alignment (local-read rewrite of the exchange /
    * EnsureRequirements dropping it against a bucketed scan — see
    * [[compactBucketed]]'s note, both observed). The pin is scoped to
    * this one action: everything in `df`'s plan is O(input) and
    * per-call; callers' other queries run outside it. A caller that
    * overlaps this write with other queries on its session passes a
    * frame rebound to a cloned session (`DatasetBridge.rebind`,
    * as StreamingDedup does), so the pin lands on the clone.
    */
  def writeBucketedAligned(df: DataFrame, table: String, key: String,
      buckets: Int, mode: String): Unit = {
    val sess = df.sparkSession
    val aqe = "spark.sql.adaptive.enabled"
    val abs = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val aqeWas = sess.conf.get(aqe, "true")
    val absWas = sess.conf.get(abs, "true")
    try {
      sess.conf.set(aqe, "false")
      sess.conf.set(abs, "false")
      df.repartition(buckets, org.apache.spark.sql.functions.col(key))
        .write
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .mode(mode)
        .saveAsTable(table)
    } finally {
      sess.conf.set(aqe, aqeWas)
      sess.conf.set(abs, absWas)
    }
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
    // File count = writing tasks × buckets-per-task, so the write must
    // arrive with task ↔ bucket 1:1 — [[writeBucketedAligned]]'s
    // repartition + AQE/autoBucketedScan pin (two optimizer behaviors
    // silently break the alignment, both observed here, 46-47 files
    // for 8 buckets: AQE re-splits/coalesces the repartition's shuffle
    // read, mixing buckets within tasks; with AQE off,
    // EnsureRequirements drops the repartition as redundant against
    // the bucketed scan's claimed partitioning, and
    // DisableUnnecessaryBucketedScan then reverts the scan to
    // FILE-based splits). The plan is scan → exchange(buckets) →
    // per-task sort+write, exactly one file per non-empty bucket.
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
