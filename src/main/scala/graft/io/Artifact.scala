package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.CatalogBridge

/** A persisted index as catalog tables `<name>_<part>`, and the one
  * lifecycle every index keeps them under (Bm25Index, WinnowIndex,
  * IvfIndex, PqIndex, AnnIndex's meta): the index modules keep only
  * their algorithm.
  *
  *  - [[model]] writes an artifact-sized part (centroids, codebooks,
  *    stats, meta) as one file; [[write]] writes an unbucketed part;
  *  - [[bucketed]] builds the corpus-sized part aligned, bucketed and
  *    sorted by its probe key at [[Artifact.Buckets]];
  *  - [[append]] refreshes a part under the key, count and column
  *    order of its catalog entry. The entry lists no files, so a
  *    refresh is O(batch), and it matches a table built under any
  *    bucket count;
  *  - [[rebuild]] builds completely under `<name>__rebuild` before
  *    [[Artifact.swap]] moves any live part aside;
  *  - [[drop]] drops every part.
  */
final case class Artifact(name: String, parts: Seq[String]) {

  def table(part: String): String = {
    require(parts.contains(part), s"artifact '$name' has no part '$part'")
    s"${name}_$part"
  }

  def read(spark: SparkSession, part: String): DataFrame = spark.table(table(part))

  def model(part: String, rows: DataFrame): Unit = write(part, rows.coalesce(1))

  def write(part: String, rows: DataFrame): Unit =
    rows.write.format("parquet").mode("overwrite").saveAsTable(table(part))

  def bucketed(part: String, key: String, rows: DataFrame): Unit =
    Bucketing.writeBucketedAligned(rows, table(part), key, Artifact.Buckets,
      "overwrite")

  def append(part: String, rows: DataFrame): Unit = Artifact.append(rows, table(part))

  /** Run `build` on the staged name, then swap every staged part in:
    * nothing live is touched until the build has returned.
    */
  def rebuild(spark: SparkSession)(build: String => Unit): Unit = {
    val staged = copy(name = name + "__rebuild")
    staged.drop(spark)
    build(staged.name)
    Artifact.swap(spark, parts.map(p => staged.table(p) -> table(p)))
  }

  def drop(spark: SparkSession): Unit =
    parts.foreach(p => spark.sql(s"DROP TABLE IF EXISTS ${table(p)}"))
}

object Artifact {

  /** The bucket count of every index build. */
  val Buckets: Int = 16

  /** Append `rows` to `table` in its catalog column order, aligned to
    * its own bucket spec when it has one (see
    * [[Bucketing.writeBucketedAligned]]): an append whose bucket count
    * differs from the table's is refused by Spark, so the count is
    * never the caller's to give.
    */
  def append(rows: DataFrame, table: String): Unit = {
    val e = CatalogBridge.entry(rows.sparkSession, table)
    val ordered = rows.select(e.columns.map(col): _*)
    e.bucket match {
      case Some((key, n)) =>
        Bucketing.writeBucketedAligned(ordered, table, key, n, "append")
      case None => ordered.write.format("parquet").mode("append").saveAsTable(table)
    }
  }

  private def aside(live: String): String = live + "__old"

  /** Throw when `live` is missing but its aside exists: a swap was cut
    * between its renames, and the aside is the only copy of the last
    * generation. Creating `live` empty, or dropping the aside, would
    * lose it.
    */
  def requireNoOrphanAside(spark: SparkSession, live: String): Unit =
    if (!spark.catalog.tableExists(live) && spark.catalog.tableExists(aside(live)))
      throw new IllegalStateException(
        s"'$live' is missing while '${aside(live)}' exists: an earlier swap " +
          s"stopped between its renames. Rename '${aside(live)}' back to " +
          s"'$live' (or drop it to discard that generation), then retry")

  /** Put each fully written `staged` table in place of its `live`
    * one, aside first: every live table is renamed to `<live>__old`
    * before any staged one takes its name, and the asides are dropped
    * last. A failure mid-swap leaves the previous generation under
    * `__old`, and the next swap or `StandingTable.open` refuses to
    * run until it is renamed back ([[requireNoOrphanAside]]). The
    * catalog has no atomic or multi-table rename, so a reader racing
    * the renames can see a missing or mixed generation: swap between
    * runs, never under a live query.
    */
  def swap(spark: SparkSession, staged: Seq[(String, String)]): Unit = {
    staged.foreach { case (_, live) => requireNoOrphanAside(spark, live) }
    staged.foreach { case (_, live) => spark.sql(s"DROP TABLE IF EXISTS ${aside(live)}") }
    staged.foreach { case (_, live) =>
      if (spark.catalog.tableExists(live))
        spark.sql(s"ALTER TABLE $live RENAME TO ${aside(live)}")
    }
    staged.foreach { case (s, live) => spark.sql(s"ALTER TABLE $s RENAME TO $live") }
    staged.foreach { case (_, live) => spark.sql(s"DROP TABLE IF EXISTS ${aside(live)}") }
  }
}
