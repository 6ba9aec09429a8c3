package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** A table's catalog entry as the public `Catalog` API does not give
  * it: the bucket spec and the location (`sessionState` is internal).
  * Reading the entry lists no files, unlike resolving `spark.table`.
  */
object CatalogBridge {

  /** `columns` in table order; `bucket` = (key, count) when the table
    * is bucketed by one column.
    */
  final case class Entry(columns: Seq[String], bucket: Option[(String, Int)],
      location: java.net.URI)

  def entry(spark: SparkSession, table: String): Entry = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val t = state.catalog.getTableMetadata(state.sqlParser.parseTableIdentifier(table))
    Entry(t.schema.fieldNames.toSeq,
      t.bucketSpec.map(b => (b.bucketColumnNames.head, b.numBuckets)),
      t.location)
  }
}
