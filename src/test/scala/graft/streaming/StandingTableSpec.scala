package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CatalogBridge

import graft.SparkSpec

/** The standing-table lifecycle the streaming twins share: the bucket
  * spec is the table's own after creation, every index twin rejects a
  * pre-batch_id table naming the migration, and every read before the
  * first trigger is None.
  */
class StandingTableSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    s"graft_st_${tag}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  test("a dedup stream resumed with another indexBuckets appends under the table's own spec") {
    def doc(i: Int): String = (0 until 30).map(j => s"k${i}w$j").mkString(" ")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.streaming.checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft_st_resume").toString)
    val tbl = fresh("resume")
    val mem = MemoryStream[(Long, String)](sess)
    val docs = mem.toDF().toDF("doc_id", "text")
    val verdicts = mutable.Map.empty[Long, (Long, Option[Long])]
    def start(buckets: Option[Int]) = {
      val sink = (v: org.apache.spark.sql.DataFrame, b: Long) => {
        verdicts ++= v.select("doc_id", "dup_of").as[(Long, Option[Long])]
          .collect().map { case (d, o) => d -> ((b, o)) }
        ()
      }
      buckets.fold(StreamingDedup.start(docs, "doc_id", "text",
        indexTable = Some(tbl))(sink))(n => StreamingDedup.start(docs,
        "doc_id", "text", indexTable = Some(tbl), indexBuckets = n)(sink))
    }
    try {
      val first = start(Some(8))
      try {
        mem.addData((1L, doc(1)), (2L, doc(2)))
        first.query.processAllAvailable()
        mem.addData((10L, doc(1) + " omega"), (11L, doc(3)))
        first.query.processAllAvailable()
      } finally first.query.stop()
      // restarted at the default (32): the table keeps its 8 buckets
      val resumed = start(None)
      try {
        mem.addData((20L, doc(3) + " extra"), (21L, doc(4)))
        resumed.query.processAllAvailable()
      } finally resumed.query.stop()
      assert(verdicts(20L) === ((2L, Some(11L))))
      assert(verdicts(21L) === ((2L, None)))
      assert(CatalogBridge.entry(spark, tbl).bucket === Some(("band_hash", 8)))
      val want = graft.dedup.Dedup.bucketIndex(
        Seq((21L, doc(4))).toDF("doc_id", "text"), "doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("owner_id", "band", "band_hash").as[(Long, Int, Long)]
          .collect().toSet
      spark.catalog.refreshTable(tbl)
      assert(rows(spark.table(tbl).filter(col("batch_id") === 2L)) === rows(want))
      want.unpersist()
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("StreamingSemanticDedup rejects a pre-batch_id index, naming the migration") {
    val tbl = fresh("sem_legacy")
    Seq((1L, 0L, Seq(1L, 0L))).toDF("id", "cluster", "vf")
      .write.bucketBy(4, "cluster").sortBy("cluster")
      .format("parquet").saveAsTable(tbl)
    val mem = MemoryStream[(Long, Seq[Float])](spark)
    val centroid = Seq(Seq(0.0, 0.0))
    try {
      val atStart = intercept[IllegalStateException] {
        StreamingSemanticDedup.start(mem.toDF().toDF("id", "v"), "id", "v",
          centroid, 850000000000L, tbl, indexBuckets = 4) { (_, _) => () }
      }
      assert(atStart.getMessage.contains("migrateLegacy"))
      val direct = intercept[IllegalStateException] {
        StreamingSemanticDedup.foldBatch(spark,
          Seq((2L, Seq(1.0f, 0.0f))).toDF("id", "v"), "id", "v", centroid,
          850000000000L, tbl, 4, 0L)
      }
      assert(direct.getMessage.contains("migrateLegacy"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("WordPiece coverage and resample result are None before the first trigger") {
    val mem = MemoryStream[(Long, String, String)](spark)
    val wpTbl = fresh("wp")
    val rsTbl = fresh("rs")
    val stream = mem.toDF().toDF("t", "text", "source")
    val vocab = graft.text.WordPiece.Vocab(initial = Seq("a", "b"),
      cont = Seq("##a"))
    val wp = StreamingWordPiece.startCoverage(stream, "source", "text",
      vocab, wpTbl) { (_, _) => () }
    val rs = StreamingResample.start(stream.withColumn("v", lit(1.0)),
      "source", col("t"), "v", "t", 100L, rsTbl) { _ => () }
    try {
      assert(wp.coverage().isEmpty)
      assert(rs.result().isEmpty)
      mem.addData((1L, "a b", "web"))
      wp.query.processAllAvailable()
      rs.query.processAllAvailable()
      assert(wp.coverage().get.count() === 1L)
      assert(rs.result().get.count() === 1L)
    } finally {
      wp.query.stop(); rs.query.stop()
      spark.sql(s"DROP TABLE IF EXISTS $wpTbl")
      spark.sql(s"DROP TABLE IF EXISTS $rsTbl")
    }
  }

  test("open refuses a seed over an existing table") {
    val tbl = fresh("seed")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("h", org.apache.spark.sql.types.StringType)))
    try {
      StandingTable.open(spark, tbl, schema, Some("h"), buckets = 4,
        seed = Some(Seq("x").toDF("h")))
      assert(spark.table(tbl).as[(String, Long)].collect().toSeq === Seq(("x", -1L)))
      intercept[IllegalArgumentException] {
        StandingTable.open(spark, tbl, schema, Some("h"),
          seed = Some(Seq("y").toDF("h")))
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
