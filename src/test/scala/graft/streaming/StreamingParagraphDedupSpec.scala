package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class StreamingParagraphDedupSpec extends SparkSpec {
  import spark.implicits._

  test("pre-batch_id line-index table is rejected at start, naming the migration") {
    val tbl = s"graft_pd_legacy_${System.nanoTime()}"
    // a round-6-era table: h only, no batch_id
    Seq("deadbeef").toDF("h")
      .write.bucketBy(32, "h").sortBy("h")
      .format("parquet").mode("overwrite").saveAsTable(tbl)
    val mem = MemoryStream[(Long, String)](spark)
    try {
      val ex = intercept[IllegalStateException] {
        StreamingParagraphDedup.start(mem.toDF().toDF("doc_id", "text"),
          "doc_id", "text", indexTable = tbl) { (_, _) => () }
      }
      assert(ex.getMessage.contains("migrateLegacy"))
      StandingTable.migrateLegacy(spark, tbl)
      assert(spark.table(tbl).columns.contains("batch_id"))
      assert(swapLeftovers(tbl).isEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("cross-batch repeated lines drop against the evolving line index") {
    val tbl = s"graft_pd_spec_${System.nanoTime()}"
    val mem = MemoryStream[(Long, String)](spark)
    val got = mutable.Map.empty[Long, (String, Long, Long)]
    val q = StreamingParagraphDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", indexTable = tbl) {
      (out, _) =>
        got ++= out.as[(Long, String, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4)))
    }
    try {
      // batch 1: doc 1 owns the footer; doc 2's copy drops WITHIN batch
      mem.addData(
        (1L, "alpha line\nShared Footer"),
        (2L, "beta line\nshared  FOOTER"))
      q.processAllAvailable()
      // batch 2: footer recurs (cross-batch → dropped); empty line kept;
      // a fully-boilerplate doc reduces to ""
      mem.addData(
        (10L, "gamma line\n\nshared footer"),
        (11L, "shared footer"))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
    assert(got(1L) === (("alpha line\nShared Footer", 2L, 0L)))
    assert(got(2L) === (("beta line", 1L, 1L)))
    assert(got(10L) === (("gamma line\n", 2L, 1L)))
    assert(got(11L) === (("", 0L, 1L)))
  }

  test("per-batch shuffle volume scales with batch, not index") {
    def doc(i: Int): String =
      (0 until 4).map(j => s"pd${i}line$j word word").mkString("\n")
    val tbl = s"graft_pd_vol_${System.nanoTime()}"
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamingParagraphDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", indexTable = tbl) {
      (_, _) => ()
    }
    try {
      // seed: 500 docs × 4 unique lines = 2000 indexed hashes; its own
      // shuffle volume is the measured index-sized baseline
      val (_, seed) = shapeOf {
        mem.addData((1 to 500).map(i => (i.toLong, doc(i))): _*)
        q.processAllAvailable()
      }
      val indexSizedBaseline = seed.shuffleRecordsWritten
      val (_, batch) = shapeOf {
        mem.addData((1001 to 1010).map(i => (i.toLong, doc(i))): _*)
        q.processAllAvailable()
      }
      val batchRecords = batch.shuffleRecordsWritten
      assert(batchRecords * 4 < indexSizedBaseline,
        s"batch shuffled $batchRecords records vs index-sized baseline " +
          s"$indexSizedBaseline — index-sized re-shuffle regression")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("replayed batch probes the pre-batch index (at-least-once safety)") {
    // simulate a failed attempt of batch 0 that already appended its
    // hashes: pre-create the index table holding THIS batch's line
    // hash tagged batch_id = 0. The replay must not self-match — the
    // line survives, exactly as the original attempt reported it.
    val tbl = s"graft_pd_replay_${System.nanoTime()}"
    spark.sql(
      s"SELECT md5(lower(trim(regexp_replace('only line', '\\\\s+', ' ')))) AS h, " +
        "CAST(0 AS BIGINT) AS batch_id")
      .write.bucketBy(32, "h").sortBy("h")
      .format("parquet").saveAsTable(tbl)
    val mem = MemoryStream[(Long, String)](spark)
    val got = mutable.Map.empty[Long, (String, Long, Long)]
    val q = StreamingParagraphDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", indexTable = tbl) {
      (out, _) =>
        got ++= out.as[(Long, String, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4)))
    }
    try {
      mem.addData((1L, "only line"))
      q.processAllAvailable()
      // batch 1 sees batch 0's hash (batch_id 0 < 1) — duplicate drops
      mem.addData((2L, "ONLY  line\nfresh line"))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
    assert(got(1L) === (("only line", 1L, 0L)),
      "replayed batch 0 self-matched its own failed attempt's index rows")
    assert(got(2L) === (("fresh line", 1L, 1L)))
  }
}
