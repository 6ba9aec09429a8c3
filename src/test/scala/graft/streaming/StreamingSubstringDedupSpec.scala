package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class StreamingSubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  test("cross-batch repeated spans drop against the evolving gram index") {
    val span = (1 to 6).map(i => s"sp$i").mkString(" ")
    val tbl = s"graft_ss_spec_${System.nanoTime()}"
    val mem = MemoryStream[(Long, String)](spark)
    val got = mutable.Map.empty[Long, (String, Long, Long)]
    val q = StreamingSubstringDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexTable = tbl, windowTokens = 6) { (out, _) =>
      got ++= out.as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4)))
    }
    try {
      // batch 1: doc 1 owns the span; doc 2's copy drops WITHIN batch
      mem.addData(
        (1L, s"alpha one $span"),
        (2L, s"beta $span tail"))
      q.processAllAvailable()
      // batch 2: the span recurs (cross-batch) + a novel doc
      mem.addData(
        (10L, s"x1 x2 $span y1"),
        (11L, "entirely novel words without any repeats at all"))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
    assert(got(1L) === ((s"alpha one $span", 8L, 0L)))
    assert(got(2L) === (("beta tail", 2L, 6L)))
    assert(got(10L) === (("x1 x2 y1", 3L, 6L)))
    assert(got(11L) === (("entirely novel words without any repeats at all", 8L, 0L)))
  }

  test("replayed batch probes the pre-batch index (at-least-once safety)") {
    // simulate a failed attempt of batch 0 that already appended its
    // gram hash: pre-seed the table with md5 of THIS batch's only
    // 3-gram, tagged batch_id = 0. The replay must not self-match.
    val tbl = s"graft_ss_replay_${System.nanoTime()}"
    spark.sql("SELECT md5('g1 g2 g3') AS h, CAST(0 AS BIGINT) AS batch_id")
      .write.bucketBy(32, "h").sortBy("h")
      .format("parquet").saveAsTable(tbl)
    val mem = MemoryStream[(Long, String)](spark)
    val got = mutable.Map.empty[Long, (String, Long, Long)]
    val q = StreamingSubstringDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexTable = tbl, windowTokens = 3) { (out, _) =>
      got ++= out.as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4)))
    }
    try {
      mem.addData((1L, "g1 g2 g3"))
      q.processAllAvailable()
      // batch 1 sees batch 0's gram (batch_id 0 < 1) — span drops
      mem.addData((2L, "g1 g2 g3 novel"))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
    assert(got(1L) === (("g1 g2 g3", 3L, 0L)),
      "replayed batch 0 self-matched its own failed attempt's index rows")
    assert(got(2L) === (("novel", 1L, 3L)))
  }

  test("per-batch shuffle volume scales with batch, not index") {
    def doc(i: Int): String = (0 until 16).map(j => s"ss${i}w$j").mkString(" ")
    val tbl = s"graft_ss_vol_${System.nanoTime()}"
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamingSubstringDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexTable = tbl, windowTokens = 6) { (_, _) => () }
    try {
      // seed: 400 docs × 11 gram positions = 4400 indexed hashes; its
      // own shuffle volume IS the measured index-sized baseline
      val (_, seed) = shapeOf {
        mem.addData((1 to 400).map(i => (i.toLong, doc(i))): _*)
        q.processAllAvailable()
      }
      val indexSizedBaseline = seed.shuffleRecordsWritten
      // a 10-doc batch (2.5% of the index) must shuffle a small
      // FRACTION of the baseline — ratio assertion, so plan-shape
      // changes that move both numbers together don't flake it
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
}
