package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.WordPiece

/** Streaming coverage fold (q151): rolling per-source totals must
  * equal the one-shot batch [[WordPiece.coverageReport]] after all
  * triggers, and the batch_id-partitioned sink must absorb an
  * at-least-once replay (the sum-merge class needs the idempotent
  * sink; a naive running total would double-count).
  */
class StreamingWordPieceSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the cat sat on the mat", "web"),
    (1L, "the dog sat", "web"),
    (2L, "unseen zyxwvut tokens here", "books"),
    (3L, "the the the cat", "books"),
    (4L, "completely qqqqq unknown", "code"))

  private val vocab = WordPiece.Vocab(
    initial = Seq("the", "cat", "sat", "on", "mat", "dog", "tok", "un").sorted,
    cont = Seq("##s", "##en", "##s", "e", "n", "s").distinct.sorted)

  test("rolling coverage equals the batch report after all triggers") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val tbl = s"graft_wpcov_stream_${System.nanoTime()}"
    val stream = mem.toDF().toDF("doc_id", "text", "source")
    val run = StreamingWordPiece.startCoverage(
      stream, "source", "text", vocab, tbl) { (_, _) => () }
    try {
      mem.addData(docs.take(2): _*)
      run.query.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      run.query.processAllAvailable()
      val got = run.coverage().get
        .as[(String, Long, Long, Long)].collect().toSet
      val want = WordPiece.coverageReport(
        docs.toDF("doc_id", "text", "source"), "source", "text", vocab)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got === want)
    } finally { run.query.stop(); spark.sql(s"DROP TABLE IF EXISTS $tbl") }
  }

  test("sink: re-folding the same batchId leaves read-time totals unchanged") {
    val tbl = s"graft_wpcov_replay_${System.nanoTime()}"
    val half = docs.take(3).toDF("doc_id", "text", "source")
    val rest = docs.drop(3).toDF("doc_id", "text", "source")
    def totals = StreamingWordPiece.coverageOf(spark.table(tbl), "source")
      .as[(String, Long, Long, Long)].collect().toSet
    try {
      val cov0 = WordPiece.coverageReport(half, "source", "text", vocab)
      StandingTable(tbl).foldPartition(cov0, 0L)
      val once = totals
      StandingTable(tbl).foldPartition(cov0, 0L)
      assert(totals === once, "replaying batch 0 changed the totals")
      val cov1 = WordPiece.coverageReport(rest, "source", "text", vocab)
      StandingTable(tbl).foldPartition(cov1, 1L)
      val want = WordPiece.coverageReport(
        docs.toDF("doc_id", "text", "source"), "source", "text", vocab)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(totals === want, "batch 1 fold must not disturb batch 0")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
