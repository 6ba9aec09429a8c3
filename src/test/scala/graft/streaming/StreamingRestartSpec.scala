package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.SparkSpec

/** Failure injection for every streaming twin with a standing index:
  * the sink throws at batch 1, after the batch's index rows landed,
  * and the stream restarts from its checkpoint. The restarted stream
  * replays batch 1 under the same batchId, so its verdicts and the
  * index must equal an uninterrupted run over the same batches, and
  * no job may outlive the stopped query. (Index rows are compared as
  * sets: the paragraph and substring twins re-append a replayed
  * batch's hashes, which their probe's `distinct` absorbs.)
  */
class StreamingRestartSpec extends SparkSpec {
  import spark.implicits._

  private type Start = (DataFrame, String, (DataFrame, Long) => Unit) => StreamingQuery

  /** Every verdict row the sink accepted and the index table's rows
    * after `batches` went through the stream `start` opens; with
    * `crash`, the sink throws at batch 1 once and the stream restarts
    * on the same table and checkpoint.
    */
  private def outcome[T: Encoder](batches: Seq[Seq[T]], names: Seq[String],
      verdictCols: Seq[String], indexCols: Seq[String], crash: Boolean)
      (start: Start): (Set[Row], Set[Row]) = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.streaming.checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft_restart").toString)
    val tbl = s"graft_restart_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val mem = MemoryStream[T](sess)
    val docs = mem.toDF().toDF(names: _*)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Row]
    var armed = crash
    val sink = (v: DataFrame, batchId: Long) => {
      if (armed && batchId == 1L) {
        armed = false
        throw new RuntimeException("sink down at batch 1")
      }
      seen ++= v.select(verdictCols.map(col): _*).collect()
      ()
    }
    val sc = spark.sparkContext
    def noActiveJobs(): Unit = {
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty,
        "a job outlived its stopped query")
    }
    var q = start(docs, tbl, sink)
    try {
      batches.zipWithIndex.foreach { case (rows, i) =>
        mem.addData(rows: _*)
        if (crash && i == 1) {
          intercept[StreamingQueryException](q.awaitTermination(120000L))
          noActiveJobs()
          q = start(docs, tbl, sink)
        }
        q.processAllAvailable()
      }
      q.stop()
      noActiveJobs()
      sess.catalog.refreshTable(tbl)
      (seen.toSet,
        sess.table(tbl).select(indexCols.map(col): _*).collect().toSet)
    } finally {
      q.stop()
      sess.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  private def sameAsUninterrupted[T: Encoder](batches: Seq[Seq[T]],
      names: Seq[String], verdictCols: Seq[String], indexCols: Seq[String])
      (start: Start): Unit = {
    val clean = outcome(batches, names, verdictCols, indexCols, crash = false)(start)
    val restarted = outcome(batches, names, verdictCols, indexCols, crash = true)(start)
    assert(clean._1.nonEmpty && clean._2.nonEmpty)
    assert(restarted._1 === clean._1, "verdicts differ after the restart")
    assert(restarted._2 === clean._2, "index rows differ after the restart")
  }

  private def words(tag: String): String =
    (0 until 30).map(j => s"${tag}w$j").mkString(" ")

  test("StreamingDedup (table mode): sink failure at batch 1 + checkpoint restart") {
    sameAsUninterrupted(
      Seq(Seq((1L, words("a")), (2L, words("b"))),
        Seq((10L, words("a") + " omega"), (11L, words("c")), (12L, words("d"))),
        Seq((20L, words("c") + " extra"), (21L, words("d") + " x"), (22L, words("e")))),
      Seq("doc_id", "text"), Seq("doc_id", "dup_of"),
      Seq("owner_id", "band", "band_hash", "batch_id")) { (docs, tbl, sink) =>
      StreamingDedup.start(docs, "doc_id", "text", indexTable = Some(tbl))(sink).query
    }
  }

  test("StreamingParagraphDedup: sink failure at batch 1 + checkpoint restart") {
    sameAsUninterrupted(
      Seq(Seq((1L, "la\nlb\nlc"), (2L, "ld\nle")),
        Seq((3L, "la\nlf"), (4L, "lg\nlh")),
        Seq((5L, "lf\nlg\nli"))),
      Seq("doc_id", "text"), Seq("doc_id", "text", "n_kept", "n_dropped"),
      Seq("h", "batch_id")) { (docs, tbl, sink) =>
      StreamingParagraphDedup.start(docs, "doc_id", "text", indexTable = tbl)(sink)
    }
  }

  test("StreamingSubstringDedup: sink failure at batch 1 + checkpoint restart") {
    sameAsUninterrupted(
      Seq(Seq((1L, "a1 a2 a3 a4 a5")),
        Seq((2L, "x1 a1 a2 a3 x2 x3"), (3L, "p1 p2 p3 p4")),
        Seq((4L, "p1 p2 p3 t1"), (5L, "n1 n2 n3"))),
      Seq("doc_id", "text"), Seq("doc_id", "text"),
      Seq("h", "batch_id")) { (docs, tbl, sink) =>
      StreamingSubstringDedup.start(docs, "doc_id", "text", indexTable = tbl,
        windowTokens = 3)(sink)
    }
  }

  test("StreamingSemanticDedup: sink failure at batch 1 + checkpoint restart") {
    def ang(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r), math.sin(r), 0.0, 0.0).map(_.toFloat)
    }
    sameAsUninterrupted(
      Seq(Seq(1L -> ang(0), 2L -> ang(90)),
        Seq(3L -> ang(10), 4L -> ang(45)),
        Seq(5L -> ang(50), 6L -> ang(180))),
      Seq("id", "v"), Seq("id", "cluster", "dup_of"),
      Seq("id", "cluster", "batch_id")) { (docs, tbl, sink) =>
      StreamingSemanticDedup.start(docs, "id", "v", Seq(Seq(0.0, 0.0, 0.0, 0.0)),
        850000000000L, tbl, indexBuckets = 4)(sink).query
    }
  }
}
