package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.Profiling

/** Continuous per-source data card (q178): stream-equals-batch over
  * multi-batch ingest (including cross-batch duplicate exposure and
  * cross-batch language spread), replay idempotence of the fold sink,
  * and the pre-first-trigger contract.
  */
class StreamingDataCardSpec extends SparkSpec {
  import spark.implicits._

  // (source, lang, text): dup text planted across batches AND across
  // sources; langs of source A split across batches
  private val batch1 = Seq(
    ("A", "en", "the quick brown fox jumps over the dog"),
    ("A", "en", "a different first-batch document entirely"),
    ("B", "en", "shared boilerplate page body text here"))
  private val batch2 = Seq(
    ("A", "de", "the quick brown fox jumps over the dog"), // dup of b1/A
    ("B", "en", "shared boilerplate page body text here"), // dup of b1/B
    ("B", "fr", "unique second-batch b document"))

  test("card after two batches equals the batch dataCard over the union") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String)]
    val tbl = s"graft_card_spec_${System.nanoTime()}"
    val run = StreamingDataCard.start(
      mem.toDF().toDF("source", "lang", "text"),
      "source", "text", "lang", tbl) { (_, _) => () }
    try {
      assert(run.card().isEmpty) // pre-first-trigger contract
      mem.addData(batch1: _*)
      run.query.processAllAvailable()
      mem.addData(batch2: _*)
      run.query.processAllAvailable()
      val got = run.card().get.collect().map(_.toSeq).toSet
      val whole = (batch1 ++ batch2).zipWithIndex
        .map { case ((s, l, t), i) => (i.toLong, s, l, t) }
        .toDF("doc_id", "source", "lang", "text")
      val want = Profiling.dataCard(whole, "source", "doc_id", "text",
        "lang").collect().map(_.toSeq).toSet
      assert(got === want)
      // fixture sanity: the card actually exercises cross-batch state —
      // A has 2 langs (split across batches) and 1 dup doc per copy
      val a = run.card().get.filter(col("source") === "A").head()
      assert(a.getAs[Long]("n_langs") === 2L)
      assert(a.getAs[Long]("n_dup_docs") === 2L)
    } finally { run.query.stop(); StreamingDataCard.drop(spark, tbl) }
  }

  test("fold sink: re-folding the same batchId leaves the card unchanged") {
    val rows = Seq(("A", "x"), ("B", "y")).toDF("source", "fp")
    val tbl = s"graft_card_replay_${System.nanoTime()}"
    try {
      def count() = spark.table(tbl).count()
      StandingTable(tbl).foldPartition(rows, 0L)
      StandingTable(tbl).foldPartition(rows, 0L) // replay
      assert(count() === 2L, "replayed batch double-counted")
      StandingTable(tbl).foldPartition(rows, 1L) // new batch
      assert(count() === 4L, "second batch must add")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("streaming vocab drift equals the batch operator over multi-batch ingest") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val ref = Seq("x x x common common", "common y").toDF("text")
    val b1 = Seq("x common common", "z z z")
    val b2 = Seq("common common y y y y")
    val tbl = s"graft_vd_spec_${System.nanoTime()}"
    val run = StreamingVocabDrift.start(mem.toDF().toDF("text"), "text",
      ref, "text", tbl, topK = 10) { (_, _) => () }
    try {
      assert(run.drift().isEmpty) // pre-first-trigger contract
      mem.addData(b1: _*)
      run.query.processAllAvailable()
      mem.addData(b2: _*)
      run.query.processAllAvailable()
      val got = run.drift().get.collect().map(_.toSeq).toSet
      val want = graft.pipeline.Profiling.vocabDrift(ref,
        (b1 ++ b2).toDF("text"), "text", topK = 10)
        .collect().map(_.toSeq).toSet
      assert(got === want)
      // the stream-only token actually drifted
      val z = run.drift().get.filter(col("token") === "z").head()
      assert(z.getAs[Boolean]("drift_down")) // over-represented in B
    } finally { run.query.stop(); spark.sql(s"DROP TABLE IF EXISTS $tbl") }
  }

  test("batch order does not change the card") {
    implicit val sqlCtx = spark.sqlContext
    def runOrder(parts: Seq[Seq[(String, String, String)]]): Set[Seq[Any]] = {
      val mem = MemoryStream[(String, String, String)]
      val tbl = s"graft_card_ord_${System.nanoTime()}"
      val run = StreamingDataCard.start(
        mem.toDF().toDF("source", "lang", "text"),
        "source", "text", "lang", tbl) { (_, _) => () }
      try {
        parts.foreach { p =>
          mem.addData(p: _*); run.query.processAllAvailable()
        }
        run.card().get.collect().map(_.toSeq).toSet
      } finally { run.query.stop(); StreamingDataCard.drop(spark, tbl) }
    }
    assert(runOrder(Seq(batch1, batch2)) === runOrder(Seq(batch2, batch1)))
  }
}
