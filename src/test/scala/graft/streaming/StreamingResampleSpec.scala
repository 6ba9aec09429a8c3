package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The streaming resample fold (q167): out-of-order batches and
  * at-least-once replays must converge to the exact batch answer —
  * the max-merge idempotence/commutativity claim, tested directly
  * through the foldBatch surface.
  */
class StreamingResampleSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    s"graft_rs_spec_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  test("out-of-order folds + a replayed batch equal the batch resample") {
    val all = Seq(
      ("a", 10L, 1L, 1.5), ("a", 90L, 2L, 2.5), ("a", 250L, 3L, 9.0),
      ("b", 130L, 4L, 7.0), ("b", 340L, 5L, 3.0))
      .toDF("k", "t", "id", "v")
    val expected = graft.prep.Prep
      .resampleLocf(all, "k", col("t"), "v", "id", 100L)
      .orderBy("key", "bucket_start_us").collect().toSeq

    val tbl = freshTable()
    try {
      // fold the LATER half first (out of order), then the earlier
      // half, then REPLAY the later half (at-least-once duplicate)
      val late = all.filter(col("t") >= 200L)
      val early = all.filter(col("t") < 200L)
      def fold(df: org.apache.spark.sql.DataFrame): Unit =
        StreamingResample.foldBatch(spark, df, "k", col("t"), "v", "id",
          100L, tbl)
      fold(late); fold(early); fold(late)
      spark.catalog.refreshTable(tbl)
      val got = graft.prep.Prep.locfExpand(
        spark.table(tbl).groupBy(col("key"), col("bucket"))
          .agg(max(col("o")).as("o")), 100L)
        .orderBy("key", "bucket_start_us").collect().toSeq
      assert(got === expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("start(): the live stream's result equals the batch resample") {
    val docs = Seq(
      ("a", 10L, 1L, 1.5), ("a", 290L, 2L, 2.5), ("b", 50L, 3L, 4.0))
      .toDF("k", "t", "id", "v")
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_rs_stream_").toString
    docs.coalesce(2).write.parquet(s"$scratch/in")
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$scratch/in")
    val tbl = freshTable()
    val run = StreamingResample.start(stream, "k", col("t"), "v", "id",
      100L, tbl) { _ => () }
    try {
      run.query.processAllAvailable()
      val got = run.result().get.orderBy("key", "bucket_start_us")
        .collect().toSeq
      val expected = graft.prep.Prep
        .resampleLocf(docs, "k", col("t"), "v", "id", 100L)
        .orderBy("key", "bucket_start_us").collect().toSeq
      assert(got === expected)
    } finally { run.query.stop(); spark.sql(s"DROP TABLE IF EXISTS $tbl") }
  }
}
