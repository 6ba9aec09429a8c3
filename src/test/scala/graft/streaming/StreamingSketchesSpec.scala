package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.PortableSketches

/** Rolling HLL over a stream (q129): fold-equals-batch and the
  * replay-idempotence claim (max-merge absorbs an at-least-once
  * re-delivery — the property that lets this op skip the dedup
  * indexes' batchId guard).
  */
class StreamingSketchesSpec extends SparkSpec {
  import spark.implicits._

  test("rolling registers after all batches equal the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val run = StreamingSketches.startHll(
      mem.toDF().withColumnRenamed("value", "k"), col("k")) { (_, _) => () }
    try {
      mem.addData(0L until 300L: _*)
      run.query.processAllAvailable()
      mem.addData(200L until 700L: _*) // overlap: max absorbs
      run.query.processAllAvailable()
      val got = run.registers().get
        .as[(Long, Int)].collect().toSet
      val want = PortableSketches.hllRegisters(
        spark.range(700).select(col("id").as("k")), col("k"))
        .as[(Long, Int)].collect().toSet
      assert(got === want)
    } finally { run.query.stop(); run.release() }
  }

  test("rolling CM equals the batch sketch after all triggers") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val tbl = s"graft_cm_stream_${System.nanoTime()}"
    val run = StreamingSketches.startCm(
      mem.toDF().withColumnRenamed("value", "k"), col("k"), tbl) { (_, _) => () }
    try {
      mem.addData((0 until 400).map(i => (i % 13).toString): _*)
      run.query.processAllAvailable()
      mem.addData((0 until 200).map(i => (i % 7).toString): _*)
      run.query.processAllAvailable()
      val got = run.registers().get.as[(Int, Long, Long)].collect().toSet
      val whole = ((0 until 400).map(i => (i % 13).toString)
        ++ (0 until 200).map(i => (i % 7).toString)).toDF("k")
      val want = PortableSketches.cmSketch(whole, col("k"))
        .as[(Int, Long, Long)].collect().toSet
      assert(got === want)
    } finally {
      run.query.stop(); spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("CM sink: re-folding the same batchId leaves read-time sums unchanged") {
    val df = spark.range(500).select((col("id") % 7).cast("string").as("k"))
    val cells = PortableSketches.cmSketch(df, col("k"))
    val tbl = s"graft_cm_replay_${System.nanoTime()}"
    try {
      def summed() = spark.table(tbl).groupBy("row", "col")
        .agg(sum(col("cnt")).as("cnt")).as[(Int, Long, Long)].collect().toSet
      val want = cells.as[(Int, Long, Long)].collect().toSet
      StandingTable(tbl).foldPartition(cells, 0L)
      StandingTable(tbl).foldPartition(cells, 0L) // replay
      assert(summed() === want, "replayed batch double-counted")
      StandingTable(tbl).foldPartition(cells, 1L) // real new batch
      assert(summed() === want.map { case (r, c, n) => (r, c, 2 * n) },
        "second batch must add")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("re-folding the same registers is a no-op (replay idempotence)") {
    val df = spark.range(1000).select(col("id").cast("string").as("k"))
    val regs = PortableSketches.hllRegisters(df, col("k"))
    val refolded = PortableSketches.hllMerge(regs, regs)
      .as[(Long, Int)].collect().toSet
    assert(refolded === regs.as[(Long, Int)].collect().toSet)
  }
}
