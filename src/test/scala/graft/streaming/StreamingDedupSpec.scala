package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  test("cross-batch near-dups drop against the evolving index; novelty survives") {
    // disjoint vocabulary per doc id — a modular-progression vocab
    // (w{(i*31+j*7)%97}) makes distinct ids share long word RUNS, which
    // the dedup then CORRECTLY flags (found the hard way)
    def doc(i: Int): String =
      (0 until 30).map(j => s"d${i}w$j").mkString(" ")
    val mem = MemoryStream[(Long, String)](spark)
    val verdicts = mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val run = StreamingDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text") { (v, _) =>
      verdicts ++= v.select("doc_id", "dup_of")
        .as[(Long, Option[Long])].collect()
    }
    val q = run.query
    try {
      // batch 1: two novel docs — both survive, seed the index
      mem.addData((1L, doc(1)), (2L, doc(2)))
      q.processAllAvailable()
      // batch 2: near-copy of doc 1 (one word appended) + a novel doc
      mem.addData((10L, doc(1) + " omega"), (11L, doc(3)))
      q.processAllAvailable()
      // batch 3: near-copy of batch 2's SURVIVOR (proves the index
      // folded batch 2 in), plus a near-copy of a batch-2 DUP's
      // original (still owned by doc 1)
      mem.addData((20L, doc(3) + " extra"), (21L, doc(1) + " beta"))
      q.processAllAvailable()
    } finally { q.stop(); run.release() }

    val byId = verdicts.toMap
    assert(byId(1L).isEmpty && byId(2L).isEmpty)
    assert(byId(10L) === Some(1L)) // caught by batch-1 index
    assert(byId(11L).isEmpty)      // novel → admitted
    assert(byId(20L) === Some(11L)) // caught by index updated with batch 2
    assert(byId(21L) === Some(1L))  // original owner, not the dropped 10
    assert(verdicts.size === 6)
  }

  test("bucketed-index mode: same cross-batch semantics, append-only table state") {
    def doc(i: Int): String = (0 until 30).map(j => s"t${i}w$j").mkString(" ")
    val tbl = s"graft_sd_spec_${System.nanoTime()}"
    val mem = MemoryStream[(Long, String)](spark)
    val verdicts = mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val run = StreamingDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexTable = Some(tbl)) { (v, _) =>
      verdicts ++= v.select("doc_id", "dup_of")
        .as[(Long, Option[Long])].collect()
    }
    try {
      mem.addData((1L, doc(1)), (2L, doc(2)))
      run.query.processAllAvailable()
      mem.addData((10L, doc(1) + " omega"), (11L, doc(3)))
      run.query.processAllAvailable()
      mem.addData((20L, doc(3) + " extra"), (21L, doc(1) + " beta"))
      run.query.processAllAvailable()
      val byId = verdicts.toMap
      assert(byId(1L).isEmpty && byId(2L).isEmpty)
      assert(byId(10L) === Some(1L))
      assert(byId(11L).isEmpty)
      assert(byId(20L) === Some(11L))
      assert(byId(21L) === Some(1L))
      // index holds exactly the survivors' buckets (3 docs × 16 bands,
      // minus any within-survivor bucket collisions)
      val idx = run.finalIndex().get
      assert(idx.select("owner_id").distinct().count() === 3)
      assert(idx.count() <= 3 * 16)
    } finally {
      run.query.stop()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("replayed batch is idempotent: no self-match, no duplicate index rows") {
    // simulate an at-least-once replay of batch 0: the index table is
    // seeded with batch 0's OWN survivors (what a failed attempt left
    // behind after its append). The replay must report them as
    // survivors — a doc never duplicates itself — and newIndexRows
    // must append nothing (anti-join finds every bucket owned).
    def doc(i: Int): String = (0 until 30).map(j => s"r${i}w$j").mkString(" ")
    val tbl = s"graft_sd_replay_${System.nanoTime()}"
    val docs = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    val seed = graft.dedup.Dedup.bucketIndex(docs, "doc_id", "text")
    val mem = MemoryStream[(Long, String)](spark)
    val verdicts = mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val run = StreamingDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      initialIndex = Some(seed), indexTable = Some(tbl)) { (v, _) =>
      verdicts ++= v.select("doc_id", "dup_of")
        .as[(Long, Option[Long])].collect()
    }
    try {
      val rowsBefore = run.finalIndex().get.count()
      mem.addData((1L, doc(1)), (2L, doc(2)))
      run.query.processAllAvailable()
      assert(verdicts.toMap === Map(1L -> None, 2L -> None),
        "replayed batch self-matched its own failed attempt's index rows")
      assert(run.finalIndex().get.count() === rowsBefore,
        "replay duplicated index rows")
      // cross-doc near-dup detection still fires after the replay
      mem.addData((10L, doc(1) + " omega"))
      run.query.processAllAvailable()
      assert(verdicts.toMap.apply(10L) === Some(1L))
    } finally {
      run.query.stop(); run.release()
      seed.unpersist()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("replay with same-batch near-dup SIBLINGS keeps both survivors (batchId guard)") {
    // the round-7 ADVICE scenario: batch 0 contains two near-duplicate
    // docs A and B — batch-internal dedup is out of scope, so the
    // original attempt admitted BOTH and folded their buckets in
    // (owned by min id = A). Self-match exclusion alone cannot save
    // the replay: B is not matching its OWN entry, it matches A's, and
    // would flip from survivor to dup_of(A). The batch_id probe guard
    // (batch_id < currentBatchId) hides the failed attempt's rows, so
    // the replay reproduces the original verdicts exactly.
    def doc(i: Int): String = (0 until 30).map(j => s"p${i}w$j").mkString(" ")
    val tbl = s"graft_sd_sibling_${System.nanoTime()}"
    val docs = Seq((1L, doc(1)), (2L, doc(1) + " tail")).toDF("doc_id", "text")
    // what batch 0's failed attempt left behind: its survivors' bucket
    // rows, tagged with the writing batchId (MemoryStream batch = 0)
    val attempt = graft.dedup.Dedup.bucketIndex(docs, "doc_id", "text")
      .withColumn("batch_id", lit(0L))
    attempt
      .select("owner_id", "owner_sig", "band", "band_hash", "batch_id")
      .write.bucketBy(32, "band_hash").sortBy("band_hash")
      .format("parquet").mode("overwrite").saveAsTable(tbl)
    attempt.unpersist()
    val mem = MemoryStream[(Long, String)](spark)
    val verdicts = mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val run = StreamingDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexTable = Some(tbl)) { (v, _) =>
      verdicts ++= v.select("doc_id", "dup_of")
        .as[(Long, Option[Long])].collect()
    }
    try {
      val rowsBefore = run.finalIndex().get.count()
      mem.addData((1L, doc(1)), (2L, doc(1) + " tail"))
      run.query.processAllAvailable()
      assert(verdicts.toMap === Map(1L -> None, 2L -> None),
        "replay flipped a same-batch sibling to dup_of")
      assert(run.finalIndex().get.count() === rowsBefore,
        "replay duplicated index rows")
      // the guard does not blind LATER batches: batch 1 probes
      // batch_id < 1 and catches a near-copy of doc 1
      mem.addData((10L, doc(1) + " omega"))
      run.query.processAllAvailable()
      assert(verdicts.toMap.apply(10L) === Some(1L))
    } finally {
      run.query.stop()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("pre-batch_id index table is rejected at start; migrateLegacy unblocks it") {
    def doc(i: Int): String = (0 until 30).map(j => s"m${i}w$j").mkString(" ")
    val tbl = s"graft_sd_legacy_${System.nanoTime()}"
    val seed = graft.dedup.Dedup.bucketIndex(
      Seq((1L, doc(1))).toDF("doc_id", "text"), "doc_id", "text")
    // a round-7 table: no batch_id column
    seed.select("owner_id", "owner_sig", "band", "band_hash")
      .write.bucketBy(32, "band_hash").sortBy("band_hash")
      .format("parquet").mode("overwrite").saveAsTable(tbl)
    seed.unpersist()
    val mem = MemoryStream[(Long, String)](spark)
    try {
      val ex = intercept[IllegalStateException] {
        StreamingDedup.start(mem.toDF().toDF("doc_id", "text"),
          "doc_id", "text", indexTable = Some(tbl)) { (_, _) => () }
      }
      assert(ex.getMessage.contains("migrateLegacy"))
      StandingTable.migrateLegacy(spark, tbl)
      // idempotent: a second call is a no-op, not a second rewrite
      StandingTable.migrateLegacy(spark, tbl)
      assert(swapLeftovers(tbl).isEmpty)
      assert(spark.table(tbl).filter(col("batch_id") =!= -1L).count() === 0)
      val verdicts = mutable.ArrayBuffer.empty[(Long, Option[Long])]
      val run = StreamingDedup.start(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        indexTable = Some(tbl)) { (v, _) =>
        verdicts ++= v.select("doc_id", "dup_of")
          .as[(Long, Option[Long])].collect()
      }
      try {
        // migrated rows are pre-history (-1): visible to batch 0
        mem.addData((10L, doc(1) + " omega"), (11L, doc(2)))
        run.query.processAllAvailable()
        assert(verdicts.toMap === Map(10L -> Some(1L), 11L -> None))
      } finally run.query.stop()
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("bucketed-index mode: per-batch shuffle volume scales with batch, not index") {
    def doc(i: Int): String = (0 until 30).map(j => s"s${i}w$j").mkString(" ")
    val tbl = s"graft_sd_vol_${System.nanoTime()}"
    val mem = MemoryStream[(Long, String)](spark)
    val run = StreamingDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexTable = Some(tbl)) { (_, _) => () }
    try {
      // seed a 400-doc index: ≈ 400 × 16 = 6400 bucket rows
      mem.addData((1 to 400).map(i => (i.toLong, doc(i))): _*)
      run.query.processAllAvailable()
      val indexRows = run.finalIndex().get.count()
      assert(indexRows > 6000L)
      // measure a 10-doc batch: if the fold re-shuffled the index
      // (round-5 updateIndex), shuffle records would exceed indexRows;
      // the bucketed append-only fold moves only batch-derived rows
      val (_, batch) = shapeOf {
        mem.addData((1001 to 1010).map(i => (i.toLong, doc(i))): _*)
        run.query.processAllAvailable()
      }
      assert(batch.shuffleRecordsWritten < indexRows / 2,
        s"batch shuffle ${batch.shuffleRecordsWritten} records vs index $indexRows — " +
          "index-sized re-shuffle regression")
    } finally {
      run.query.stop()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("a throwing sink awaits its batch's index append: no orphaned job") {
    def doc(i: Int): String = (0 until 30).map(j => s"f${i}w$j").mkString(" ")
    val tbl = s"graft_sd_fail_${System.nanoTime()}"
    val sinkDown = new RuntimeException("sink down at batch 1")
    val mem = MemoryStream[(Long, String)](spark)
    val run = StreamingDedup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexTable = Some(tbl)) { (_, batchId) => if (batchId == 1) throw sinkDown }
    val batch1 = (101 to 140).map(i => (i.toLong, doc(i)))
    try {
      mem.addData((1L, doc(1)), (2L, doc(2)))
      run.query.processAllAvailable()
      mem.addData(batch1: _*)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        run.query.awaitTermination(120000L)
      }
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(_ eq sinkDown), s"not the sink's exception: $ex")
      val sc = spark.sparkContext
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty,
        "an index append outlived its failed batch")
      // batch 1's docs are all novel: its appended rows are exactly their
      // buckets
      val want = graft.dedup.Dedup.bucketIndex(batch1.toDF("doc_id", "text"),
        "doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("owner_id", "band", "band_hash").as[(Long, Int, Long)].collect().toSet
      spark.catalog.refreshTable(tbl)
      assert(rows(spark.table(tbl).filter(col("batch_id") === 1L)) === rows(want))
      want.unpersist()
    } finally {
      run.query.stop()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }
}
