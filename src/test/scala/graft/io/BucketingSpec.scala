package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{CatalogBridge, ListenerBridge}

import graft.SparkSpec

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("co-bucketed tables join without any shuffle exchange") {
    val orders = (1L to 2000L).map(k => (k, s"o$k")).toDF("key", "o")
    val lines = (1L to 2000L).flatMap(k => Seq((k, k * 10), (k, k * 10 + 1)))
      .toDF("key", "l")

    Bucketing.writeBucketedAligned(orders, "graft_bkt_orders", "key", 8, "overwrite")
    Bucketing.writeBucketedAligned(lines, "graft_bkt_lines", "key", 8, "overwrite")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force sort-merge so the exchange (or its absence) is observable
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bkt_orders")
        .join(spark.table("graft_bkt_lines"), "key")
      joined.collect() // execute so AQE finalizes the plan
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty,
        s"expected shuffle-free co-bucketed join, found ${shuffles.size} exchanges")
      assert(joined.count() === 4000)
      // same result as the plain (shuffling) join
      val plain = orders.join(lines, "key")
      assert(joined.exceptAll(plain).count() === 0)
      assert(plain.exceptAll(joined).count() === 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_lines")
    }
  }

  test("compactBucketed shrinks an appended index table, bucketing preserved") {
    val tbl = s"graft_bkt_cmp_${System.nanoTime()}"
    val other = s"graft_bkt_cmp_o_${System.nanoTime()}"
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // simulate the streaming-index lifecycle: one create + 5 appends
      // (each append = one small file set, like one micro-batch fold)
      Bucketing.writeBucketedAligned(
        (1L to 100L).map(k => (k, s"v$k")).toDF("key", "v"), tbl, "key", 8,
        "overwrite")
      (1 to 5).foreach { b =>
        (1L to 100L).map(k => (b * 1000L + k, s"v$b$k")).toDF("key", "v")
          .write.bucketBy(8, "key").sortBy("key")
          .format("parquet").mode("append").saveAsTable(tbl)
      }
      val (rows, before, after) =
        Bucketing.compactBucketed(spark, tbl)
      assert(rows === 600L)
      assert(swapLeftovers(tbl).isEmpty)
      assert(after < before, s"no shrink: $before -> $after")
      assert(after <= 8L, s"more files than buckets: $after")
      assert(spark.table(tbl).count() === 600L)
      // the property the whole exercise exists for: the compacted
      // table still joins bucket-to-bucket with NO index-side exchange
      Bucketing.writeBucketedAligned(
        (1L to 600L).map(k => (k, k)).toDF("key", "x"), other, "key", 8,
        "overwrite")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(tbl).join(spark.table(other), "key")
      joined.collect()
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty,
        s"compaction dropped the bucket spec: ${shuffles.size} exchanges")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}__compact")
      spark.sql(s"DROP TABLE IF EXISTS $other")
    }
  }

  /** The bucket ids of `table`'s data files. */
  private def fileBuckets(table: String): Seq[Int] = {
    val dir = Paths.get(CatalogBridge.entry(spark, table).location)
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).map(f => BucketingUtils.getBucketId(f).get)
      .toSeq
  }

  test("a 400-row append into 32 buckets under AQE writes one file per " +
    "non-empty bucket, in at most 2 tasks") {
    val tbl = s"graft_bkt_app_${System.nanoTime()}"
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val was = keys.map(spark.conf.get)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      Bucketing.writeBucketedAligned((1L to 4000L).map(k => (k, k)).toDF("key", "v"),
        tbl, "key", 32, "overwrite")
      val before = fileBuckets(tbl)
      assert(before.sorted === (0 until 32))
      val batch = (10001L to 10400L).map(k => (k, k)).toDF("key", "v")
      val (_, shape) = shapeOf(
        Bucketing.writeBucketedAligned(batch, tbl, "key", 32, "append"))
      val added = fileBuckets(tbl).diff(before)
      val want = batch.select(pmod(hash(col("key")), lit(32))).distinct()
        .as[Int].collect().sorted.toSeq
      assert(added.sorted === want, "one file per non-empty bucket")
      val writeTasks = shape.stages.filterNot(ListenerBridge.isShuffleMap)
        .map(_.numTasks).sum
      assert(writeTasks <= 2, s"the append's write ran $writeTasks tasks")
      assert(spark.table(tbl).count() === 4400L)
    } finally {
      keys.zip(was).foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("a build without coalescing writes bucket i from shuffle partition " +
    "i, or i mod the partition count below `buckets`") {
    // the aligned write's width: one task per bucket, as wide as the
    // bucket count allows, never two buckets hashed into one task
    val keys = Seq("spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions")
    val was = keys.map(spark.conf.get)
    try {
      spark.conf.set(keys.head, "false")
      for (parts <- Seq(64, 8)) {
        spark.conf.set(keys(1), parts.toString)
        val tbl = s"graft_bkt_width_${parts}_${System.nanoTime()}"
        try {
          Bucketing.writeBucketedAligned((1L to 4000L).map(k => (k, k)).toDF("key", "v"),
            tbl, "key", 32, "overwrite")
          val dir = Paths.get(CatalogBridge.entry(spark, tbl).location)
          val files = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
            .filter(_.endsWith(".parquet")).toSeq
          // part-<task partition>-<uuid>_<bucket>.c000...parquet
          val placed = files.map(f =>
            (f.stripPrefix("part-").take(5).toInt, BucketingUtils.getBucketId(f).get))
          assert(placed.map(_._2).sorted === (0 until 32), s"$parts partitions")
          assert(placed.forall { case (task, bucket) => task == bucket % parts },
            s"$parts partitions: (task, bucket) ${placed.sorted}")
        } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
      }
    } finally keys.zip(was).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("concurrent appends on one session leave its AQE setting as it was") {
    val tbls = Seq("a", "b").map(t => s"graft_bkt_conc_${t}_${System.nanoTime()}")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      tbls.foreach(t => Bucketing.writeBucketedAligned(
        (1L to 100L).map(k => (k, k)).toDF("key", "v"), t, "key", 8, "overwrite"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val appends = tbls.map(t => Future(Bucketing.writeBucketedAligned(
        (101L to 300L).map(k => (k, k)).toDF("key", "v"), t, "key", 8, "append")))
      appends.foreach(Await.result(_, scala.concurrent.duration.Duration(300, "s")))
      assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe)
      tbls.foreach { t =>
        assert(spark.table(t).count() === 300L)
        assert(fileBuckets(t).groupBy(identity).values.forall(_.size <= 2),
          s"$t: more than one file per bucket per write")
      }
    } finally tbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("no io or streaming module sets a session conf") {
    // a writer that pins a session conf races every query planned
    // concurrently on that session (the stream's sink overlaps its
    // index append); the one set allowed is the events readers'
    // legacy-nanos flag, a permanent read setting that nothing restores
    val allowed = "spark.sql.legacy.parquet.nanosAsLong"
    val files = Seq("io", "streaming").flatMap { d =>
      val dir = Paths.get(s"src/main/scala/graft/$d")
      assert(Files.isDirectory(dir), dir)
      Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".scala"))
    }
    assert(files.size > 10)
    val offenders = for {
      f <- files
      (l, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if l.contains("conf.set(") && !l.contains(allowed)
    } yield s"$f:${i + 1}: ${l.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
