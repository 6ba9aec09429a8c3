package graft.io

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

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
}
