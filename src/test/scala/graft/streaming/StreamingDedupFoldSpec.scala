package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.dedup.Dedup

/** StreamingDedup's per-trigger fold: a trigger whose banded join fits
  * the broadcast threshold folds on the driver, and gives the verdicts
  * and index rows of the distributed fold.
  */
class StreamingDedupFoldSpec extends SparkSpec {
  import spark.implicits._

  private def doc(i: Int): String = (0 until 30).map(j => s"g${i}w$j").mkString(" ")

  private val seed = Seq((1L, doc(1)), (2L, doc(2)))

  // (batchId, docs); batch 1 runs a second time after its own append,
  // as a replay after a failed sink does
  private val batch1 = Seq((20L, doc(3) + " again"), (21L, doc(4)),
    (22L, doc(4) + " tail"), (23L, ""), (24L, null))
  private val schedule: Seq[(Long, Seq[(Long, String)])] = Seq(
    0L -> Seq(
      (1L, doc(1)),               // in the seed: a self-match
      (10L, doc(1) + " omega"),   // a near-copy of the seeded 1
      (11L, doc(3)),
      (12L, doc(3) + " extra"),   // a near-copy of 11 in the same batch
      (13L, "too short")),        // no signature
    1L -> batch1,
    1L -> batch1,
    2L -> Seq((30L, doc(4) + " more"), (31L, doc(2) + " x"), (32L, doc(5))))

  private final case class Attempt(verdicts: Seq[(String, Option[String])],
      appended: Seq[String], onDriver: Boolean)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: Seq[_] => s.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted.toSeq

  /** Every attempt of the schedule through `Dedup.probeAndFoldFromSigs`
    * and `StandingTable.append`, ids of type `idType`, under the given
    * broadcast threshold; and the table's rows at the end.
    */
  private def fold(threshold: String, idType: DataType): (Seq[Attempt], Seq[String]) = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(key)
    val tbl = s"graft_sd_fold_${System.nanoTime()}"
    def frame(docs: Seq[(Long, String)]) =
      docs.toDF("doc_id", "text").withColumn("doc_id", $"doc_id".cast(idType))
    spark.conf.set(key, threshold)
    try {
      val schema = StructType(Seq(StructField("owner_id", idType),
        StructField("owner_sig", ArrayType(LongType)),
        StructField("band", IntegerType), StructField("band_hash", LongType)))
      val table = StandingTable.open(spark, tbl, schema, Some("band_hash"), 4,
        Some(Dedup.bucketOwners(frame(seed), "doc_id", "text", 5, 16, 4)))
      val attempts = schedule.map { case (batchId, docs) =>
        val batch = frame(docs)
        val (verdicts, newRows) = Dedup.probeAndFoldFromSigs(batch,
          Dedup.sigTable(batch, "doc_id", "text", 5, 64), spark.table(tbl),
          batchId, "doc_id", 16, 4, 0.7)
        val a = Attempt(
          verdicts.select($"doc_id".cast("string"), $"dup_of".cast("string"))
            .as[(String, Option[String])].collect().sortBy(_._1).toSeq,
          rows(newRows),
          // the distributed fold's hits read the checkpointed join
          !verdicts.queryExecution.analyzed.exists(_.isInstanceOf[LogicalRDD]))
        table.append(newRows, batchId)
        a
      }
      (attempts, rows(spark.table(tbl)))
    } finally {
      spark.conf.set(key, was)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("driver fold equals the distributed fold: verdicts, appended rows, table") {
    val (driver, driverTable) = fold("10485760", LongType)
    val (distributed, distributedTable) = fold("-1", LongType)
    assert(driver.forall(_.onDriver), "a small trigger took the distributed fold")
    assert(!distributed.exists(_.onDriver), "threshold -1 folded on the driver")
    for (((d, r), i) <- driver.zip(distributed).zipWithIndex) {
      assert(d.verdicts === r.verdicts, s"attempt $i verdicts")
      assert(d.appended === r.appended, s"attempt $i appended rows")
    }
    assert(driverTable === distributedTable)

    // the schedule exercises what it names
    val v = driver.map(_.verdicts.toMap)
    assert(v(0) === Map("1" -> None, "10" -> Some("1"), "11" -> None,
      "12" -> None, "13" -> None))
    assert(v(1) === Map("20" -> Some("11"), "21" -> None, "22" -> None,
      "23" -> None, "24" -> None))
    assert(v(2) === v(1), "the replay changed a verdict")
    assert(driver(2).appended.isEmpty, "the replay appended rows again")
    assert(v(3) === Map("30" -> Some("21"), "31" -> Some("2"), "32" -> None))
    // only survivors claim buckets (10 is a duplicate, 1's buckets are
    // owned, 13 has none), and a bucket 11 and 12 share goes to 11
    val owners0 = driver(0).appended.map(_.takeWhile(_ != '|')).toSet
    assert(owners0.contains("11") && owners0.subsetOf(Set("11", "12")), owners0)
  }

  test("a non-long id falls back to the distributed fold, with the same results") {
    val (small, smallTable) = fold("10485760", StringType)
    val (rounds, roundsTable) = fold("-1", StringType)
    assert(!small.exists(_.onDriver), "a string id folded on the driver")
    assert(small === rounds)
    assert(smallTable === roundsTable)
    assert(small.head.verdicts.toMap.apply("10") === Some("1"))
  }
}
