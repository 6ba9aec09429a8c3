package graft.encode

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Rating

class EncodingSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    Rating("b", "i1", 5.0, 30L),
    Rating("a", "i2", 3.0, 10L),
    Rating("c", "i1", 1.0, 20L),
    Rating("a", "i3", 4.0, 40L)).toDF

  test("dimension assigns dense contiguous ids 0..n-1 by first appearance") {
    val dim = Encoding.dimension(fixture, "user", "time", "u_id")
    val got = dim.orderBy("u_id").as[(String, Int)].collect().toSeq
    // first-appearance order by min(time): a(10) < c(20) < b(30)
    assert(got === Seq(("a", 0), ("c", 1), ("b", 2)))
  }

  test("encode attaches ids bijectively, preserving row count") {
    val u = Encoding.dimension(fixture, "user", "time", "u_id")
    val i = Encoding.dimension(fixture, "item", "time", "i_id")
    val enc = Encoding.encode(fixture, u, i)
    assert(enc.count() === 4)
    assert(enc.filter(col("u_id").isNull || col("i_id").isNull).count() === 0)
    // decoding back via the dim tables is lossless
    val decoded = enc.select("u_id", "i_id", "rating", "time")
      .join(u, "u_id").join(i, "i_id")
      .select("user", "item", "rating", "time")
    assert(decoded.except(fixture).count() === 0)
  }

  test("dimensionAtScale produces the identical mapping to dimension") {
    // larger key space than partitions so range partitioning is exercised
    val rows = (1 to 500).map { i =>
      Rating(s"u${i % 137}", s"i$i", 1.0, (1000 - i).toLong)
    }
    val df = rows.toDF
    val viaWindow = Encoding.dimension(df, "user", "time", "u_id")
      .orderBy("u_id").as[(String, Int)].collect().toSeq
      .map { case (k, id) => (k, id.toLong) }
    val atScale = Encoding.dimensionAtScale(df, "user", "time", "u_id",
      numPartitions = 7)
      .orderBy("u_id").as[(String, Long)].collect().toSeq
    assert(atScale === viaWindow)
    // dense contiguous 0..n-1 in the wide (Long) id space
    assert(atScale.map(_._2) === (0L until 137L))
  }

  test("dimensionAuto switches implementation at the key-count threshold") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val rows = (1 to 100).map(i => Rating(s"u${i % 17}", s"i$i", 1.0, (200 - i).toLong))
    val df = rows.toDF
    val small = Encoding.dimensionAuto(df, "user", "time", "u_id",
      approxKeys = 17, maxWindowKeys = 1000)
    val big = Encoding.dimensionAuto(df, "user", "time", "u_id",
      approxKeys = 17, maxWindowKeys = 5) // force the at-scale path
    // the swap happened: window path numbers in Int, at-scale in Long
    assert(small.schema("u_id").dataType === IntegerType)
    assert(big.schema("u_id").dataType === LongType)
    // and the mappings are identical
    val a = small.as[(String, Int)].collect().map { case (k, v) => (k, v.toLong) }.sorted.toSeq
    val b = big.as[(String, Long)].collect().sorted.toSeq
    assert(a === b)
  }

  test("ratingStats computes all six statistics in one pass") {
    val st = Encoding.ratingStats(fixture)
    assert(st.nRatings === 4 && st.nUsers === 3 && st.nItems === 3)
    assert(st.minRating === 1.0 && st.maxRating === 5.0)
    assert(math.abs(st.meanRating - 3.25) < 1e-12)
  }

  // user and item keys whose time, rating and key orders all differ, an
  // exact duplicate row, and a null-user and a null-item row that would
  // come first by time and by rating, and add a key, if they were kept
  private def keyedFixture = Seq[(String, String, Double, Long)](
    ("b", "y", 1.0, 30L), ("c", "x", 3.0, 10L), ("a", "z", 2.0, 20L),
    ("c", "x", 3.0, 10L), (null, "z", 0.1, 0L), ("d", null, 0.1, 0L))
    .toDF("user", "item", "rating", "time")

  private def ids(dim: org.apache.spark.sql.DataFrame, key: String, id: String) =
    dim.select(col(key), col(id).cast("long")).as[(String, Long)].collect().toMap

  test("keyed orders the dims by time, else rating, else the key, from the slice's columns") {
    val cases = Seq(
      Seq("user", "item", "rating", "time") -> (Seq("c", "a", "b"), Seq("x", "z", "y")),
      Seq("user", "item", "rating") -> (Seq("b", "a", "c"), Seq("y", "z", "x")),
      Seq("user", "item") -> (Seq("a", "b", "c"), Seq("x", "y", "z")))
    for ((cols, (users, items)) <- cases) withClue(s"$cols: ") {
      val k = Encoding.keyed(keyedFixture.select(cols.map(col): _*))
      assert(ids(k.userDim.df, "user", "u_id") === users.zipWithIndex.map {
        case (u, i) => u -> i.toLong }.toMap)
      assert(ids(k.itemDim.df, "item", "i_id") === items.zipWithIndex.map {
        case (it, i) => it -> i.toLong }.toMap)
      k.release(); k.userDim.release(); k.itemDim.release()
    }
  }

  test("keyed drops null keys from the dims and the stats, and counts exact duplicates") {
    val k = Encoding.keyed(keyedFixture)
    val facts = k.encode(k.slice)
    def six(s: RatingStats) =
      (s.nRatings, s.nUsers, s.nItems, s.minRating, s.maxRating, s.meanRating)
    assert(six(k.stats) === six(Encoding.ratingStats(facts)))
    assert(six(k.stats) === ((4L, 3L, 3L, 1.0, 3.0, 2.25)))
    assert(k.rated === 4L)
    assert(k.stats.avgUserKeyBytes === 1.0 && k.stats.avgItemKeyBytes === 1.0)
    assert(k.userDim.rows === 3L && k.itemDim.rows === 3L)
    // the duplicate stays a fact row; every fact row has both ids
    assert(facts.count() === 4L)
    assert(facts.filter(col("u_id").isNull || col("i_id").isNull).count() === 0L)
    k.release(); k.userDim.release(); k.itemDim.release()
  }

  test("keyed encode gates BprMf's triplet joins: cap 0 shuffles, the default cap broadcasts") {
    val slice = Seq(("u1", "i1"), ("u1", "i2"), ("u2", "i2"), ("u2", "i3")).toDF("user", "item")
    val triplets = Seq(("u1", "i1", "i3"), ("u2", "i2", "i1")).toDF("user", "pos_item", "neg_item")
    val auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // only a hint can broadcast now
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try for ((cap, broadcasts) <- Seq((0L, 0), (Encoding.DefaultAutoBroadcastDimBytes, 3)))
      withClue(s"cap $cap: ") {
        val k = Encoding.keyed(slice, capBytes = cap)
        val encoded = k.encode(triplets, "pos_item" -> "p_id", "neg_item" -> "n_id")
        val plan = encoded.queryExecution.executedPlan.toString
        assert("BroadcastHashJoin".r.findAllIn(plan).size === broadcasts, plan)
        // the pos and neg items read the same item ids
        assert(encoded.select("user", "u_id", "pos_item", "p_id", "neg_item", "n_id")
          .as[(String, Int, String, Int, String, Int)].collect().toSet ===
          Set(("u1", 0, "i1", 0, "i3", 2), ("u2", 1, "i2", 1, "i1", 0)))
        k.release(); k.userDim.release(); k.itemDim.release()
      }
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
  }
}
