package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[Bm25Index]] (q177): the artifact round-trip is inert (probe over
  * a fresh full-corpus build == the one-shot operator), refresh folds
  * batches under FROZEN build-time statistics (hand-computed frozen
  * fixture), unseen-at-build tokens contribute nothing (the [UNK]
  * analog), rebuild re-freezes, drop cleans up.
  */
class Bm25IndexSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, "Apple banana  APPLE"),
      (2L, "banana cherry"),
      (3L, "apple cherry cherry date")).toDF("doc_id", "text")
  }

  /** The exact Retrieval.weightFp chain on driver doubles. */
  private def wFp(tf: Long, dl: Long, df: Long, nDocs: Long,
      avgdl: Double, k1: Double = 1.2, b: Double = 0.75): Long = {
    val idf = math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
    math.floor(idf * ((tf * (k1 + 1.0)) /
      (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))) * 1e6).toLong
  }

  test("probe over a fresh full-corpus build equals the one-shot bm25TopK") {
    import spark.implicits._
    val docs = fixture
    val queries = Seq((99L, "apple cherry")).toDF("doc_id", "text")
    val name = "graft_bm25idx_t1"
    Bm25Index.drop(spark, name)
    try {
      Bm25Index.build(docs, "doc_id", "text", name)
      val probe = Bm25Index.probe(spark, name, queries, "doc_id", "text",
        k = 2)
      val got = probe.as[(Long, Long, Int, Long)].collect().toSet
      val oneShot = Retrieval.bm25TopK(docs, "doc_id", "text", queries,
        "doc_id", "text", k = 2).as[(Long, Long, Int, Long)].collect().toSet
      assert(got === oneShot)
      assert(got.nonEmpty)
      // plan shape: the query-derived relations broadcast into the
      // postings scan, and the top-k is a group-limit, never a full sort
      val opt = probe.queryExecution.optimizedPlan.toString
      assert(opt.contains("WindowGroupLimit"), s"no group limit:\n$opt")
      val phys = probe.queryExecution.executedPlan.toString
      assert(phys.contains("BroadcastHashJoin"),
        s"postings not probed via broadcast:\n$phys")
    } finally Bm25Index.drop(spark, name)
  }

  test("refresh folds a batch under FROZEN build stats; unseen tokens score nothing") {
    import spark.implicits._
    val build = Seq((1L, "x y"), (2L, "x z")).toDF("doc_id", "text")
    val batch = Seq((3L, "y y q")).toDF("doc_id", "text")
    val name = "graft_bm25idx_t2"
    Bm25Index.drop(spark, name)
    try {
      Bm25Index.build(build, "doc_id", "text", name)
      Bm25Index.refresh(batch, "doc_id", "text", name)
      // frozen model: nDocs=2, avgdl=4/2=2, df(y)=1; token q unseen
      val queries = Seq((99L, "y q")).toDF("doc_id", "text")
      val got = Bm25Index.probe(spark, name, queries, "doc_id", "text",
        k = 5).orderBy("rank").as[(Long, Long, Int, Long)].collect().toSeq
      val d3 = wFp(tf = 2, dl = 3, df = 1, nDocs = 2, avgdl = 2.0)
      val d1 = wFp(tf = 1, dl = 2, df = 1, nDocs = 2, avgdl = 2.0)
      assert(d3 > d1) // fixture sanity
      assert(got === Seq((99L, 3L, 1, d3), (99L, 1L, 2, d1)))
      // a query made ONLY of the unseen-at-build token retrieves nothing
      val unseen = Seq((98L, "q")).toDF("doc_id", "text")
      assert(Bm25Index.probe(spark, name, unseen, "doc_id", "text",
        k = 5).count() === 0L)
    } finally Bm25Index.drop(spark, name)
  }

  test("rebuild re-freezes on the current corpus and swaps in place") {
    import spark.implicits._
    val build = Seq((1L, "x y"), (2L, "x z")).toDF("doc_id", "text")
    val batch = Seq((3L, "y y q")).toDF("doc_id", "text")
    val full = build.unionByName(batch)
    val queries = Seq((99L, "y q")).toDF("doc_id", "text")
    val name = "graft_bm25idx_t3"
    Bm25Index.drop(spark, name)
    try {
      Bm25Index.build(build, "doc_id", "text", name)
      Bm25Index.refresh(batch, "doc_id", "text", name)
      Bm25Index.rebuild(full, "doc_id", "text", name)
      val got = Bm25Index.probe(spark, name, queries, "doc_id", "text",
        k = 5).as[(Long, Long, Int, Long)].collect().toSet
      val oneShot = Retrieval.bm25TopK(full, "doc_id", "text", queries,
        "doc_id", "text", k = 5).as[(Long, Long, Int, Long)].collect().toSet
      assert(got === oneShot)
      // post-rebuild, the once-unseen token q now scores
      assert(got.map(_._2).contains(3L))
      // the aside-first swap cleans up the previous generation too
      assert(swapLeftovers(name).isEmpty)
    } finally Bm25Index.drop(spark, name)
  }

  test("rebuild works when no live index exists yet (first deployment)") {
    import spark.implicits._
    val full = Seq((1L, "x y"), (2L, "y q")).toDF("doc_id", "text")
    val queries = Seq((99L, "q")).toDF("doc_id", "text")
    val name = "graft_bm25idx_t5"
    Bm25Index.drop(spark, name)
    try {
      Bm25Index.rebuild(full, "doc_id", "text", name)
      val got = Bm25Index.probe(spark, name, queries, "doc_id", "text",
        k = 5).as[(Long, Long, Int, Long)].collect()
      assert(got.map(_._2).toSet === Set(2L))
    } finally Bm25Index.drop(spark, name)
  }

  test("drop removes all three tables") {
    import spark.implicits._
    val name = "graft_bm25idx_t4"
    Bm25Index.build(Seq((1L, "x")).toDF("doc_id", "text"), "doc_id",
      "text", name)
    assert(spark.catalog.tableExists(s"${name}_postings"))
    assert(spark.catalog.tableExists(s"${name}_df"))
    assert(spark.catalog.tableExists(s"${name}_stats"))
    Bm25Index.drop(spark, name)
    assert(!spark.catalog.tableExists(s"${name}_postings"))
    assert(!spark.catalog.tableExists(s"${name}_df"))
    assert(!spark.catalog.tableExists(s"${name}_stats"))
  }
}
