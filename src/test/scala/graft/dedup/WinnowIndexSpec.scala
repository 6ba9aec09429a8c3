package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[WinnowIndex]] lifecycle: fresh-build probe equivalence with the
  * one-shot operator, refresh visibility under the frozen frequency
  * model, parameter freezing via the meta table, and clean drop.
  */
class WinnowIndexSpec extends SparkSpec {
  import spark.implicits._

  private val embedded =
    "the quick brown fox jumps over the lazy dog tonight"

  private def corpus = Seq(
    (1L, s"alpha beta gamma delta $embedded epsilon zeta eta theta"),
    (2L, "completely unrelated words appear in this document here " +
      "nothing shared at all with anything")).toDF("doc_id", "text")

  private def freshName(): String =
    "graft_widx_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")

  test("fresh build + probe == the one-shot winnowMatches") {
    val bench = Seq((900L, embedded)).toDF("bench_id", "text")
    val name = freshName()
    try {
      WinnowIndex.build(bench, "bench_id", "text", name, k = 5, w = 4)
      val probed = WinnowIndex.probe(spark, name, corpus,
          "doc_id", "text", minSharedFps = 2, maxBenchFpFreq = 64L)
        .collect().toSet
      val oneShot = Dedup.winnowMatches(corpus, "doc_id", "text",
          bench, "bench_id", "text", k = 5, w = 4,
          minSharedFps = 2, maxBenchFpFreq = 64L)
        .collect().toSet
      assert(probed === oneShot && probed.nonEmpty)
    } finally WinnowIndex.drop(spark, name)
  }

  test("refresh folds new benchmark items in; freq model stays frozen") {
    val bench0 = Seq(
      (900L, "some other benchmark sentence entirely here today."))
      .toDF("bench_id", "text")
    val name = freshName()
    try {
      WinnowIndex.build(bench0, "bench_id", "text", name, k = 5, w = 4)
      // before refresh: doc 1 matches nothing
      assert(WinnowIndex.probe(spark, name, corpus, "doc_id", "text",
        minSharedFps = 2).collect().isEmpty)
      // refresh with the embedded sentence — its fps have NO freq row
      // (frozen model), so they count as rare and the match surfaces
      WinnowIndex.refresh(
        Seq((901L, embedded)).toDF("bench_id", "text"),
        "bench_id", "text", name)
      val after = WinnowIndex.probe(spark, name, corpus,
        "doc_id", "text", minSharedFps = 2).collect()
      assert(after.length === 1)
      assert(after(0).getAs[Long]("doc_id") === 1L &&
        after(0).getAs[Long]("bench_id") === 901L)
    } finally WinnowIndex.drop(spark, name)
  }

  test("probe derives corpus fps under the FROZEN (k, w) from meta") {
    val bench = Seq((900L, embedded)).toDF("bench_id", "text")
    val name = freshName()
    try {
      WinnowIndex.build(bench, "bench_id", "text", name, k = 7, w = 3)
      val m = spark.table(name + "_meta").head()
      assert(m.getInt(0) === 7 && m.getInt(1) === 3 && m.getLong(2) === 1L)
      // the probe must agree with a one-shot run at the BUILD geometry
      val probed = WinnowIndex.probe(spark, name, corpus,
        "doc_id", "text", minSharedFps = 2).collect().toSet
      val oneShot = Dedup.winnowMatches(corpus, "doc_id", "text",
        bench, "bench_id", "text", k = 7, w = 3,
        minSharedFps = 2).collect().toSet
      assert(probed === oneShot)
    } finally WinnowIndex.drop(spark, name)
  }

  test("fractional cap probes against frozen doc frequencies") {
    // both bench docs carry the sentence → doc-freq 2/2 under the
    // frozen freq table → frac 0.5 suppresses everything
    val bench = Seq((900L, embedded), (901L, embedded))
      .toDF("bench_id", "text")
    val name = freshName()
    try {
      WinnowIndex.build(bench, "bench_id", "text", name, k = 5, w = 4)
      assert(WinnowIndex.probe(spark, name, corpus, "doc_id", "text",
        minSharedFps = 2, maxBenchFpDocFrac = Some(0.5))
        .collect().isEmpty)
      assert(WinnowIndex.probe(spark, name, corpus, "doc_id", "text",
        minSharedFps = 2, maxBenchFpDocFrac = Some(1.0))
        .collect().nonEmpty)
    } finally WinnowIndex.drop(spark, name)
  }

  test("decontaminateRaw: fresh index surgery == the one-shot raw operator") {
    val bench = Seq((900L, embedded)).toDF("bench_id", "text")
    val name = freshName()
    try {
      WinnowIndex.build(bench, "bench_id", "text", name, k = 5, w = 4)
      val probed = WinnowIndex.decontaminateRaw(spark, name, corpus,
          "doc_id", "text", minSharedFps = 2, maxBenchFpFreq = 64L)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      val oneShot = Dedup.winnowDecontaminateRaw(corpus, "doc_id",
          "text", bench, "bench_id", "text", k = 5, w = 4,
          minSharedFps = 2, maxBenchFpFreq = 64L)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      assert(probed === oneShot)
      // the contaminated doc was surgically cut, the clean one intact
      assert(probed.exists(t => t._1 == 1L && t._3 >= 1L &&
        !t._2.contains("quick brown fox")))
      assert(probed.exists(t => t._1 == 2L && t._3 === 0L))
    } finally WinnowIndex.drop(spark, name)
  }

  test("contamination: fresh index fractions == the one-shot operator") {
    val bench = Seq((900L, embedded)).toDF("bench_id", "text")
    val name = freshName()
    try {
      WinnowIndex.build(bench, "bench_id", "text", name, k = 5, w = 4)
      val probed = WinnowIndex.contamination(spark, name, corpus,
          "doc_id", "text", maxBenchFpFreq = 64L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val oneShot = Dedup.winnowContamination(corpus, "doc_id", "text",
          bench, "bench_id", "text", k = 5, w = 4,
          maxBenchFpFreq = 64L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(probed === oneShot)
      // doc 1 embeds the benchmark sentence → positive fraction;
      // doc 2 shares nothing → zero
      assert(probed.exists(t => t._1 == 1L && t._4 > 0.0))
      assert(probed.exists(t => t._1 == 2L && t._4 === 0.0))
    } finally WinnowIndex.drop(spark, name)
  }

  test("driftReport: 0 on a fresh build, exact freq-less share after refresh") {
    val name = freshName()
    try {
      WinnowIndex.build(Seq((900L, embedded)).toDF("bench_id", "text"),
        "bench_id", "text", name, k = 5, w = 4)
      val fresh = WinnowIndex.driftReport(spark, name).head()
      assert(fresh.getAs[Long]("n_fps_total") > 0L)
      assert(fresh.getAs[Long]("n_fps_without_freq") === 0L)
      assert(fresh.getAs[Double]("drift_frac") === 0.0)
      WinnowIndex.refresh(
        Seq((901L, "xylophone quartz jigsaw vexing blimp fjord"))
          .toDF("bench_id", "text"), "bench_id", "text", name)
      val after = WinnowIndex.driftReport(spark, name).head()
      // the refreshed fps are disjoint from the build's (disjoint
      // vocabularies) → freq-less count == the refresh's distinct fps
      val refreshed = graft.text.TextAnalysis.winnowFingerprints(
          Seq((901L, "xylophone quartz jigsaw vexing blimp fjord"))
            .toDF("bench_id", "text"), "bench_id", "text", k = 5, w = 4)
        .select("fp").distinct().count()
      assert(after.getAs[Long]("n_fps_without_freq") === refreshed)
      assert(after.getAs[Long]("n_fps_total") >
        fresh.getAs[Long]("n_fps_total"))
      assert(after.getAs[Double]("drift_frac") > 0.0 &&
        after.getAs[Double]("drift_frac") < 1.0)
    } finally WinnowIndex.drop(spark, name)
  }
}
