package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.CatalogBridge

import graft.SparkSpec
import graft.dedup.WinnowIndex
import graft.similarity.{IvfIndex, PqIndex}
import graft.streaming.StandingTable
import graft.text.Bm25Index

/** The persisted-index lifecycle every index shares: a refresh appends
  * under the bucket spec its table has (an index built before a
  * bucket-count change keeps refreshing), an interrupted swap's aside
  * is never dropped or shadowed, and the index modules leave table
  * writes, drops and rebuild staging to [[Artifact]].
  */
class ArtifactSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    s"graft_art_${tag}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** Rewrite `table` in place at 4 buckets, as a build under another
    * bucket count would have left it.
    */
  private def rebucketAt4(table: String, key: String): Unit = {
    Bucketing.writeBucketedAligned(spark.table(table).localCheckpoint(),
      table, key, 4, "overwrite")
    assert(CatalogBridge.entry(spark, table).bucket === Some((key, 4)))
  }

  private def assertSpecKept(table: String, key: String): Unit = {
    assert(CatalogBridge.entry(spark, table).bucket === Some((key, 4)))
    spark.catalog.refreshTable(table)
  }

  /** 200 deterministic 16-dim vectors. */
  private def vectors: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0L until 200L).map(i => (i, Seq.fill(16)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
  }

  test("Bm25Index refreshes under its postings' own bucket spec") {
    val name = fresh("bm25")
    try {
      Bm25Index.build(Seq((1L, "x y"), (2L, "x z")).toDF("doc_id", "text"),
        "doc_id", "text", name)
      rebucketAt4(s"${name}_postings", "token")
      Bm25Index.refresh(Seq((3L, "y y q")).toDF("doc_id", "text"),
        "doc_id", "text", name)
      assertSpecKept(s"${name}_postings", "token")
      val got = Bm25Index.probe(spark, name,
          Seq((99L, "y")).toDF("doc_id", "text"), "doc_id", "text", k = 5)
        .select("doc_id").as[Long].collect().toSet
      assert(got === Set(1L, 3L))
    } finally Bm25Index.drop(spark, name)
  }

  test("WinnowIndex refreshes under its fps' own bucket spec") {
    val embedded = "the quick brown fox jumps over the lazy dog tonight"
    val corpus = Seq(
      (1L, s"alpha beta gamma delta $embedded epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val name = fresh("winnow")
    try {
      WinnowIndex.build(
        Seq((900L, "some other benchmark sentence entirely here today."))
          .toDF("bench_id", "text"), "bench_id", "text", name, k = 5, w = 4)
      rebucketAt4(s"${name}_fps", "fp")
      WinnowIndex.refresh(Seq((901L, embedded)).toDF("bench_id", "text"),
        "bench_id", "text", name)
      assertSpecKept(s"${name}_fps", "fp")
      val got = WinnowIndex.probe(spark, name, corpus, "doc_id", "text",
          minSharedFps = 2)
        .select("doc_id", "bench_id").as[(Long, Long)].collect().toSeq
      assert(got === Seq((1L, 901L)))
    } finally WinnowIndex.drop(spark, name)
  }

  test("IvfIndex refreshes under its lists' own bucket spec") {
    val e = vectors
    val name = fresh("ivf")
    try {
      IvfIndex.build(e.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        name, nlist = 4)
      rebucketAt4(s"${name}_lists", "list_id")
      IvfIndex.refresh(e.filter($"vec_id" % 2 === 1), "vec_id", "embedding", name)
      assertSpecKept(s"${name}_lists", "list_id")
      assert(spark.table(s"${name}_lists").count() === 200L)
      // each refreshed vector is its own nearest neighbor
      val got = IvfIndex.probe(spark, name, e.filter($"vec_id" < 6),
          "vec_id", "embedding", k = 1, nprobe = 4, excludeSelf = false)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      assert(got === (0L until 6L).map(i => (i, i)).toSet)
    } finally IvfIndex.drop(spark, name)
  }

  test("PqIndex refreshes under its codes' own bucket spec") {
    val e = vectors
    val name = fresh("pq")
    try {
      PqIndex.build(e.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        name, m = 4, ks = 8)
      rebucketAt4(s"${name}_codes", "neighbor_id")
      PqIndex.refresh(e.filter($"vec_id" % 2 === 1), "vec_id", "embedding", name)
      assertSpecKept(s"${name}_codes", "neighbor_id")
      assert(spark.table(s"${name}_codes").count() === 200L)
      // a shortlist as long as the corpus re-ranks every row exactly
      val q = e.filter($"vec_id" < 3)
      def pairs(df: DataFrame) =
        df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val got = pairs(PqIndex.probe(spark, name, q, "vec_id", "embedding",
        k = 10, overfetch = 20))
      assert(got === pairs(graft.similarity.Ann.bruteForceTopK(e, "vec_id",
        "embedding", q, "vec_id", "embedding", 10)))
      assert(got.exists(_._2 % 2 == 1))
    } finally PqIndex.drop(spark, name)
  }

  test("an interrupted swap's aside stops swap and open, rows intact") {
    val t = fresh("aside")
    val staged = t + "_staged"
    val rows = Seq(("a", -1L), ("b", 3L))
    try {
      Bucketing.writeBucketedAligned(rows.toDF("h", "batch_id"), t, "h", 4,
        "overwrite")
      Seq(("c", -1L)).toDF("h", "batch_id").write.saveAsTable(staged)
      // a swap cut after moving the live table aside
      spark.sql(s"ALTER TABLE $t RENAME TO ${t}__old")
      val swapErr = intercept[IllegalStateException](
        Artifact.swap(spark, Seq(staged -> t)))
      assert(swapErr.getMessage.contains(s"${t}__old"))
      val openErr = intercept[IllegalStateException](
        StandingTable.open(spark, t,
          org.apache.spark.sql.types.StructType.fromDDL("h STRING"),
          Some("h"), buckets = 4))
      assert(openErr.getMessage.contains(s"${t}__old"))
      assert(!spark.catalog.tableExists(t))
      assert(spark.table(s"${t}__old").as[(String, Long)].collect().toSet ===
        rows.toSet)
      assert(spark.table(staged).count() === 1L)
    } finally Seq(t, s"${t}__old", staged)
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("index modules leave table writes, drops and rebuilds to Artifact") {
    // every persisted index builds, refreshes, rebuilds and drops
    // through Artifact; a direct catalog write or drop in an index
    // module is a second copy of that lifecycle
    val banned = Seq("saveAsTable", "DROP TABLE", "__rebuild",
      "writeBucketedAligned", "bucketBy")
    val files = Seq("text", "similarity", "dedup").flatMap { d =>
      val dir = Paths.get(s"src/main/scala/graft/$d")
      assert(Files.isDirectory(dir), dir)
      Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".scala"))
    }
    assert(files.size > 10)
    val offenders = for {
      f <- files
      (l, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if l.contains(b)
    } yield s"$f:${i + 1}: $b"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
