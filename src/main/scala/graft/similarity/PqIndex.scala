package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup.cosine
import graft.functions.PqExpressions

/** The PERSISTENT form of [[Ann.pqTopK]] — completing the artifact
  * story for both ANN scale paths ([[IvfIndex]] covers IVF): the
  * per-subspace codebooks and the encoded corpus live as catalog
  * tables, so codebook training and the corpus encode pass run once,
  * new vectors fold in append-only under the FROZEN codebooks, and
  * any later session probes by name.
  *
  *  - `<name>_codebooks` — (subspace, code, centroid), m·ks rows.
  *    Artifact-sized (a few KB); collected and re-flattened into the
  *    codegen kernels' literal at probe/refresh time.
  *  - `<name>_codes` — (neighbor_id, v, codes), bucketed by
  *    neighbor_id. `codes` is the m-byte compressed representation
  *    the ADC scan reads; `v` rides along for the exact re-rank of
  *    the shortlist (same two-phase contract as [[Ann.pqTopK]]).
  *
  * Refresh does NOT retrain (FAISS add-after-train): new vectors are
  * encoded against the stored codebooks — one broadcast-literal
  * codegen pass, O(batch), nothing existing re-read or rewritten.
  *
  * Both tables are one [[graft.io.Artifact]]: it owns their writes,
  * the refresh append, the staged rebuild and the drop.
  */
object PqIndex {

  private def artifact(name: String) =
    graft.io.Artifact(name, Seq("codebooks", "codes"))

  /** Train the codebooks on `corpus` (same concurrent-fit machinery as
    * [[Ann.pqTopK]], shared via `trainPqCodebooks`) and materialize
    * both tables.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, name: String,
      m: Int = 8, ks: Int = 16, seed: Long = 42L,
      trainSampleFraction: Double = -1.0,
      fitTimeoutSec: Long = 3600L): Unit = {
    val spark = corpus.sparkSession
    val a = artifact(name)
    val c = Ann.normalized(corpus.select(col(idCol).as("neighbor_id"),
      Ann.asDouble(col(vecCol)).as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = c.select(size(col("v"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val dsub = dim / m
      val frac =
        if (trainSampleFraction < 0) Ann.boundedTrainFraction(c.count(), ks)
        else trainSampleFraction
      val trainSet =
        if (frac >= 1.0) c
        else c.sample(withReplacement = false, frac, seed)
      val flat = Ann.trainPqCodebooks(trainSet, m, ks, dsub, seed,
        fitTimeoutSec, onFailure = () => ())
      import spark.implicits._
      a.model("codebooks", (for (j <- 0 until m; ci <- 0 until ks) yield
        (j, ci, flat.slice((j * ks + ci) * dsub, (j * ks + ci + 1) * dsub).toSeq))
        .toDF("subspace", "code", "centroid"))
      val cent = typedLit(flat.toSeq)
      a.bucketed("codes", "neighbor_id",
        c.withColumn("codes", PqExpressions.encode(col("v"), cent, m, ks))
          .select("neighbor_id", "v", "codes"))
    } finally c.unpersist()
  }

  /** (flattened codebooks, m, ks, dsub) from the stored table — an
    * artifact-sized collect (m·ks rows).
    */
  private def loadCodebooks(spark: SparkSession,
      name: String): (Array[Double], Int, Int, Int) = {
    val rows = artifact(name).read(spark, "codebooks")
      .select("subspace", "code", "centroid").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val ks = rows.map(_.getInt(1)).max + 1
    val dsub = rows.head.getSeq[Double](2).length
    val flat = new Array[Double](m * ks * dsub)
    rows.foreach { r =>
      val base = (r.getInt(0) * ks + r.getInt(1)) * dsub
      val ctr = r.getSeq[Double](2)
      var d = 0
      while (d < dsub) { flat(base + d) = ctr(d); d += 1 }
    }
    (flat, m, ks, dsub)
  }

  /** Append-only refresh: encode `newVecs` against the FROZEN stored
    * codebooks and append. One artifact-sized collect + one map-only
    * codegen encode pass over the batch — O(batch), index never read.
    */
  def refresh(newVecs: DataFrame, idCol: String, vecCol: String,
      name: String): Unit = {
    val (flat, m, ks, _) = loadCodebooks(newVecs.sparkSession, name)
    val cent = typedLit(flat.toSeq)
    artifact(name).append("codes",
      Ann.normalized(newVecs.select(col(idCol).as("neighbor_id"),
        Ann.asDouble(col(vecCol)).as("v")))
        .withColumn("codes", PqExpressions.encode(col("v"), cent, m, ks))
        .select("neighbor_id", "v", "codes"))
  }

  /** Probe the persisted index: ADC shortlist over the stored codes,
    * exact cosine re-rank of the `overfetch·k` survivors — identical
    * semantics and plan tail to [[Ann.pqTopK]]. Lazy.
    */
  def probe(spark: SparkSession, name: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, overfetch: Int = 4): DataFrame = {
    val (flat, m, ks, _) = loadCodebooks(spark, name)
    val cent = typedLit(flat.toSeq)
    val codes = artifact(name).read(spark, "codes")
    val q = Ann.normalized(queries.select(col(qIdCol).as("query_id"),
      Ann.asDouble(col(qVecCol)).as("v"))).withColumnRenamed("v", "qv")
      .withColumn("qtable", PqExpressions.adcTable(col("qv"), cent, m, ks))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val shortlist = codes
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", PqExpressions.adcScore(col("codes"), col("qtable"), ks))
      .withColumn("srank", row_number().over(wAdc))
      .filter(col("srank") <= overfetch * k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    shortlist
      .withColumn("cos_sim", cosine(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  // ----- frozen-codebook (hash-gateable) lifecycle ------------------
  //
  // Twin of the trained lifecycle with caller-supplied codebooks and
  // exact-chain encoding: buildFixed + refreshFixed + probeFixed is
  // the same pure function as the one-shot [[Ann.pqTopKFixed]] — the
  // q109b gate shares q78b's DuckDB oracle, proving the artifact
  // round-trip changes nothing.

  private def fixedCodebooksOf(spark: SparkSession,
      name: String): Seq[Seq[Seq[Double]]] = {
    val rows = artifact(name).read(spark, "codebooks")
      .select("subspace", "code", "centroid").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toSeq))
      .toMap
    val m = rows.keys.map(_._1).max + 1
    val ks = rows.keys.map(_._2).max + 1
    (0 until m).map(j => (0 until ks).map(c => rows((j, c))).toSeq).toSeq
  }

  /** Materialize both tables under the FROZEN `codebooks(j)(c)`
    * (unit-space codewords): codes come from the exact d² chains, no
    * KMeans anywhere. The codes table stores only (neighbor_id,
    * codes) — the pure compressed representation, since the fixed
    * probe has no re-rank pass needing full vectors.
    */
  def buildFixed(corpus: DataFrame, idCol: String, vecCol: String,
      name: String, codebooks: Seq[Seq[Seq[Double]]]): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val a = artifact(name)
    a.model("codebooks", (for (j <- codebooks.indices; ci <- codebooks(j).indices)
      yield (j, ci, codebooks(j)(ci))).toDF("subspace", "code", "centroid"))
    a.bucketed("codes", "neighbor_id", fixedCodes(corpus, idCol, vecCol, codebooks))
  }

  private def fixedCodes(vecs: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    Ann.unitized(vecs, idCol, vecCol)
      .select(col("id").as("neighbor_id"), Ann.pqCodesFixed(codebooks).as("codes"))

  /** Append-only refresh: encode `newVecs` under the STORED frozen
    * codebooks (exact parquet round-trip) and append. O(batch).
    */
  def refreshFixed(newVecs: DataFrame, idCol: String, vecCol: String,
      name: String): Unit =
    artifact(name).append("codes", fixedCodes(newVecs, idCol, vecCol,
      fixedCodebooksOf(newVecs.sparkSession, name)))

  /** Probe the frozen-codebook index: same pure function as
    * [[Ann.pqTopKFixed]] over the persisted codes. Lazy.
    */
  def probeFixed(spark: SparkSession, name: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    val codebooks = fixedCodebooksOf(spark, name)
    val q = Ann.unitized(queries, qIdCol, qVecCol)
      .select(col("id").as("query_id"),
        Ann.pqQTableFixed(codebooks).as("qtable"))
    Ann.pqProbeCodes(artifact(name).read(spark, "codes"), q, k,
      codebooks.size, codebooks.head.size)
  }

  /** Offline REBUILD: retrain codebooks + re-encode, staged in full
    * before the swap — see [[IvfIndex.rebuild]] for the contract.
    */
  def rebuild(corpus: DataFrame, idCol: String, vecCol: String, name: String,
      m: Int = 8, ks: Int = 16, seed: Long = 42L,
      trainSampleFraction: Double = -1.0, fitTimeoutSec: Long = 3600L): Unit =
    artifact(name).rebuild(corpus.sparkSession)(build(corpus, idCol, vecCol,
      _, m, ks, seed, trainSampleFraction, fitTimeoutSec))

  /** Drop both tables (test/maintenance convenience). */
  def drop(spark: SparkSession, name: String): Unit = artifact(name).drop(spark)
}
