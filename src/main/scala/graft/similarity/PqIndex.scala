package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup.cosine
import graft.functions.{PqExpressions, VectorExpressions}

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
  */
object PqIndex {

  private def codebooksTable(name: String): String = name + "_codebooks"
  private def codesTable(name: String): String = name + "_codes"

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  private def normalized(df: DataFrame): DataFrame =
    df.withColumn("__nrm",
      sqrt(VectorExpressions.dot(col("v"), col("v"))))
      .withColumn("v",
        when(col("__nrm") > 0, transform(col("v"), x => x / col("__nrm")))
          .otherwise(col("v")))
      .drop("__nrm")

  /** Train the codebooks on `corpus` (same concurrent-fit machinery as
    * [[Ann.pqTopK]], shared via `trainPqCodebooks`) and materialize
    * both tables.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, name: String,
      m: Int = 8, ks: Int = 16, seed: Long = 42L,
      trainSampleFraction: Double = -1.0, fitTimeoutSec: Long = 3600L,
      codeBuckets: Int = 16): Unit = {
    val spark = corpus.sparkSession
    val c = normalized(corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("v")))
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
      (for (j <- 0 until m; ci <- 0 until ks) yield
        (j, ci, flat.slice((j * ks + ci) * dsub, (j * ks + ci + 1) * dsub).toSeq))
        .toDF("subspace", "code", "centroid")
        .coalesce(1).write.format("parquet")
        .mode("overwrite").saveAsTable(codebooksTable(name))
      val cent = typedLit(flat.toSeq)
      // bucket-aligned: one file per bucket, not one per (task, bucket)
      graft.io.Bucketing.writeBucketedAligned(
        c.withColumn("codes", PqExpressions.encode(col("v"), cent, m, ks))
          .select("neighbor_id", "v", "codes"),
        codesTable(name), "neighbor_id", codeBuckets, "overwrite")
    } finally c.unpersist()
  }

  /** (flattened codebooks, m, ks, dsub) from the stored table — an
    * artifact-sized collect (m·ks rows).
    */
  private def loadCodebooks(spark: SparkSession,
      name: String): (Array[Double], Int, Int, Int) = {
    val rows = spark.table(codebooksTable(name))
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
      name: String, codeBuckets: Int = 16): Unit = {
    val spark = newVecs.sparkSession
    val (flat, m, ks, _) = loadCodebooks(spark, name)
    val cent = typedLit(flat.toSeq)
    graft.io.Bucketing.writeBucketedAligned(
      normalized(newVecs.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("v")))
        .withColumn("codes", PqExpressions.encode(col("v"), cent, m, ks))
        .select("neighbor_id", "v", "codes"),
      codesTable(name), "neighbor_id", codeBuckets, "append")
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
    val codes = spark.table(codesTable(name))
    val q = normalized(queries.select(col(qIdCol).as("query_id"),
      asDouble(col(qVecCol)).as("v"))).withColumnRenamed("v", "qv")
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
    val rows = spark.table(codebooksTable(name))
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
      name: String, codebooks: Seq[Seq[Seq[Double]]],
      codeBuckets: Int = 16): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    (for (j <- codebooks.indices; ci <- codebooks(j).indices)
      yield (j, ci, codebooks(j)(ci)))
      .toDF("subspace", "code", "centroid")
      .coalesce(1).write.format("parquet")
      .mode("overwrite").saveAsTable(codebooksTable(name))
    graft.io.Bucketing.writeBucketedAligned(
      Ann.unitized(corpus, idCol, vecCol)
        .select(col("id").as("neighbor_id"),
          Ann.pqCodesFixed(codebooks).as("codes")),
      codesTable(name), "neighbor_id", codeBuckets, "overwrite")
  }

  /** Append-only refresh: encode `newVecs` under the STORED frozen
    * codebooks (exact parquet round-trip) and append. O(batch).
    */
  def refreshFixed(newVecs: DataFrame, idCol: String, vecCol: String,
      name: String, codeBuckets: Int = 16): Unit = {
    val codebooks = fixedCodebooksOf(newVecs.sparkSession, name)
    graft.io.Bucketing.writeBucketedAligned(
      Ann.unitized(newVecs, idCol, vecCol)
        .select(col("id").as("neighbor_id"),
          Ann.pqCodesFixed(codebooks).as("codes")),
      codesTable(name), "neighbor_id", codeBuckets, "append")
  }

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
    Ann.pqProbeCodes(spark.table(codesTable(name)), q, k,
      codebooks.size, codebooks.head.size)
  }

  /** Offline REBUILD: retrain codebooks + re-encode into fresh tables,
    * swap in under `name` — see [[IvfIndex.rebuild]] for the contract.
    */
  def rebuild(corpus: DataFrame, idCol: String, vecCol: String, name: String,
      m: Int = 8, ks: Int = 16, seed: Long = 42L,
      trainSampleFraction: Double = -1.0, fitTimeoutSec: Long = 3600L,
      codeBuckets: Int = 16): Unit = {
    val spark = corpus.sparkSession
    val tmp = name + "__rebuild"
    drop(spark, tmp)
    build(corpus, idCol, vecCol, tmp, m, ks, seed, trainSampleFraction,
      fitTimeoutSec, codeBuckets)
    graft.streaming.StandingTable.swap(spark, Seq(
      codebooksTable(tmp) -> codebooksTable(name),
      codesTable(tmp) -> codesTable(name)))
  }

  /** Drop both tables (test/maintenance convenience). */
  def drop(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${codebooksTable(name)}")
    spark.sql(s"DROP TABLE IF EXISTS ${codesTable(name)}")
  }
}
