package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup.cosine
import graft.functions.VectorExpressions

/** The PERSISTENT form of [[Ann.ivfTopK]] — parity with the streaming
  * dedup indexes: the coarse quantizer's centroids and the inverted
  * lists live as catalog tables, so the expensive parts (KMeans fit,
  * corpus assignment pass) run once, new vectors fold in append-only
  * without retraining, and any later session probes the artifact by
  * name.
  *
  *  - `<name>_centroids` — (list_id, centroid), nlist rows. Artifact-
  *    sized at any corpus scale (driver/broadcast material).
  *  - `<name>_lists` — (neighbor_id, v, list_id), bucketed by
  *    list_id: the probe join needs no exchange on the corpus-sized
  *    side, and refresh appends new bucket files only.
  *
  * Refresh does NOT retrain: new vectors are assigned to the FROZEN
  * centroids (the standard IVF lifecycle — FAISS `add` after `train`;
  * re-clustering is an offline rebuild, not an ingest-path concern).
  * Assignment uses the same euclidean-argmin rule as the KMeans
  * transform that built the lists (on L2-normalized vectors,
  * argmin |v−c|² = argmax (v·c − |c|²/2)), so built and refreshed
  * rows are indistinguishable.
  *
  * Both tables are one [[graft.io.Artifact]]: it owns their writes,
  * the refresh append, the staged rebuild and the drop.
  */
object IvfIndex {

  private def artifact(name: String) =
    graft.io.Artifact(name, Seq("centroids", "lists"))

  /** Train the quantizer on `corpus` and materialize both tables.
    * One KMeans fit (bounded by `trainSampleFraction`, AUTO by default
    * — [[Ann.boundedTrainFraction]], the FAISS sample-training rule) +
    * one assignment pass over the corpus — the same cost as a single
    * [[Ann.ivfTopK]] call, paid once for the artifact's lifetime.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, name: String,
      nlist: Int = 16, seed: Long = 42L,
      trainSampleFraction: Double = -1.0): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    val a = artifact(name)
    val c = Ann.normalized(corpus.select(col(idCol).as("neighbor_id"),
      Ann.asDouble(col(vecCol)).as("v")))
      .withColumn("fv", array_to_vector(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val frac =
        if (trainSampleFraction < 0) Ann.boundedTrainFraction(c.count(), nlist)
        else trainSampleFraction
      val trainSet =
        if (frac >= 1.0) c
        else c.sample(withReplacement = false, frac, seed)
      val km = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("fv")
        .setPredictionCol("list_id").fit(trainSet)
      import spark.implicits._
      a.model("centroids", km.clusterCenters.zipWithIndex
        .map { case (ctr, i) => (i, ctr.toArray) }.toSeq
        .toDF("list_id", "centroid"))
      a.bucketed("lists", "list_id",
        km.transform(c).select(col("neighbor_id"), col("v"), col("list_id")))
    } finally c.unpersist()
  }

  /** Append-only refresh: assign `newVecs` to the frozen centroids and
    * append the rows as new bucket files. Per-refresh cost is one
    * broadcast of nlist centroids + a map-side |batch|·nlist scoring
    * pass + ONE map-combinable groupBy of batch rows — O(batch),
    * independent of index size (nothing existing is read or
    * rewritten), the same posture as the dedup indexes' folds.
    */
  def refresh(newVecs: DataFrame, idCol: String, vecCol: String,
      name: String): Unit = {
    val a = artifact(name)
    val cent = a.read(newVecs.sparkSession, "centroids")
    val c = Ann.normalized(newVecs.select(col(idCol).as("neighbor_id"),
      Ann.asDouble(col(vecCol)).as("v")))
    // euclidean argmin vs the frozen centroids — |c|² − 2 v·c (the v·v
    // term is constant per row); min-struct aggregation instead of a
    // row_number window so the shuffle is map-side combinable
    val assigned = c.crossJoin(broadcast(cent))
      .withColumn("__dist",
        VectorExpressions.dot(col("centroid"), col("centroid"))
          - lit(2.0) * VectorExpressions.dot(col("v"), col("centroid")))
      .groupBy("neighbor_id")
      .agg(min(struct(col("__dist"), col("list_id"), col("v"))).as("b"))
      .select(col("neighbor_id"), col("b.v").as("v"),
        col("b.list_id").as("list_id"))
    a.append("lists", assigned)
  }

  // ----- frozen-quantizer (hash-gateable) lifecycle -----------------
  //
  // The trained lifecycle above is rows-only (KMeans iterates don't
  // replay cross-engine). This twin takes caller-supplied centroids
  // and stores 1e-6 fixed-point unit vectors, so
  // buildFixed + refreshFixed + probeFixed is the SAME pure function
  // as the one-shot [[Ann.ivfTopKFixed]] — which is exactly what the
  // q108b gate checks (it shares q52b's DuckDB oracle): the artifact
  // round-trip provably changes nothing.

  private def fixedCentroidsOf(spark: SparkSession,
      name: String): Seq[Seq[Double]] =
    artifact(name).read(spark, "centroids").orderBy("list_id").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq

  /** Materialize both tables under the FROZEN `centroids` (unit-space
    * vectors, e.g. normalized head embeddings): no KMeans anywhere;
    * lists store (neighbor_id, vf, list_id) with vf the fixed-point
    * unit vector the integer probe ranks with.
    */
  def buildFixed(corpus: DataFrame, idCol: String, vecCol: String,
      name: String, centroids: Seq[Seq[Double]]): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val a = artifact(name)
    a.model("centroids", centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("list_id", "centroid"))
    a.bucketed("lists", "list_id",
      Ann.fixedAssigned(corpus, idCol, vecCol, centroids))
  }

  /** Append-only refresh under the STORED frozen centroids (parquet
    * round-trips doubles exactly, so assignment is bit-identical to
    * build time). O(batch), nothing existing re-read.
    */
  def refreshFixed(newVecs: DataFrame, idCol: String, vecCol: String,
      name: String): Unit =
    artifact(name).append("lists", Ann.fixedAssigned(newVecs, idCol, vecCol,
      fixedCentroidsOf(newVecs.sparkSession, name)))

  /** Probe the frozen-quantizer index: same pure function as
    * [[Ann.ivfTopKFixed]] over the persisted lists. Lazy.
    */
  def probeFixed(spark: SparkSession, name: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nprobe: Int = 4): DataFrame =
    Ann.probeFixedLists(artifact(name).read(spark, "lists"),
      queries, qIdCol, qVecCol, fixedCentroidsOf(spark, name), k, nprobe)

  /** Probe the persisted index: identical semantics and plan tail to
    * [[Ann.ivfTopK]] (cosine-ranked nprobe centroids, exact rank of
    * the probed lists), with the corpus-sized side read from the
    * bucketed lists table. Lazy — callers persist if they re-consume.
    */
  def probe(spark: SparkSession, name: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nprobe: Int = 4, excludeSelf: Boolean = true,
      broadcastProbes: Boolean = true): DataFrame = {
    val centroids = artifact(name).read(spark, "centroids")
    val lists = artifact(name).read(spark, "lists")
    val q = Ann.normalized(queries.select(col(qIdCol).as("query_id"),
      Ann.asDouble(col(qVecCol)).as("v")))
      .withColumnRenamed("v", "qv")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("c_dist").asc, col("list_id"))
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("c_dist", -cosine(col("qv"), col("centroid")))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nprobe)
      .select(col("query_id"), col("qv"), col("list_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val probedSide = if (broadcastProbes) broadcast(probed) else probed
    val joined = lists.join(probedSide, Seq("list_id"))
    (if (excludeSelf)
      joined.filter(col("neighbor_id") =!= col("query_id")) else joined)
      .withColumn("cos_sim", cosine(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Offline REBUILD: retrain the quantizer on the current corpus,
    * staged in full before the swap ([[graft.io.Artifact.rebuild]]:
    * aside first, so a failed swap leaves the previous index
    * recoverable; no multi-table atomic swap, so schedule rebuilds in
    * maintenance windows). This is the periodic counterpart to
    * [[refresh]]: refresh keeps ingest O(batch) under frozen
    * centroids, rebuild re-levels the lists once drift accumulates.
    */
  def rebuild(corpus: DataFrame, idCol: String, vecCol: String, name: String,
      nlist: Int = 16, seed: Long = 42L,
      trainSampleFraction: Double = -1.0): Unit =
    artifact(name).rebuild(corpus.sparkSession)(
      build(corpus, idCol, vecCol, _, nlist, seed, trainSampleFraction))

  /** Drop both tables (test/maintenance convenience). */
  def drop(spark: SparkSession, name: String): Unit = artifact(name).drop(spark)
}
