package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTENT form of [[Retrieval.bm25TopK]] — the inverted-index
  * artifact a standing decontamination/audit service probes by name,
  * in the same lifecycle discipline as [[graft.similarity.IvfIndex]] /
  * `PqIndex` and the streaming dedup indexes: pay the corpus pass
  * once, fold new documents in O(batch), probe from any later session.
  *
  *  - `<name>_postings` — (token, doc_id, tf, dl): the inverted lists,
  *    with the document length DENORMALIZED onto each posting (the
  *    Lucene norms idea) so scoring never joins a corpus-sized
  *    doc-length table — the probe's only corpus-sized relation is the
  *    postings scan itself. Bucketed by token: a benchmark-sized probe
  *    broadcasts into it, and even a corpus-scale query set would
  *    sort-merge on token without shuffling the index.
  *  - `<name>_df` — (token, df): vocabulary-sized.
  *  - `<name>_stats` — ONE row (n_docs, n_toks).
  *
  * df / n_docs / avgdl are FROZEN at build time (the frozen-quantizer
  * discipline: IVF centroids, PQ codebooks, WordPiece vocab). Refresh
  * appends the batch's postings WITHOUT touching them, so ingest is
  * O(batch) and probe scores stay deterministic functions of the
  * build-time model — refreshed documents are retrievable through the
  * build-time vocabulary, while tokens unseen at build contribute
  * nothing (the [UNK] analog; exactly what a frozen-stats retrieval
  * service does between re-levels). Once drift accumulates,
  * [[rebuild]] re-freezes on the current corpus — the
  * refresh-vs-rebuild split of the ANN indexes.
  *
  * BM25 has no float training state — df/dl/n are exact integers and
  * every probe weight is the [[Retrieval]] fixed-point chain — so
  * unlike IVF/PQ the ONE lifecycle is already hash-gateable end to end
  * (q177 gates build(half) → refresh(half) → probe against a DuckDB
  * replay of the frozen-stats scoring).
  *
  * The three tables are one [[graft.io.Artifact]]: it owns their
  * writes, the refresh append, the staged rebuild and the drop.
  */
object Bm25Index {

  private def artifact(name: String) =
    graft.io.Artifact(name, Seq("postings", "df", "stats"))

  /** Tokenize `corpus` once and materialize all three tables. The one
    * corpus-sized shuffle beyond the tf aggregation is the dl
    * denormalization join — paid once at build, never at probe.
    */
  def build(corpus: DataFrame, idCol: String, textCol: String,
      name: String): Unit = {
    val spark = corpus.sparkSession
    val a = artifact(name)
    val tf = Retrieval.termFreqs(corpus, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDocs = corpus.count()
      require(nDocs > 0, "corpus must be non-empty")
      val nToks = tf.agg(coalesce(sum(col("tf")), lit(0L))).head().getLong(0)
      import spark.implicits._
      a.model("stats", Seq((nDocs, nToks)).toDF("n_docs", "n_toks"))
      a.write("df", tf.groupBy(col("token")).agg(count(lit(1)).as("df")))
      a.bucketed("postings", "token", postings(tf))
    } finally tf.unpersist()
  }

  /** Append-only refresh: tokenize the batch, compute ITS tf/dl, and
    * append the postings as new bucket files — O(batch), nothing
    * existing read or rewritten, df/stats untouched (frozen). Caller
    * contract: batch doc ids are new (re-ingesting an id would stack a
    * second posting set for it — run [[rebuild]] or dedup upstream).
    */
  def refresh(newDocs: DataFrame, idCol: String, textCol: String,
      name: String): Unit =
    artifact(name).append("postings",
      postings(Retrieval.termFreqs(newDocs, idCol, textCol)))

  private def postings(tf: DataFrame): DataFrame = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    tf.join(dl, Seq("doc_id"))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"))
  }

  /** Probe the artifact: [[Retrieval.bm25TopK]]'s exact scoring chain
    * under the FROZEN df/avgdl — on a freshly built index over the
    * same corpus the result is row-identical to the one-shot operator
    * (spec-asserted), and after refreshes it is the frozen-stats
    * scoring the class doc describes. Corpus-sized work: ONE postings
    * scan joined twice against broadcast query-derived relations, then
    * the candidate-sized agg + group-limit window. Lazy.
    */
  def probe(spark: SparkSession, name: String, queries: DataFrame,
      qIdCol: String, qTextCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75, maxDfFraction: Double = 1.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxDfFraction > 0.0 && maxDfFraction <= 1.0,
      s"maxDfFraction must be in (0, 1], got $maxDfFraction")
    val a = artifact(name)
    val st = a.read(spark, "stats").head()
    val nDocs = st.getLong(0)
    val avgdl = st.getLong(1).toDouble / nDocs.toDouble
    val postings = a.read(spark, "postings")
    // self-match exclusion only holds meaning when ids share a key
    // space; a cross-type comparison casts to null and drops all rows
    // (the bm25TopK contract)
    val sameIdType =
      postings.schema("doc_id").dataType == queries.schema(qIdCol).dataType
    val qterms = Retrieval.tokens(queries, qIdCol, qTextCol, "query_id")
      .distinct()
    val dfTab0 = a.read(spark, "df")
      .join(broadcast(qterms.select(col("token")).distinct()), Seq("token"),
        "left_semi")
      .withColumn("idf", Retrieval.idfCol(nDocs.toDouble))
    val dfTab =
      if (maxDfFraction >= 1.0) dfTab0
      else dfTab0.filter(col("df") <= lit(maxDfFraction * nDocs))
    val contrib0 = postings
      .join(broadcast(dfTab.select(col("token"), col("idf"))), Seq("token"))
      .join(broadcast(qterms), Seq("token"))
    val contrib = (if (sameIdType)
      contrib0.filter(col("doc_id") =!= col("query_id"))
    else contrib0)
      .withColumn("w_fp", Retrieval.weightFp(k1, b, avgdl))
    Retrieval.rankTopK(contrib, k)
  }

  /** Offline REBUILD: re-tokenize and re-freeze on the current corpus,
    * staged in full before the swap ([[graft.io.Artifact.rebuild]]).
    * The swap moves the live tables aside first but is not atomic
    * across the three tables, so schedule rebuilds in maintenance
    * windows (the [[graft.similarity.IvfIndex.rebuild]] contract).
    */
  def rebuild(corpus: DataFrame, idCol: String, textCol: String,
      name: String): Unit =
    artifact(name).rebuild(corpus.sparkSession)(build(corpus, idCol, textCol, _))

  /** Drop all three tables (test/maintenance convenience). */
  def drop(spark: SparkSession, name: String): Unit = artifact(name).drop(spark)
}
