package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTENT form of [[Dedup.winnowMatches]] — the benchmark-side
  * winnowing-fingerprint artifact a standing decontamination service
  * probes by name, in the same lifecycle discipline as
  * [[graft.text.Bm25Index]] / `IvfIndex` / `PqIndex`: pay the
  * benchmark fingerprint pass once, fold new benchmark items in
  * O(batch), probe any corpus batch from any later session. The
  * one-shot operator recomputes the benchmark side per call — the
  * wrong cost model for the standing "is tonight's crawl contaminated"
  * service whose benchmark changes rarely and whose corpus arrives
  * continuously.
  *
  *  - `<name>_fps`  — (fp, bench_id, pos): the benchmark fingerprints,
  *    bucketed by fp — a corpus-batch probe joins on fp without
  *    shuffling the index.
  *  - `<name>_freq` — (fp, n_rows, n_docs): the too-common model,
  *    FROZEN at build (the Bm25 df discipline). Probes apply the
  *    MOSS common-fingerprint cap against these build-time counts, so
  *    probe verdicts stay deterministic functions of the build-time
  *    model; fingerprints first seen by a refresh have no freq row and
  *    are treated as rare (count 0 at build — the [UNK] analog).
  *    Once refresh drift accumulates, rebuild by `drop` + `build`.
  *  - `<name>_meta` — ONE row (k, w, n_bench): the gram/window
  *    geometry frozen at build — probes and refreshes derive
  *    fingerprints with the SAME (k, w). Refresh appends under the
  *    fps table's own bucket spec ([[graft.io.Artifact.append]]).
  */
object WinnowIndex {

  private def artifact(name: String) =
    graft.io.Artifact(name, Seq("fps", "freq", "meta"))

  /** Fingerprint `bench` once and materialize all three tables. */
  def build(bench: DataFrame, benchIdCol: String, benchTextCol: String,
      name: String, k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW): Unit = {
    val spark = bench.sparkSession
    import spark.implicits._
    val a = artifact(name)
    val fps = graft.text.TextAnalysis
      .winnowFingerprints(bench, benchIdCol, benchTextCol, k, w)
      .select(col("fp"), col("doc_id").as("bench_id"), col("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // FINGERPRINT-BEARING docs, not all bench rows: the one-shot
    // operator's fractional cap divides by the same denominator
    // (winnowMatchRows counts distinct ids in the fp relation), so a
    // sub-k-length benchmark doc can't skew probe-vs-one-shot parity
    val nBench = fps.select(col("bench_id")).distinct().count()
    try {
      a.bucketed("fps", "fp", fps)
      a.write("freq", fps.groupBy(col("fp"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("bench_id")).as("n_docs")))
      a.model("meta", Seq((k, w, nBench)).toDF("k", "w", "n_bench"))
    } finally fps.unpersist()
  }

  /** Append-only refresh: fingerprint the new benchmark items under
    * the FROZEN (k, w) and append — O(batch); freq/meta untouched.
    * Caller contract: batch bench ids are new (the Bm25Index refresh
    * contract).
    */
  def refresh(newBench: DataFrame, benchIdCol: String,
      benchTextCol: String, name: String): Unit = {
    val a = artifact(name)
    val m = a.read(newBench.sparkSession, "meta").head()
    a.append("fps", graft.text.TextAnalysis
      .winnowFingerprints(newBench, benchIdCol, benchTextCol,
        m.getInt(0), m.getInt(1))
      .select(col("fp"), col("doc_id").as("bench_id"), col("pos")))
  }

  /** Refresh-drift report: ONE row
    * `(n_fps_total, n_fps_without_freq, drift_frac)` over DISTINCT
    * index fingerprints. Fingerprints first seen by a refresh carry no
    * freq row and are treated as rare at probe time (count 0 at build,
    * the [UNK] analog — see [[probe]]); that is the right verdict per
    * fingerprint but says nothing about how STALE the frozen
    * too-common model has become. This is the rebuild signal: once
    * `drift_frac` (freq-less share of the distinct-fp space) crosses
    * the operator's tolerance, `drop` + `build`. One agg over the
    * fps/freq join — index-sized, never corpus-sized.
    */
  def driftReport(spark: SparkSession, name: String): DataFrame =
    artifact(name).read(spark, "fps").select("fp").distinct()
      .join(artifact(name).read(spark, "freq").select(col("fp"), lit(1).as("__f")),
        Seq("fp"), "left")
      .agg(count(lit(1)).as("n_fps_total"),
        count(when(col("__f").isNull, 1)).as("n_fps_without_freq"))
      .withColumn("drift_frac",
        round(col("n_fps_without_freq").cast("double")
          / greatest(col("n_fps_total"), lit(1L)).cast("double"), 6))

  /** Probe the artifact with a corpus batch: the exact
    * [[Dedup.winnowMatches]] report under the frozen geometry and
    * frequency model — on a freshly built index the result is
    * row-identical to the one-shot operator (spec-asserted and gated:
    * q258 shares q251's oracle). Corpus-sized work: the batch's
    * fingerprint pass plus one fp equi-join into the bucketed index.
    */
  /** The frequency-capped index relation `(fp, bench_id, __bpos)`
    * under the frozen model — shared by [[probe]] and
    * [[decontaminateRaw]].
    */
  private def rareIdx(spark: SparkSession, name: String, nBench: Long,
      maxBenchFpFreq: Long,
      maxBenchFpDocFrac: Option[Double]): DataFrame = {
    val freq = artifact(name).read(spark, "freq")
    val rareVerdict = maxBenchFpDocFrac match {
      case Some(f) =>
        require(f > 0.0 && f <= 1.0,
          s"maxBenchFpDocFrac must be in (0, 1], got $f")
        val cap = math.max(1L, math.ceil(f * nBench).toLong)
        freq.select(col("fp"), (col("n_docs") <= cap).as("__rare"))
      case None =>
        freq.select(col("fp"),
          (col("n_rows") <= maxBenchFpFreq).as("__rare"))
    }
    // LEFT join, not semi: a fingerprint first seen by a refresh has
    // no freq row — build-time count 0, i.e. RARE (the [UNK] analog);
    // a semi join would silently drop every refreshed benchmark item
    artifact(name).read(spark, "fps")
      .join(rareVerdict, Seq("fp"), "left")
      .filter(coalesce(col("__rare"), lit(true)))
      .select(col("fp"), col("bench_id"), col("pos").as("__bpos"))
  }

  def probe(spark: SparkSession, name: String, corpus: DataFrame,
      idCol: String, textCol: String, minSharedFps: Int = 2,
      maxBenchFpFreq: Long = 64L,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame = {
    val m = artifact(name).read(spark, "meta").head()
    val (k, w, nBench) = (m.getInt(0), m.getInt(1), m.getLong(2))
    val idx = rareIdx(spark, name, nBench, maxBenchFpFreq,
      maxBenchFpDocFrac)
    graft.text.TextAnalysis
      .winnowFingerprints(corpus, idCol, textCol, k, w)
      .select(col("doc_id"), col("pos").as("__dpos"), col("fp"))
      .join(idx, Seq("fp"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(
        countDistinct(col("fp")).as("n_shared_fps"),
        min(col("__dpos")).as("doc_lo"),
        (max(col("__dpos")) + lit(k - 1).cast("long")).as("doc_hi"),
        min(col("__bpos")).as("bench_lo"),
        (max(col("__bpos")) + lit(k - 1).cast("long")).as("bench_hi"))
      .filter(col("n_shared_fps") >= minSharedFps)
  }

  /** Index-probed RAW-coordinate surgical decontamination — the
    * standing-service form of [[Dedup.winnowDecontaminateRaw]]: the
    * benchmark side comes from the frozen artifact (geometry,
    * fingerprints, too-common model all build-time), the corpus batch
    * pays one raw-fingerprint pass + the fp equi-join into the
    * bucketed index, and the surgery returns the ORIGINAL bytes minus
    * the matched spans. On a fresh index the result is row-identical
    * to the one-shot operator (gated: shares its oracle).
    */
  def decontaminateRaw(spark: SparkSession, name: String,
      corpus: DataFrame, idCol: String, textCol: String,
      minSharedFps: Int = 2, maxBenchFpFreq: Long = 64L,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame = {
    val m = artifact(name).read(spark, "meta").head()
    val (k, w, nBench) = (m.getInt(0), m.getInt(1), m.getLong(2))
    val d = graft.text.TextAnalysis
      .winnowFingerprintsRaw(corpus, idCol, textCol, k, w)
      .select(col("doc_id"), col("fp"), col("raw_lo"), col("raw_hi"))
    Dedup.winnowRawSurgery(d,
      rareIdx(spark, name, nBench, maxBenchFpFreq, maxBenchFpDocFrac)
        .select("fp", "bench_id"),
      corpus.select(col(idCol).as("doc_id"), col(textCol).as("__t")),
      minSharedFps)
  }

  /** Per-document contamination fraction against the frozen artifact
    * — the standing-service form of [[Dedup.winnowContamination]]:
    * the share of each arriving doc's distinct fingerprints matching
    * the index under the frozen frequency model (the metric a
    * continuous pipeline thresholds to route docs between keep /
    * surgical cut / drop). One left join of per-doc distinct fps into
    * the distinct index fp set; on a fresh index row-identical to the
    * one-shot operator (gated: shares its oracle).
    */
  def contamination(spark: SparkSession, name: String, corpus: DataFrame,
      idCol: String, textCol: String, maxBenchFpFreq: Long = 64L,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame = {
    val m = artifact(name).read(spark, "meta").head()
    val (k, w, nBench) = (m.getInt(0), m.getInt(1), m.getLong(2))
    val bset = rareIdx(spark, name, nBench, maxBenchFpFreq,
        maxBenchFpDocFrac)
      .select(col("fp")).distinct()
      .withColumn("__m", lit(1))
    // r18 reshape, mirroring Dedup.winnowContamination: the per-doc
    // distinct-fingerprint denominator is map-side (array_distinct of
    // the kernel selection), so the old full (doc_id, fp) distinct
    // exchange disappears and the per-doc agg partial-aggregates to
    // one row per doc before its shuffle.
    val sel = graft.functions.WinnowExpressions.winnowSelect(
      graft.text.TextAnalysis.normalizeText(
        coalesce(col(textCol), lit(""))), k, w)
    // PlanBarrier: see Dedup.winnowRawRows — keeps the inferred
    // size(__fps) > 0 generate filter off the kernel definition
    graft.plans.PlanBarrier.barrier(corpus
        .select(col(idCol).as("doc_id"),
          array_distinct(transform(sel, s => s.getField("h")))
            .as("__fps")))
      .select(col("doc_id"), size(col("__fps")).cast("long").as("__nf"),
        explode(col("__fps")).as("fp"))
      .join(bset, Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("__nf")).as("n_fps"),
        count(col("__m")).as("n_matched_fps"))
      .withColumn("contamination_frac",
        round(col("n_matched_fps").cast("double")
          / col("n_fps").cast("double"), 6))
  }

  /** Contamination-fraction ROUTING against the frozen artifact — the
    * standing-service form of [[Dedup.winnowRoute]]: keep / cut / drop
    * per arriving doc under the build-time geometry and too-common
    * model ([[contamination]]'s fraction + [[decontaminateRaw]]'s
    * surgery + the shared assembly). On a fresh index row-identical to
    * the one-shot operator (gated: shares its oracle).
    */
  def route(spark: SparkSession, name: String, corpus: DataFrame,
      idCol: String, textCol: String, cutFloor: Double,
      dropFloor: Double, minSharedFps: Int = 2,
      maxBenchFpFreq: Long = 64L,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame = {
    // r18 single-kernel reshape (see Dedup.winnowRoute): one raw
    // kernel scan of the corpus batch; the matched relation feeds
    // both the fraction aggregation and the surgery through one
    // doc_id exchange, and the cut rides the assembly's own text
    // column — the pre-r18 shape ran the normalized + raw kernels
    // separately and shuffled a batch-text-sized text_clean frame.
    val m = artifact(name).read(spark, "meta").head()
    val (k, w, nBench) = (m.getInt(0), m.getInt(1), m.getLong(2))
    val matched = Dedup.winnowRawRows(corpus, idCol, textCol, k, w)
      .join(rareIdx(spark, name, nBench, maxBenchFpFreq,
          maxBenchFpDocFrac)
        .select(col("fp"), col("bench_id")).distinct(), Seq("fp"))
      .repartition(col("doc_id"))
    Dedup.winnowRouteFromMatches(
      corpus.select(col(idCol).as("doc_id"), col(textCol).as("__raw")),
      matched, cutFloor, dropFloor, minSharedFps)
  }

  /** Drop all three tables (test/maintenance convenience). */
  def drop(spark: SparkSession, name: String): Unit = artifact(name).drop(spark)
}
