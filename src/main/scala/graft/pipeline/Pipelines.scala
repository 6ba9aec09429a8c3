package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.functions._

import graft.encode.Encoding
import graft.io.RatingsIO
import graft.prep.Prep
import graft.recommender.{AlsRecommender, Evaluator, GdMf, Metrics}

/** The reference's three entry-point programs, end-to-end, as library
  * calls — a user of the reference switches by replacing each script
  * with one function (SURVEY §3).
  */
object Pipelines {

  /** `json-to-csv.py` equivalent: NDJSON reviews → project 4 of N
    * fields → rename → headerless CSV (reference `json-to-csv.py:5-12`).
    * Fully distributed scan→sink, one job; returns the row count
    * written, observed on the write itself rather than by re-reading
    * the CSV.
    */
  def jsonToCsv(spark: SparkSession, inPath: String, outPath: String): Long = {
    val written = Observation()
    RatingsIO.writeCsv(RatingsIO.readReviewsJson(spark, inPath)
      .observe(written, count(lit(1)).as("rows")), outPath)
    written.get("rows").asInstanceOf[Long]
  }

  /** The shared ETL prefix of both runners (reference `run_als.py:8-14`,
    * `run_funk_svd.py:6-12`): CSV scan with positional schema →
    * keep-last-per-(item,user) by time → drop time → seeded 70/30
    * split.
    *
    * Runs one job: the one shuffle, a hash partitioning by
    * (item, user) at the session's `spark.sql.shuffle.partitions`
    * (the distribution the keep-last window needs; AQE never coalesces
    * an explicit repartition), has its map stage run here. Train and
    * test are split from a frame over that shuffle's output, so both
    * read the same shuffle files and nothing is cached. The split is a
    * function of the data, the seed and the shuffle width, whether or
    * not the caller persists it.
    */
  def prepare(ratings: DataFrame, trainFrac: Double = 0.7, seed: Long = 7L)
      : (DataFrame, DataFrame) = {
    val width = ratings.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // No full-row dedup first (reference `drop_duplicates()`): with
    // rating as the tie-break, keep-last leaves one row per key, and the
    // rows it could choose between are identical (Prep.dedupKeepLast
    // requires a total order for that).
    val deduped = Prep.dedupKeepLast(
      ratings.repartition(width, col("item"), col("user")),
      keys = Seq("item", "user"),
      orderBy = Seq(col("time"), col("rating")))
    // `time` is dropped after dedup in the reference; kept logically
    // equivalent here (Catalyst prunes it wherever unused)
    val cleaned = Prep.dropColumns(deduped, "time")
    Prep.randomSplit(DatasetBridge.shuffledOnce(cleaned), trainFrac, seed)
  }

  final case class RunResult(metrics: Metrics, predictions: DataFrame)

  /** `run_als.py` equivalent on the MLlib scale path: ETL → fit →
    * distributed predict (clip + cold-start mean fallback) → one-pass
    * eval (reference `run_als.py:8-29`). The reference's `predict` is a
    * driver-side Python row loop; here it is two broadcast joins.
    */
  def runAls(
      csvPath: String, spark: SparkSession,
      params: AlsRecommender.Params = AlsRecommender.Params(),
      seed: Long = 7L): RunResult = {
    val raw = RatingsIO.readRatingsCsv(spark, csvPath)
    runAlsOn(raw, params, seed)
  }

  def runAlsOn(raw: DataFrame,
      params: AlsRecommender.Params = AlsRecommender.Params(),
      seed: Long = 7L): RunResult = {
    val (train, test) = prepare(withTimeIfMissing(raw), seed = seed)
    val model = AlsRecommender.fit(train, params)
    val pred = model.predict(test)
    RunResult(Evaluator.evaluate(pred, "rating", "prediction"), pred)
  }

  /** `run_funk_svd.py` equivalent on the reference-faithful GD path
    * (reference `run_funk_svd.py:6-28`; unseeded there, seeded here per
    * SURVEY §7.1.5). `alternating = true` gives the reference's "ALS"
    * schedule instead.
    */
  def runFunkSvd(
      csvPath: String, spark: SparkSession,
      cfg: GdMf.Config = GdMf.Config(nFactors = 30, epochs = 50),
      seed: Long = 7L): RunResult = {
    val raw = RatingsIO.readRatingsCsv(spark, csvPath)
    runFunkSvdOn(raw, cfg, seed)
  }

  def runFunkSvdOn(raw: DataFrame,
      cfg: GdMf.Config = GdMf.Config(nFactors = 30, epochs = 50),
      seed: Long = 7L): RunResult = {
    val (train, test) = prepare(withTimeIfMissing(raw), seed = seed)
    val model = GdMf.fit(train, cfg)
    val pred = model.predict(test)
    RunResult(Evaluator.evaluate(pred, "rating", "prediction"), pred)
  }

  private def withTimeIfMissing(df: DataFrame): DataFrame =
    if (df.columns.contains("time")) df
    else df.withColumn("time", monotonically_increasing_id())

  /** Knobs for [[curateCorpus]]. `budget = None` skips mixture
    * sampling; `lang = None` keeps all languages.
    */
  final case class CurationConfig(
      lang: Option[String] = None,
      minQuality: Double = 0.3,
      maxTopWordRatio: Double = 0.5,
      budget: Option[Long] = None,
      seqLen: Int = 1024,
      shardCol: String = "source",
      // drop repeated normalized lines across the corpus (C4/CCNet
      // boilerplate removal) before whole-doc dedup; adds one md5-key
      // owner-election agg + one doc_id reassembly shuffle
      paragraphDedup: Boolean = false,
      // CCNet-style LM gate: bucket docs into `n` fluency tiers by the
      // corpus-trained bigram LM and DROP the last (least fluent)
      // tier. Uses the quantile-threshold form — no global sort. Docs
      // too short to score (< 2 words) pass through unjudged.
      // Must be >= 2: with one tier every scored doc is in the dropped
      // bucket while unscorable docs pass — a config that silently
      // INVERTS the gate (curateCorpus rejects it loudly instead).
      fluencyTiers: Option[Int] = None,
      // tier assignment form: false (default) = quantile-threshold
      // map-only path (no global sort — the 100 TB shape; tie regions
      // carry estimation error, so rows-only semantics); true = exact
      // ntile (global sort of doc-count score rows — bit-reproducible
      // cross-engine, the form oracle-gated runs use)
      fluencyExact: Boolean = false,
      // model-based quality gate (GPT-3-style classifier filter): keep
      // docs whose linear logit under these frozen weights is positive
      // (train them on a labeled sample via Quality.trainWeights).
      // Map-only — rides the same scan as the heuristic gates.
      classifierWeights: Option[graft.text.Quality.Weights] = None,
      // Gopher rule gates (Rae et al. 2021): the published heuristic
      // rule set as ONE scan-side predicate (Quality.gopherKeep) —
      // word-count/word-length bounds, symbol/bullet/ellipsis ratios,
      // alpha fraction, stop-word presence. Rides the same map pass
      // as the other gates; integer arithmetic only.
      gopherRules: Option[graft.text.Quality.GopherConfig] = None,
      // crawl-intake HTML → text extraction (TextAnalysis.htmlToText):
      // strip markup BEFORE any content-derived step, so gates score
      // prose (not tag soup), fingerprints key on content (recrawls
      // with different chrome collapse), and paragraph structure
      // survives into paragraph dedup. Map-only, rides the intake scan.
      extractHtml: Boolean = false,
      // crawl-intake byte hygiene ([[intakeClean]]'s kernels) as the
      // FIRST content stage: strip C0/DEL controls → Unicode NFC →
      // C4 line/page rules. Intake must precede every content key —
      // a dedup fingerprint computed on un-NFC'd text differs between
      // composed and decomposed byte twins of the SAME text, so the
      // twins would both survive. Docs failing the C4 page verdict
      // drop here; survivors continue with the kept-lines text.
      // Map-only, rides the intake scan (after extractHtml if set).
      intakeC4: Boolean = false,
      intakeMinWordsPerLine: Int = 3,
      intakeMinKeptLines: Int = 3,
      // crawl-intake URL dedup: collapse recrawls of one canonical URL
      // to the min-doc_id copy before any content processing (column
      // holding the raw URL; Urls.canonicalizeUrl keys the groups)
      urlCol: Option[String] = None,
      // domain balancing (RefinedWeb/C4): after URL dedup, keep at
      // most this many docs per registrable domain (deterministic
      // min-by-md5 survivors, Urls.domainCap). Requires urlCol.
      domainCapN: Option[Int] = None,
      // SURGICAL benchmark decontamination: instead of dropping every
      // doc whose whole-text fingerprint matches a benchmark item,
      // cut the winnow-localized matched spans from the ORIGINAL text
      // and keep the rest (Dedup.winnowDecontaminateRaw — the
      // long-document alternative: a book quoting one benchmark item
      // loses the quote, not the book). Docs whose text is entirely
      // cut away drop; survivors are re-token-counted and the exact
      // dedup keys on the POST-surgery text (two docs differing only
      // by the quote collapse). Duplicate benchmark TEXTS are one
      // item (md5 identity) — the winnow frequency cap counts real
      // distinct benchmark content, not redundant copies.
      surgicalDecon: Boolean = false,
      surgicalMinSharedFps: Int = 2,
      surgicalMaxBenchFpFreq: Long = 64L,
      // contamination-fraction ROUTING for the surgical stage (only
      // meaningful with surgicalDecon = true): (cutFloor, dropFloor).
      // Docs whose contamination fraction (share of distinct winnow
      // fps matching the capped benchmark — Dedup.winnowContamination)
      // reaches dropFloor are dropped OUTRIGHT (a benchmark copy is
      // not salvageable by surgery), the [cutFloor, dropFloor) mid
      // band is surgically cut, and the noise floor below cutFloor
      // passes through untouched (no surgery artifacts from
      // coincidental fingerprint hits). None = cut every matched doc
      // (the plain surgical stage).
      routeFloors: Option[(Double, Double)] = None,
      // DSIR importance-resample gate thresholds (used only when an
      // importanceTarget is passed to curateCorpus): keep docs whose
      // fixed-point target/raw affinity clears this floor (1e9 =
      // at-least-as-target-like-as-raw); hashed-gram bucket count;
      // the paper's n ∈ {1,2} union when importanceUnigrams
      importanceMinAffinityFp: Long = 1000000000L,
      importanceBuckets: Int = 1 << 18,
      importanceUnigrams: Boolean = false,
      // SemDeDup semantic dedup stage (used only when an `embeddings`
      // frame is passed to curateCorpus): FROZEN centroids + exact
      // fixed-point cosine threshold (Curation.semanticDedupFixed).
      // Runs AFTER the exact dedup (the paper's order: lexical first,
      // then embedding-space); docs with no embedding row pass through
      // untouched — there is nothing to compare them against.
      semanticCentroids: Option[Seq[Seq[Double]]] = None,
      semanticThresholdFp: Long = 450000000000L,
      // the mega-cluster skew guard's knobs (semanticDedupFixed):
      // dim MUST cover the embedding width or the Rademacher
      // sub-bucket projects only a prefix and the split weakens
      semanticDim: Int = 64,
      semanticMaxClusterSize: Long = 1L << 20,
      semanticSubPlanes: Int = 6)

  /** One-call crawl-intake cleaner — the byte-hygiene prefix a real
    * pipeline runs BEFORE [[curateCorpus]]'s content stages: strip C0
    * controls and DEL
    * ([[graft.text.TextAnalysis.stripControlChars]]) → Unicode NFC
    * normalization ([[graft.functions.UnicodeExpressions.nfc]] — so
    * composed and decomposed byte forms of the same text share every
    * downstream content key) → C4 line/page rules
    * ([[graft.text.Quality.c4KeptLines]]). Returns the verdict frame
    * `(id, text_kept, n_ctrl_removed, n_kept, keep_doc, n_nonascii)` —
    * cleaned text, per-stage attrition, the page verdict, and the
    * residual non-ASCII count of the kept text (the q235 gate's
    * input, reported here so a caller can chain the charset gate
    * without re-scanning).
    *
    * Scale: the three stages are pure column algebra and FUSE — one
    * map-only whole-stage-codegen pass, zero shuffle (plan-asserted),
    * stateless on a stream. The composition costs exactly one read of
    * the corpus. Hash-gated end to end as q243.
    */
  def intakeClean(docs: DataFrame, idCol: String, textCol: String,
      minWordsPerLine: Int = 3, minKeptLines: Int = 3): DataFrame = {
    import graft.text.{Quality, TextAnalysis}
    // staged selects: strip, NFC, the kept-lines array, and the kept
    // text are each DEFINED once and consumed as attributes downstream
    // — CollapseProject's cost guard keeps multi-referenced non-cheap
    // projections un-inlined, so the fused pass runs each kernel once
    // per row (not once per output column). Still one map-only stage.
    val raw = col(textCol)
    val s1 = docs.select(col(idCol), raw.as("__raw"),
      TextAnalysis.stripControlChars(raw).as("__str"))
    val s2 = s1.select(col(idCol), col("__raw"), col("__str"),
      graft.functions.UnicodeExpressions.nfc(col("__str")).as("__clean"))
    val s3 = s2.select(col(idCol), col("__raw"), col("__clean"),
      (length(col("__raw")) - length(col("__str"))).cast("long")
        .as("n_ctrl_removed"),
      Quality.c4KeptLines(col("__clean"), minWordsPerLine).as("__kept"))
    val s4 = s3.select(col(idCol), col("__raw"), col("__clean"),
      col("n_ctrl_removed"), col("__kept"),
      array_join(col("__kept"), "\n").as("__ktext"))
    s4.select(col(idCol),
      when(col("__raw").isNotNull, col("__ktext")).as("text_kept"),
      col("n_ctrl_removed"),
      when(col("__raw").isNotNull, size(col("__kept")).cast("long"))
        .as("n_kept"),
      Quality.c4PageKeep(col("__clean"), col("__kept"), minKeptLines)
        .as("keep_doc"),
      when(col("__raw").isNotNull,
        // structure chars (tab/newline/CR) are not "non-ASCII" — the
        // kept text is multi-line by construction
        (length(col("__ktext")) -
          length(regexp_replace(col("__ktext"), "[^ -~\t\n\r]", "")))
          .cast("long")).as("n_nonascii"))
  }


  /** [[intakeClean]]'s strip→NFC→C4 chain as an IN-PLACE corpus stage:
    * every non-text column rides through untouched, `textCol` is
    * replaced by the kept-lines text, and docs failing the C4 page
    * verdict are dropped — the form [[curateCorpus]]'s `intakeC4`
    * stage composes (the verdict-frame [[intakeClean]] is the audit
    * face of the same kernels). Same staged-select discipline: each
    * kernel is DEFINED once and consumed as an attribute, so the pass
    * stays one kernel evaluation per row. Map-only, zero shuffle,
    * stateless on a stream.
    */
  def intakeApply(docs: DataFrame, textCol: String,
      minWordsPerLine: Int = 3, minKeptLines: Int = 3): DataFrame = {
    import graft.text.{Quality, TextAnalysis}
    val others = docs.columns.filterNot(_ == textCol).toSeq
    val s1 = docs.select(others.map(col) :+
      TextAnalysis.stripControlChars(col(textCol)).as("__str"): _*)
    val s2 = s1.select(others.map(col) :+
      graft.functions.UnicodeExpressions.nfc(col("__str")).as("__clean"): _*)
    val s3 = s2.select(others.map(col) ++ Seq(col("__clean"),
      Quality.c4KeptLines(col("__clean"), minWordsPerLine).as("__kept")): _*)
    s3.filter(Quality.c4PageKeep(col("__clean"), col("__kept"),
        minKeptLines))
      .select(others.map(col) :+
        array_join(col("__kept"), "\n").as(textCol): _*)
      .select(docs.columns.map(col): _*)
  }

  /** The full LLM training-data curation flow as ONE library call —
    * what a user of the reference's script-per-step world replaces
    * their corpus pipeline with:
    *
    *   optional HTML → text extraction
    *   ([[graft.text.TextAnalysis.htmlToText]]) →
    *   optional byte-hygiene intake (strip C0/DEL → NFC → C4
    *   line/page rules, [[intakeApply]] — BEFORE any content key) →
    *   optional URL-dedup + domain-cap intake ([[graft.text.Urls]]) →
    *   PII scrub →
    *   quality + repetition gates (+ optional trained
    *   classifier gate, [[graft.text.Quality]]) → optional paragraph-
    *   level boilerplate dedup → optional fluency-tier gate →
    *   optional DSIR importance resample against `importanceTarget`
    *   ([[Curation.importanceResample]]) → benchmark decontamination →
    *   exact near-dup dedup (first occurrence wins) → optional
    *   SemDeDup semantic dedup against a caller-supplied `embeddings`
    *   frame ([[Curation.semanticDedupFixed]]) → optional temperature
    *   mixture rebalance → sequence packing.
    *
    * Plan shape at 100 TB: the scrub and both gates are map-only
    * column expressions riding the ingest scan (the repetition gate is
    * the one-pass codegen kernel, not a shuffle); decontamination
    * broadcasts md5'd benchmark fingerprints; dedup is one window
    * shuffle on the content fingerprint; mixture sampling aggregates
    * |groups| rows and broadcasts the rates; packing is one running
    * window per shard. Two corpus-sized shuffles total (dedup key,
    * pack shard) — everything else is scan-side or broadcast; the
    * opt-in paragraph stage adds its own two (line-key owner election,
    * doc reassembly).
    */
  def curateCorpus(docs: DataFrame, benchmark: DataFrame,
      cfg: CurationConfig = CurationConfig(),
      importanceTarget: Option[DataFrame] = None,
      embeddings: Option[DataFrame] = None): DataFrame =
    curateCorpusManaged(docs, benchmark, cfg, importanceTarget,
      embeddings)._1

  /** [[curateCorpus]] with a RELEASE HANDLE for the intermediates the
    * plan keeps cached (the gated scan feeding four branches, the
    * fluency buckets): call it once the returned plan has been
    * materialized (written / collected), the same discipline as
    * [[graft.streaming.StreamingDedup.Run.release]]. The plain
    * overload leaves the blocks to LRU eviction — fine for one-shot
    * jobs, a slow leak in a long-lived session that curates
    * repeatedly.
    */
  def curateCorpusManaged(docs: DataFrame, benchmark: DataFrame,
      cfg: CurationConfig = CurationConfig(),
      importanceTarget: Option[DataFrame] = None,
      embeddings: Option[DataFrame] = None): (DataFrame, () => Unit) = {
    import graft.functions.RepetitionExpressions
    import graft.text.TextAnalysis

    require(embeddings.isEmpty || cfg.semanticCentroids.nonEmpty,
      "embeddings passed without semanticCentroids — the semantic " +
        "dedup stage needs its frozen centroids (train them once via " +
        "clusterBalancedSample's KMeans or pin a fixed set)")
    embeddings.foreach(e => require(
      e.columns.contains("doc_id") && e.columns.contains("embedding"),
      s"embeddings frame must carry (doc_id, embedding), got " +
        e.columns.mkString("(", ", ", ")")))
    cfg.fluencyTiers.foreach(t => require(t >= 2,
      s"fluencyTiers must be >= 2 (got $t): with one tier every scored " +
        "document lands in the dropped bucket and the gate inverts"))
    require(cfg.domainCapN.isEmpty || cfg.urlCol.isDefined,
      "domainCapN requires urlCol (the cap is keyed on the URL's domain)")
    cfg.domainCapN.foreach(n => require(n > 0,
      s"domainCapN must be positive, got $n"))
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // crawl intake: URL-level keep-first dedup BEFORE any content
    // work — recrawls of one canonical URL never reach the scrub/gate
    // scan. One (url, id) agg + one id semi-join; bodies only move in
    // the semi-join's probe side (the standard place to spend the
    // first shuffle of a crawl pipeline). Docs with NO url (null or
    // empty after canonicalization) get a per-row sentinel key so they
    // pass through as singletons instead of collapsing into one
    // null-group survivor (the Urls.urlDedup caller contract).
    // HTML extraction first: every downstream stage — gates,
    // fingerprints, paragraph lines, packing token counts — must see
    // CONTENT, not markup (a raw crawl page is tag soup to the quality
    // gate, and two recrawls with different chrome never share a
    // fingerprint). Map-only expression riding the intake scan.
    val rawDocs = {
      val extracted =
        if (!cfg.extractHtml) docs
        else docs.withColumn("text", TextAnalysis.htmlToText(col("text")))
      // byte hygiene BEFORE any content key (fingerprints, paragraph
      // lines, gate features): strip→NFC→C4, dropping page-rule
      // failures. After HTML extraction — the C4 line rules judge
      // prose lines, not markup.
      if (!cfg.intakeC4) extracted
      else intakeApply(extracted, "text",
        cfg.intakeMinWordsPerLine, cfg.intakeMinKeptLines)
    }

    val intake = cfg.urlCol.fold(rawDocs) { uc =>
      val k = graft.text.Urls.canonicalizeUrl(col(uc))
      val owners = rawDocs.select(col("doc_id"),
        when(k.isNull || k === "",
          concat(lit("\u0000noUrl\u0000"), col("doc_id").cast("string")))
          .otherwise(k).as("__uk"))
        .groupBy(col("__uk")).agg(min(col("doc_id")).as("doc_id"))
      val deduped =
        rawDocs.join(owners.select("doc_id"), Seq("doc_id"), "left_semi")
      // domain balancing rides the deduped intake: cap survivors per
      // registrable domain (deterministic min-by-md5, WindowGroupLimit
      // map-side partial — see Urls.domainCap). Null-URL docs form
      // their own capped "" group — callers with many URL-less docs
      // should assign synthetic hosts first, or skip the cap.
      cfg.domainCapN.fold(deduped)(n =>
        graft.text.Urls.domainCap(deduped, "doc_id", uc, n))
    }

    val scrubbed = intake
      .withColumn("text", regexp_replace(
        regexp_replace(
          regexp_replace(col("text"),
            TextAnalysis.emailPattern, "<EMAIL>"),
          TextAnalysis.ipv4Pattern, "<IP>"),
        TextAnalysis.phonePattern, "<PHONE>"))
    val langGated = cfg.lang.fold(scrubbed)(l => scrubbed.filter(col("lang") === l))
    val gated = langGated
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("__rep", RepetitionExpressions.repetitionCounts(
        array_remove(TextAnalysis.words(TextAnalysis.normalizeText(col("text"))), "")))
      .filter(col("quality") > cfg.minQuality &&
        col("__rep").isNotNull &&
        col("__rep.top_word").cast("double") / col("__rep.n_words")
          <= cfg.maxTopWordRatio &&
        cfg.classifierWeights.fold(lit(true))(w =>
          graft.text.Quality.scoreQuality(col("text"), w) > 0) &&
        cfg.gopherRules.fold(lit(true))(g =>
          graft.text.Quality.gopherKeep(col("text"), g)))
      .drop("__rep")
    val paraClean =
      if (!cfg.paragraphDedup) gated
      else {
        // reassembled text replaces the original; token count and the
        // downstream fingerprint follow the SURVIVING content — docs
        // reduced to nothing ("" after losing every line) fall to the
        // quality gate's floor and drop here. `gated` feeds FOUR
        // branches from here (paragraphDedup's owner agg + probe join
        // + empty-line union, plus this join's left side) — persist it
        // so the scrub/gate scan runs once, not four times
        // (branch-reexecution invariant; released via the returned
        // handle, or LRU-evicted under the plain overload)
        val gatedP = gated.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached += gatedP
        val slim = graft.dedup.Dedup.paragraphDedup(gatedP, "doc_id", "text")
          .select(col("doc_id"), col("text").as("__pd_text"))
        gatedP.drop("text")
          .join(slim, Seq("doc_id"))
          .withColumnRenamed("__pd_text", "text")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
          .filter(col("text") =!= "")
      }
    val fluent = cfg.fluencyTiers.fold(paraClean) { tiers =>
      // buckets stays cached (doc-count-sized, materialized inside
      // fluencyBucketsAtScale): releasing it before the returned plan
      // is materialized would retrain the bigram LM on first action —
      // hence the handle, not an eager unpersist here
      val buckets =
        if (cfg.fluencyExact)
          TextAnalysis.fluencyBuckets(paraClean, "doc_id", "text", tiers)
        else TextAnalysis.fluencyBucketsAtScale(
          paraClean, "doc_id", "text", tiers)
      cached += buckets
      paraClean
        .join(buckets.select(col("doc_id"), col("bucket")), Seq("doc_id"), "left")
        .filter(col("bucket").isNull || col("bucket") < tiers)
        .drop("bucket")
    }
    // data SELECTION rides after the cleaning gates: score what
    // survived, not what dedup/decontamination will drop anyway is
    // deliberate — the resample's model aggs are bucket-bounded, so
    // running them on the gated corpus costs one extra gram scan
    val selected = importanceTarget.fold(fluent)(t =>
      Curation.importanceResample(fluent, "doc_id", "text", t, "text",
        cfg.importanceMinAffinityFp, cfg.importanceBuckets,
        cfg.importanceUnigrams))
    val deconned =
      if (cfg.surgicalDecon) {
        // the surgical stage evaluates `selected` THREE times — the
        // raw fingerprint pass and the raws side inside
        // winnowDecontaminateRaw, plus the join-back's left side —
        // so persist it here and the regex-heavy scrub→gate chain
        // above runs once, not 3× per curation (released via the
        // returned handle, or LRU-evicted under the plain overload)
        val selectedP = selected.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached += selectedP
        // winnow surgery needs a benchmark identity column; md5 of the
        // (deduped) text is deterministic and collapses duplicate
        // benchmark items into one — see the config note
        val bench = benchmark.select(col("text")).distinct()
          .select(md5(coalesce(col("text"), lit(""))).as("__bid"),
            col("text"))
        // routed form: the drop band vanishes here (inner join-back),
        // the mid band carries its surgically cut text, the noise
        // floor carries the original — one fraction pass on top of
        // the plain stage's surgery
        val cut = cfg.routeFloors match {
          case Some((cutFloor, dropFloor)) =>
            graft.dedup.Dedup.winnowRoute(
                selectedP, "doc_id", "text", bench, "__bid", "text",
                cutFloor = cutFloor, dropFloor = dropFloor,
                minSharedFps = cfg.surgicalMinSharedFps,
                maxBenchFpFreq = cfg.surgicalMaxBenchFpFreq)
              .filter(col("verdict") =!= "drop")
              .select(col("doc_id"), col("text_out").as("text_clean"))
          case None =>
            graft.dedup.Dedup.winnowDecontaminateRaw(
                selectedP, "doc_id", "text", bench, "__bid", "text",
                minSharedFps = cfg.surgicalMinSharedFps,
                maxBenchFpFreq = cfg.surgicalMaxBenchFpFreq)
              .select(col("doc_id"), col("text_clean"))
        }
        selectedP.drop("text")
          .join(cut, Seq("doc_id"))
          .withColumnRenamed("text_clean", "text")
          .filter(trim(col("text")) =!= "")
          .withColumn("n_tokens",
            TextAnalysis.tokenCount(col("text")).cast("long"))
      } else Curation.decontaminate(selected, benchmark, "text")
    val cleaned = deconned
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
    val deduped = Prep.dedupKeepFirst(cleaned, Seq("__fp"), Seq(col("doc_id")))
      .drop("__fp")
    // SemDeDup stage (paper order: after the lexical dedup): compute
    // the embedding-space DROP set once and anti-join it away — docs
    // with no embedding row never appear in it and pass through. The
    // survivor frame is materialized+persisted inside
    // semanticDedupFixed; the release handle frees it with the rest.
    val semDeduped = embeddings.fold(deduped) { emb =>
      val surv = Curation.semanticDedupFixed(emb, "doc_id", "embedding",
        cfg.semanticCentroids.get, cfg.semanticThresholdFp,
        cfg.semanticMaxClusterSize, cfg.semanticSubPlanes,
        cfg.semanticDim)
      cached += surv
      val droppedIds = emb.select(col("doc_id"))
        .join(surv.select(col("id").as("doc_id")), Seq("doc_id"),
          "left_anti")
      deduped.join(droppedIds, Seq("doc_id"), "left_anti")
    }
    val sampled = cfg.budget.fold(semDeduped)(b =>
      Curation.mixtureSample(semDeduped, "lang", col("doc_id"), b))
    val packed = Curation.packSequences(
      sampled, cfg.shardCol, "doc_id", col("n_tokens"), cfg.seqLen)
    (packed, () => cached.foreach(_.unpersist()))
  }

  /** [[exportTrainingData]]'s result: the curated+packed corpus, the
    * export UNITS the shard layer ran over (the curated docs, or their
    * sliding-window chunks when `chunkTokens` was set — `(doc_id,
    * text)` with chunk ids spelled `"<doc>:<chunk>"`), the
    * reproducible shard assignment, the per-shard validation manifest,
    * the optional per-epoch training order, and the cache release
    * handle ([[curateCorpusManaged]]'s).
    */
  final case class ExportResult(curated: DataFrame, units: DataFrame,
      assignment: DataFrame, manifest: DataFrame,
      epochOrder: Option[DataFrame], release: () => Unit)

  /** The full training-data export in one call: [[curateCorpus]]'s
    * gate→dedup→decontaminate→pack chain, then the DETERMINISTIC
    * export layer — hash shard assignment + hash within-shard order
    * ([[Examples.shardAssign]]) and the per-shard manifest
    * ([[Examples.shardManifest]]) whose xor checksums validate the
    * written export without re-reading it (diff two runs with
    * [[Examples.manifestDiff]]).
    *
    * Trainer-facing options: `chunkTokens` re-units the export as
    * [[Examples.chunkDocuments]] sliding windows BEFORE sharding (the
    * unit a context-length-bound trainer actually loads; unit ids are
    * `"<doc_id>:<chunk_id>"` strings so chunks shard independently),
    * and `epochs` emits [[Examples.epochShuffle]]'s per-epoch
    * (shard, ord) assignment over the same units — the full epoch-
    * varying read plan, reproducible from the doc ids alone.
    *
    * Composition only — every stage keeps its own oracle gate. The
    * units are built once ([[DatasetBridge.shuffledOnce]]), so the
    * assignment, manifest and epoch order share one curation run.
    */
  def exportTrainingData(docs: DataFrame, benchmark: DataFrame,
      cfg: CurationConfig = CurationConfig(), nShards: Int = 1024,
      importanceTarget: Option[DataFrame] = None,
      embeddings: Option[DataFrame] = None,
      chunkTokens: Option[Int] = None, chunkStride: Option[Int] = None,
      epochs: Option[Int] = None): ExportResult = {
    require(chunkStride.isEmpty || chunkTokens.isDefined,
      "chunkStride without chunkTokens — set the window size too")
    val (curated, release) =
      curateCorpusManaged(docs, benchmark, cfg, importanceTarget, embeddings)
    val units = DatasetBridge.shuffledOnce(
      chunkTokens.fold(curated.select(col("doc_id"), col("text"))) { ct =>
        Examples.chunkDocuments(curated, "doc_id", "text", ct,
            chunkStride.getOrElse(ct))
          .select(concat(col("doc_id").cast("string"), lit(":"),
            col("chunk_id").cast("string")).as("doc_id"),
            col("chunk_text").as("text"))
      })
    ExportResult(curated, units,
      Examples.shardAssign(units, "doc_id", "text", nShards),
      Examples.shardManifest(units, "doc_id", "text", nShards),
      epochs.map(n => Examples.epochShuffle(units, "doc_id", n, nShards)),
      release)
  }
}
