package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.prep.Prep
import graft.text.TextAnalysis

/** Corpus-curation operators a production training-data pipeline runs
  * between raw ingest and tokenization: incremental refresh (upsert),
  * benchmark decontamination (whole-doc, n-gram, span) + the
  * contamination audit report, DSIR-style importance resampling
  * (batch, frozen-model, artifact save/load), temperature mixture
  * sampling, seeded shuffle-shards, and sequence packing. The
  * reference has no corpus layer (its ETL is `json-to-csv.py:4-12`);
  * these extend the same relational machinery (window dedup,
  * broadcast anti-join, broadcast probes, bounded-domain aggs,
  * running windows) to the LLM-pipeline surface the BASELINE
  * north-star names.
  */
object Curation {

  /** Incremental corpus refresh: merge an updates batch into a base
    * snapshot, keeping the highest-`version` row per key (ties break
    * toward the later sort order of `versionCol` — callers should make
    * versions unique per key). This is union + keep-last window dedup
    * (`Prep.dedupKeepLast`), i.e. one shuffle on the key — no driver
    * state, no per-row comparisons outside the window, so it scales to
    * any snapshot size. Updates with unseen keys insert; matching keys
    * replace.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
      versionCol: Column): DataFrame =
    Prep.dedupKeepLast(base.unionByName(updates), keys, Seq(versionCol))

  /** Curriculum ordering with round-robin source interleaving: rank
    * each source's documents by `difficulty` (asc — easy first; ties
    * on doc_id), then produce the GLOBAL training order that cycles
    * sources at each difficulty rank (r=1 of every source, then r=2,
    * …), the standard anti-"source block" curriculum shape.
    *
    * The global ordinal is NOT a global row_number (a single-partition
    * sort — the thing that dies first at 100 TB). Because the
    * interleaved order is (r, source) lexicographic, the ordinal has a
    * closed form over the per-source counts n_s (a broadcast-sized
    * table): ordinal(r, s) = Σ_{s'} [ min(r−1, n_{s'}) +
    * 1 if (s' < s ∧ n_{s'} ≥ r) ] — each term counts how many docs of
    * s' precede (r, s). One window per source partition + a map-only
    * expression; no global exchange. (The oracle computes the same
    * order via an actual global sort, so the closed form is gated
    * against the naive definition.)
    *
    * Returns (doc_id, source, difficulty, src_rank, ordinal); ordinal
    * is dense 0..n−1 across the corpus.
    */
  def curriculumOrder(docs: DataFrame, idCol: String, sourceCol: String,
      difficulty: Column): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      coalesce(col(sourceCol), lit("")).as("source"),
      difficulty.cast("long").as("difficulty"))
    // bounded artifact: one row per source
    val counts = base.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val withR = base.withColumn("src_rank",
      row_number().over(Window.partitionBy("source")
        .orderBy(col("difficulty"), col("doc_id"))).cast("long"))
    val ordinal =
      if (counts.isEmpty) lit(0L)
      else counts.keys.toSeq.sorted.map { s2 =>
        least(col("src_rank") - 1L, lit(counts(s2))) +
          when(lit(s2) < col("source") &&
            col("src_rank") <= lit(counts(s2)), 1L).otherwise(0L)
      }.reduce(_ + _)
    withR.select(col("doc_id"), col("source"), col("difficulty"),
      col("src_rank"), ordinal.as("ordinal"))
  }

  /** Benchmark decontamination: drop corpus rows whose normalized
    * content fingerprint (`TextAnalysis.fingerprint` — lowercase,
    * whitespace-collapsed md5) appears in the benchmark/eval set, so
    * held-out data never leaks into training. The benchmark side is
    * eval-suite-sized (thousands of documents vs billions in the
    * corpus), so it broadcasts and the anti-join runs map-side against
    * the corpus scan — zero shuffle of corpus rows.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String): DataFrame = {
    val bmFp = benchmark
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .distinct()
    corpus
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(broadcast(bmFp), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** N-gram-collision decontamination — the GPT-3/PaLM recipe: a corpus
    * document is contaminated if it shares ANY word `n`-gram with the
    * benchmark set. Catches PARTIAL inclusion (a benchmark question
    * quoted inside a larger page) that the exact-fingerprint anti-join
    * ([[decontaminate]]) cannot; run both in a real pipeline.
    *
    * Scale shape: benchmark n-grams md5-hash to 16 bytes each
    * (independent of n) and BROADCAST — eval sets are small by
    * construction. The corpus side is a map-only explode to
    * (id, gram-hash) probing the broadcast; only the hit ids (rare)
    * reach the distinct aggregation, and the final anti join removes
    * them. Corpus documents themselves never shuffle.
    */
  def ngramDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 13): DataFrame = {
    import graft.dedup.Dedup
    def grams(df: DataFrame, cols: Column*): DataFrame = df
      .select(cols :+
        TextAnalysis.words(TextAnalysis.normalizeText(col(textCol))).as("__ws"): _*)
      .withColumn("__sh", Dedup.shinglesFromWords(col("__ws"), n))
      .select(cols :+ explode(col("__sh")).as("__gram"): _*)
      .select(cols :+ md5(col("__gram")).as("__gh"): _*)
    val bmGrams = grams(benchmark).distinct()
    val hits = grams(corpus, col(idCol))
      .join(broadcast(bmGrams), Seq("__gh"))
      .select(idCol).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Contamination AUDIT — the reporting counterpart of
    * [[ngramDecontaminate]] (the overlap-statistics tables every
    * serious eval section publishes, GPT-3 appendix C style): for each
    * benchmark document, how many of its `n`-grams occur anywhere in
    * the corpus and how many corpus documents share at least one.
    * Returns (bench_id, n_grams, n_dirty_grams, n_docs_hit) for every
    * benchmark doc — zeros when clean, so the report is a complete
    * audit table, not just the offenders.
    *
    * Scale shape: identical probe to [[ngramDecontaminate]] — the
    * benchmark's distinct (bench_id, gram-hash) pairs broadcast, the
    * corpus side is a map-only explode probing them, and only HIT
    * rows (rare by construction) reach the distinct + two
    * count-distinct aggregations. Corpus documents never shuffle.
    * Note a benchmark doc that also lives in the corpus reports
    * itself as a hit — filter by id afterwards to audit external
    * contamination only.
    */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, corpusIdCol: String, benchIdCol: String,
      n: Int = 13): DataFrame = {
    import graft.dedup.Dedup
    def grams(df: DataFrame, cols: Column*): DataFrame = df
      .select(cols :+
        TextAnalysis.words(TextAnalysis.normalizeText(col(textCol))).as("__ws"): _*)
      .withColumn("__sh", Dedup.shinglesFromWords(col("__ws"), n))
      .select(cols :+ explode(col("__sh")).as("__gram"): _*)
      .select(cols :+ md5(col("__gram")).as("__gh"): _*)
    val bg = grams(benchmark, col(benchIdCol).as("bench_id")).distinct()
    val totals = bg.groupBy("bench_id").agg(count(lit(1)).as("n_grams"))
    val hits = grams(corpus, col(corpusIdCol).as("doc_id"))
      .join(broadcast(bg), Seq("__gh"))
      .select("bench_id", "doc_id", "__gh").distinct()
    val agg = hits.groupBy("bench_id")
      .agg(countDistinct(col("__gh")).as("__dirty"),
        countDistinct(col("doc_id")).as("__docs"))
    totals.join(agg, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_grams"),
        coalesce(col("__dirty"), lit(0L)).as("n_dirty_grams"),
        coalesce(col("__docs"), lit(0L)).as("n_docs_hit"))
  }

  /** RETRIEVAL-BASED contamination audit — the composition real labs
    * run before an eval release: for every benchmark document, BM25
    * ([[graft.text.Retrieval.bm25TopK]]) retrieves its `k` lexically
    * closest corpus documents, and each retrieved pair is then audited
    * for verbatim word-`n`-gram overlap. Where [[contaminationReport]]
    * counts exact n-gram collisions corpus-wide, this surfaces the
    * NEAR-verbatim suspects n-gram hashing alone misses (paraphrases,
    * partial rewrites share vocabulary long before they share a
    * 13-gram) — the reviewer then reads the top pairs.
    *
    * Scale shape: the corpus pays BM25's one (doc, token) shuffle;
    * the n-gram overlap pass explodes grams ONLY for shortlisted docs
    * (an ≤|bench|·k-row id set, broadcast semi-join prune) against the
    * broadcast benchmark grams — corpus documents never shuffle for
    * the audit, and the expensive gram pass touches k docs per query,
    * not the corpus.
    *
    * Returns (bench_id, doc_id, rank, score_fp, n_shared_grams) —
    * one row per retrieved pair, zeros kept (a lexically-close doc
    * with zero shared n-grams is the "paraphrase suspect" row).
    */
  def retrievalContaminationAudit(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, corpusIdCol: String, benchIdCol: String,
      k: Int = 5, n: Int = 5): DataFrame = {
    import graft.dedup.Dedup
    val shortlist = graft.text.Retrieval.bm25TopK(
      corpus, corpusIdCol, textCol, benchmark, benchIdCol, textCol, k)
    def grams(df: DataFrame, idc: Column, as: String): DataFrame = df
      .select(idc.as(as),
        TextAnalysis.words(TextAnalysis.normalizeText(col(textCol))).as("__ws"))
      .withColumn("__sh", Dedup.shinglesFromWords(col("__ws"), n))
      .select(col(as), explode(col("__sh")).as("__gram"))
      .select(col(as), md5(col("__gram")).as("__gh"))
    val bg = grams(benchmark, col(benchIdCol), "query_id").distinct()
    val candIds = shortlist.select(col("doc_id").as("__cand_id")).distinct()
    val cg = grams(
      corpus.join(broadcast(candIds),
        col(corpusIdCol) === col("__cand_id"), "left_semi"),
      col(corpusIdCol), "doc_id").distinct()
    // both sides distinct ⇒ one row per shared (query, doc, gram)
    val overlap = cg.join(broadcast(bg), Seq("__gh"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
    shortlist.join(overlap, Seq("query_id", "doc_id"), "left")
      .select(col("query_id").as("bench_id"), col("doc_id"), col("rank"),
        col("score_fp"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
  }

  /** Surgical (span-level) decontamination: remove from each corpus
    * document every `n`-token span that appears VERBATIM in the
    * benchmark — all occurrences, no keep-first — and reassemble the
    * document from its surviving tokens. Where [[ngramDecontaminate]]
    * drops whole colliding documents (GPT-3-style), this keeps the
    * document and excises only the quoted benchmark passage — the
    * right tool when a long page merely quotes an eval question.
    *
    * Scale shape: the benchmark's distinct rolling-gram hashes
    * broadcast (eval sets are small by definition); the corpus side is
    * a map-only gram probe — corpus text never shuffles for the match.
    * Coverage moves one span row per (rare) hit, interval-coalesced
    * per doc before exploding ([[graft.dedup.Dedup.coveredPositions]]),
    * then one anti-join + one doc reassembly shuffle, both
    * corpus-row-sized.
    *
    * Returns (doc_id, text, n_tokens_kept, n_tokens_removed) for every
    * corpus doc; a doc that IS benchmark text reduces to "".
    * Reassembly is single-space normalized, as in
    * [[graft.dedup.Dedup.substringDedup]].
    */
  def spanDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 50): DataFrame = {
    import graft.dedup.Dedup
    require(n >= 2, "n must be >= 2")
    val bmGrams = Dedup.rollingGrams(
      benchmark.withColumn("__bid", lit(0L)), "__bid", textCol, n)
      .select("h").distinct()
    val covered = Dedup.coveredPositions(
      Dedup.rollingGrams(corpus, idCol, textCol, n)
        .join(broadcast(bmGrams), Seq("h"))
        .select(col("doc_id"), col("pos").as("start"),
          (col("pos") + (n - 1)).as("end")))
    Dedup.reassembleTokens(corpus, idCol, textCol, covered)
  }

  /** Sequence packing: assign each document a `seq_id`/`seq_offset`
    * placing it in a stream of fixed-capacity `seqLen`-token training
    * sequences, packed in `orderCol` order within each `shardCol`
    * shard (a document starts in the sequence its running token count
    * falls into). One running-sum window per shard — the shard column
    * bounds the sort (per-shard, not global), which is what keeps this
    * viable at corpus scale: shards (language, source bucket, date)
    * partition the sort the same way a tokenizer job would be sharded
    * anyway.
    */
  def packSequences(docs: DataFrame, shardCol: String, orderCol: String,
      tokenCountCol: Column, seqLen: Int): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
    docs
      .withColumn("__tok", tokenCountCol.cast("long"))
      .withColumn("__cum", sum(col("__tok")).over(w))
      // start-of-doc position: exact integer math (values < 2^53 so the
      // double division below is exact after floor; DuckDB's `//`
      // floor-div matches for the non-negative token counts here)
      .withColumn("seq_id",
        floor((col("__cum") - col("__tok")) / lit(seqLen.toLong)).cast("long"))
      .withColumn("seq_offset", (col("__cum") - col("__tok")) % lit(seqLen.toLong))
      .drop("__tok", "__cum")
  }

  /** Temperature-based mixture sampling — the standard LLM data-mixing
    * step (multilingual / multi-source rebalancing, temperature τ = 2,
    * i.e. α = 1/τ = 0.5): group g's share of the `budget` is
    * `sqrt(n_g) / Σ sqrt(n_g')` (up-weighting low-resource groups,
    * flattening the head), realized as a per-group Bernoulli rate
    * `min(1, budget·share / n_g)` decided by a hash of the row key —
    * deterministic at any parallelism, cluster size, and engine.
    *
    * α is fixed at 0.5 because `sqrt` is IEEE-exactly-rounded in every
    * engine while `pow(x, α)` is libm-dependent — this keeps the rate
    * table bit-identical cross-engine (the DuckDB oracle hash-matches).
    * The inclusion hash is the first 24 bits of md5(key) compared to
    * rate·2^24 — same md5-prefix trick as the decontamination
    * fingerprints, portable everywhere.
    *
    * Scale shape: one tiny groupBy (|groups| rows) + one scalar agg,
    * broadcast back; the corpus itself sees ONE map-only pass — no
    * shuffle of data rows. At 100 TB the rate table is bytes.
    */
  def mixtureSample(docs: DataFrame, groupCol: String, keyCol: Column,
      budget: Long): DataFrame =
    applyMixtureRates(docs, groupCol, keyCol,
      mixtureRates(docs, groupCol, budget))

  /** The rate table of [[mixtureSample]], exposed so rates trained on a
    * corpus snapshot can be applied elsewhere — most usefully to the
    * continuous-ingest STREAM of the same corpus (stream-static
    * broadcast join; the inclusion decision is a pure row hash, so
    * batch and stream admit identical doc sets).
    */
  def mixtureRates(docs: DataFrame, groupCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val counts = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val sumW = counts.agg(sum(sqrt(col("__n"))).as("__sw"))
    counts.crossJoin(broadcast(sumW))
      .select(col(groupCol),
        least(lit(1.0),
          lit(budget.toDouble) * sqrt(col("__n")) / col("__sw") / col("__n"))
          .as("__rate"))
  }

  /** Apply a [[mixtureRates]] table to a batch OR stream: broadcast
    * join on the group column, keep rows whose 24-bit md5 prefix of
    * the key clears the group's rate. Map-only on the data side.
    */
  def applyMixtureRates(df: DataFrame, groupCol: String, keyCol: Column,
      rates: DataFrame): DataFrame = {
    val h = conv(substring(md5(keyCol.cast("string")), 1, 6), 16, 10).cast("long")
    df.join(broadcast(rates), Seq(groupCol))
      .filter(h < col("__rate") * lit(16777216.0))
      .drop("__rate")
  }

  /** Domain-aware temperature mixture (the C4/RefinedWeb domain
    * REBALANCE, as opposed to [[graft.text.Urls.domainCap]]'s hard
    * cap): derive each document's registrable domain from its URL,
    * then apply the √n mixture machinery over domains — head domains
    * (the 10⁹-doc blog host) are flattened toward the budget while
    * tail domains keep a near-1 rate, and the decision stays the
    * deterministic md5 row hash, so any engine reproduces the exact
    * survivor set.
    *
    * Scale shape inherits both parents: domain derivation is map-only
    * scan-side column math ([[graft.text.Urls.canonicalizeUrl]] chain);
    * the rate table is |domains| rows built from one map-side
    * combinable count agg; the corpus pays ONE map pass and zero
    * data-row shuffles. Contrast with `domainCap`, which needs a
    * domain-partitioned window (group-limit rewritten, but still a
    * shuffle): when the policy is proportional rebalance rather than
    * a hard ceiling, this form is strictly cheaper at 100 TB.
    */
  def domainMixtureSample(docs: DataFrame, idCol: String, urlCol: String,
      budget: Long): DataFrame = {
    import graft.text.Urls
    mixtureSample(
      docs.withColumn("domain",
        Urls.registrableDomain(Urls.hostOf(
          Urls.canonicalizeUrl(col(urlCol))))),
      "domain", col(idCol), budget)
  }

  /** Quality-signal-weighted mixture (the PageRank-rate composition:
    * centrality or any per-group integer score steers the sampling
    * budget instead of [[mixtureRates]]' √n flattening): each group's
    * inclusion rate is its share of the total score, spread over its
    * documents — rate(g) = min(1, budget · score_g / Σscore / n_g) —
    * so a twice-as-central domain keeps twice the documents, and the
    * decision stays the deterministic md5 row hash. `scores` is
    * (groupCol, score_fp) with an INTEGER score (e.g.
    * [[LinkAnalysis.pageRankFixed]]'s rank_fp), which keeps the rate
    * table — and therefore the survivor set — engine-replayable: the
    * only floats are the final correctly-rounded double chain, the
    * same determinism class as [[mixtureRates]]' sqrt.
    *
    * Scale shape: one map-side-combinable count per group, a
    * |groups|-row broadcast rate table, map-only decision pass.
    * Groups absent from `scores` are DROPPED (inner join) — score
    * coverage is the caller's contract.
    */
  def scoreMixtureSample(docs: DataFrame, groupCol: String, keyCol: Column,
      scores: DataFrame, budget: Long): DataFrame =
    applyMixtureRates(docs, groupCol, keyCol,
      scoreMixtureRates(docs, groupCol, scores, budget))

  /** The rate table of [[scoreMixtureSample]], exposed for
    * stream-static reuse (the [[mixtureRates]] precedent). */
  def scoreMixtureRates(docs: DataFrame, groupCol: String,
      scores: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val counts = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    // a NEGATIVE or NULL score is a caller bug (negative rates, or a
    // null rate applyMixtureRates silently drops) — fail loudly at
    // execution, not silently at the sink; zero scores are legal
    // (zero-centrality group ⇒ rate 0) but an all-zero TOTAL makes the
    // budget unmeetable, so that also raises instead of emitting NaN.
    // NULL must be checked explicitly: `null < 0` is null, which the
    // otherwise-branch would pass through — the exact silent-empty
    // failure the guard exists to prevent.
    val checked = scores.withColumn("score_fp",
      when(col("score_fp").isNull || col("score_fp") < 0,
        raise_error(concat(
          lit("scoreMixtureRates: null or negative score_fp for group "),
          coalesce(col(groupCol).cast("string"), lit("<null>")))))
        .otherwise(col("score_fp")))
    val joined = counts.join(checked, Seq(groupCol))
    val sumS = joined.agg(sum(col("score_fp")).as("__ss"))
    joined.crossJoin(broadcast(sumS))
      .select(col(groupCol),
        least(lit(1.0),
          lit(budget.toDouble) * col("score_fp").cast("double")
            / when(col("__ss") > 0, col("__ss").cast("double"))
              .otherwise(raise_error(lit(
                "scoreMixtureRates: score total is not positive — " +
                  "every rate would be NaN/0 and the sample silently empty")))
            / col("__n"))
          .as("__rate"))
  }

  /** Snapshot diff — the corpus-audit primitive between two crawls /
    * dataset versions: per key, `added` (new in `b`), `removed` (gone
    * from `b`), `changed` (present in both, content fingerprint
    * differs), `unchanged`. The ops tool every recurring-crawl
    * pipeline runs before promoting a snapshot (how much churned?),
    * and the input to incremental reprocessing (only added ∪ changed
    * need the expensive stages re-run).
    *
    * Scale shape: fingerprints are computed SCAN-side (`fpCol`
    * resolves against each snapshot's own columns), so the single
    * full-outer hash join
    * shuffles (key, fingerprint) pairs only — document bodies never
    * move. Caller contract: `keyCol` is unique per snapshot (pre-dedup
    * with [[graft.text.Urls.urlDedup]] / `Prep.dedupKeepLast`
    * otherwise — a duplicated key would fan out in the join).
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, keyCol: String,
      fpCol: Column): DataFrame = {
    // explicit presence flags, NOT fingerprint-null checks: a null-text
    // row present in both snapshots must read `unchanged`, and a
    // text⇄null transition must read `changed` — hence the null-safe
    // fingerprint comparison (<=>)
    val fa = a.select(col(keyCol).as("key"), fpCol.as("__fa"),
      lit(true).as("__ina"))
    val fb = b.select(col(keyCol).as("key"), fpCol.as("__fb"),
      lit(true).as("__inb"))
    fa.join(fb, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("__ina").isNull, lit("added"))
          .when(col("__inb").isNull, lit("removed"))
          .when(!(col("__fa") <=> col("__fb")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Incremental reprocessing over a [[snapshotDiff]]: given the
    * PREVIOUS snapshot's processed result, run the (expensive)
    * per-document stage only on the new snapshot's added∪changed
    * keys and carry the unchanged keys' prior results forward —
    * removed keys drop out on their own. For any per-document `process`
    * (same row in ⇒ same row out, keyed by `keyCol`), the output is
    * row-identical to reprocessing the whole new snapshot — the
    * equivalence the q146 gate pins against a full-recompute oracle.
    *
    * Scale shape: one diff join + two key semi-joins, and the stage
    * itself touches only the churned fraction — on a low-churn
    * recurring crawl that is the difference between re-running the
    * pipeline on 100 TB and on the day's delta.
    *
    * Caller contract: `process(work)` keeps `keyCol` and emits
    * `priorResult`'s schema; per-document purity is the caller's
    * responsibility (a corpus-relative stage — IDF, mixture rates —
    * would need its statistics refreshed separately); and `fpCol`
    * must be at least as discriminating as the stage's input
    * sensitivity (a whitespace-normalized fingerprint with a
    * raw-whitespace-sensitive stage would wrongly carry a stale
    * result).
    */
  def incrementalReprocess(priorResult: DataFrame, a: DataFrame,
      b: DataFrame, keyCol: String, fpCol: Column,
      process: DataFrame => DataFrame): DataFrame = {
    // the diff feeds TWO consumers (work and carried) — checkpoint it
    // so the full-outer fingerprint join (the dominant cost: both
    // snapshots' scans + md5) runs ONCE, not once per branch. The
    // blocks are keyset-sized (key + status) and back the returned
    // plan, so they live until the session drops them — the
    // pageRankFixed returned-frame precedent.
    val d = org.apache.spark.sql.graftbridge.DatasetBridge
      .localCheckpointFresh(snapshotDiff(a, b, keyCol, fpCol)).df
    val work = b.join(d.filter(col("status").isin("added", "changed"))
      .select(col("key").as(keyCol)), Seq(keyCol))
    val carried = priorResult.join(
      d.filter(col("status") === "unchanged")
        .select(col("key").as(keyCol)), Seq(keyCol))
    process(work).unionByName(carried)
  }

  /** Embedding-space diversity balancing (the SemDeDup-adjacent
    * selection step; cf. Abbas et al. 2023 and cluster-balanced data
    * selection generally): cluster the corpus in embedding space with
    * a seeded, sample-trained KMeans, then TEMPERATURE-REBALANCE the
    * cluster sizes with the same √n mixture machinery languages use
    * ([[mixtureSample]]) — over-represented semantic neighborhoods
    * (boilerplate clouds, template clusters) are downsampled toward
    * the budget while sparse neighborhoods keep a higher rate, so the
    * selected set is semantically diverse rather than
    * frequency-shaped.
    *
    * Scale shape: the KMeans fit touches only the
    * `trainSampleFraction` sample; assignment is one map pass under
    * the broadcast model; the rate table is nClusters rows; the
    * inclusion decision is the md5 row hash — deterministic for fixed
    * (seed, centroids), no corpus-sized shuffle anywhere beyond the
    * nClusters-keyed count agg. Returns (id, cluster) for the
    * selected rows — semi-join back on the id to materialize
    * documents. Rows-only checkable (KMeans centroids are float
    * iterates — no cross-engine oracle), spec-tested on planted
    * clusters.
    */
  /** Fixed-centroid form of [[clusterBalancedSample]] — the
    * hash-gateable half of the operator family: the caller supplies
    * the centroids (a prior KMeans fit, a coreset, or any frozen
    * codebook), so assignment is a PURE function of (centroids, row)
    * with no float training iterates — every engine reproduces the
    * exact survivor set, giving the cluster-balance family a real
    * oracle while the trained form stays rows-only.
    *
    * Assignment is map-only: one codegen'd expression computes all
    * |centroids| squared distances as LEFT-ASSOCIATIVE double chains
    * (fixed operation order — correctly-rounded IEEE ops replay
    * bit-identically cross-engine; same determinism argument as the
    * DSIR fixed-point tree) and takes the first index attaining the
    * minimum. No join, no shuffle; the only shuffle in the whole
    * operator is the |clusters|-key count agg behind the √n rate
    * table. Scale: O(dim·|centroids|) work per row shipped with the
    * plan — the broadcast-free analog of KMeans.transform.
    */
  def clusterBalancedSampleFixed(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], budget: Long): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val assigned = embeddings.select(col(idCol),
      assignFixedCentroids(col(vecCol), centroids).as("cluster"))
    mixtureSample(assigned, "cluster", col(idCol), budget)
  }

  /** Nearest-centroid index (0-based, first-minimum tie-break) of a
    * float/double array column under literal `centroids` — one
    * map-only expression; see [[clusterBalancedSampleFixed]].
    */
  def assignFixedCentroids(vec: Column, centroids: Seq[Seq[Double]]): Column =
    // One codegen'd loop expression (constants ride in a referenced
    // double[], loops never unroll): same left-assoc d² chains and
    // first-minimum tie-break as the earlier array_position(array_min)
    // form — which inlined k unrolled chains and, at 16×64, pushed the
    // generated method toward Janino's 64 KB limit. A null or
    // too-short vector surfaces as the reserved cluster -1.
    graft.functions.FixedAnnExpressions.nearestCentroid(vec, centroids)

  /** SemDeDup-style semantic deduplication under FROZEN centroids
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): assign every
    * embedding to its nearest frozen centroid, compare pairs ONLY
    * within a cluster by exact fixed-point cosine, and drop every
    * document that has a ≥`thresholdFp` neighbor with a SMALLER id in
    * its cluster (greedy min-id-wins — the keep-first policy, one
    * shot, no iteration; under near-dup transitivity within a cluster
    * this keeps exactly the min-id representative of each duplicate
    * neighborhood). Returns the SURVIVORS as (id, cluster).
    *
    * Determinism/oracle: assignment is the [[assignFixedCentroids]]
    * left-assoc d² kernel; scoring is the exact integer dot of 1e-6
    * fixed-point L2-unitized vectors (the q53b machinery) — every
    * value replays cross-engine, so the whole survivor set hash-gates
    * (q168). Null/short vectors land in the reserved cluster −1 and
    * are never compared — they always survive.
    *
    * Scale shape (the SemDeDup argument): the clustering bounds the
    * candidate set to Σ|cluster|² instead of N² — the operator's whole
    * point at 100 TB. The one skew risk is a mega-cluster (a
    * boilerplate cloud): clusters above `maxClusterSize` are
    * sub-partitioned by a frozen Rademacher LSH bucket
    * ([[graft.functions.FixedAnnExpressions.rademacherBuckets]]) so
    * the pair join is keyed (cluster, sub) and the biggest block is
    * ~|cluster|/2^`subPlanes` — the q45 oversized-block guard applied
    * to embedding space. Sub-bucketing can only MISS cross-bucket
    * pairs, so the guarded result is a SUPERSET of the exact
    * survivors and every drop it makes is still a true ≥threshold
    * duplicate (spec-asserted); at the default cap the guard never
    * trips at test scale and the oracle replays the exact path. The
    * cluster-size relation broadcast is |centroids| rows —
    * artifact-sized by construction, exempt from the size-gate rule.
    */
  def semanticDedupFixed(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], thresholdFp: Long,
      maxClusterSize: Long = 1L << 20, subPlanes: Int = 6,
      dim: Int = 64): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val assigned = semanticAssign(embeddings, idCol, vecCol, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dropped = semanticCandidatePairs(assigned, thresholdFp,
        maxClusterSize, subPlanes, dim)
        .select(col("id_b").as("id")).distinct()
      val out = assigned.select(col("id"), col("cluster"))
        .join(dropped, Seq("id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    } finally assigned.unpersist()
  }

  /** TRAINED SemDeDup driver — the production convenience over
    * [[semanticDedupFixed]]: fit the clustering here (KMeans over a
    * bounded sample, [[graft.similarity.Ann.boundedTrainFraction]] —
    * the FAISS rule, constant fit input at any corpus size), collect
    * the nClusters·dim centroid array to the driver (artifact-sized by
    * construction) and run the existing frozen-centroid machinery —
    * candidate bound, Rademacher mega-cluster guard, min-id-wins
    * policy and all. Makes the scale path the easy path: callers no
    * longer need to produce centroids to dedup semantically.
    *
    * KMeans is float/RNG, so results are deterministic only per
    * (sample, seed) — the q121/q193 trained-quantizer class: gate
    * rows-only, keep the hash gate on the fixed twin (q168).
    * Returns [[semanticDedupFixed]]'s survivor shape (id, cluster).
    */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
      thresholdFp: Long, nClusters: Int = 16, seed: Long = 42L,
      trainSampleFraction: Double = -1.0, maxClusterSize: Long = 1L << 20,
      subPlanes: Int = 6, dim: Int = 64): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(nClusters > 0, s"nClusters must be positive, got $nClusters")
    val c = embeddings
      .select(array_to_vector(transform(col(vecCol), x => x.cast("double")))
        .as("__fv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = try {
      val frac =
        if (trainSampleFraction < 0)
          graft.similarity.Ann.boundedTrainFraction(c.count(), nClusters)
        else trainSampleFraction
      val trainSet =
        if (frac >= 1.0) c
        else c.sample(withReplacement = false, frac, seed)
      new KMeans().setK(nClusters).setSeed(seed).setFeaturesCol("__fv")
        .setPredictionCol("__cl").fit(trainSet)
        .clusterCenters.map(_.toArray.toSeq).toSeq
    } finally c.unpersist()
    semanticDedupFixed(embeddings, idCol, vecCol, centroids, thresholdFp,
      maxClusterSize, subPlanes, dim)
  }

  /** Within-cluster ≥`thresholdFp` candidate PAIRS (`id_a < id_b`)
    * under the frozen centroids — the edge set every SemDeDup policy
    * consumes: [[semanticDedupFixed]]'s greedy min-id drop is
    * `distinct id_b`; connected-component clustering (q171) feeds the
    * same edges to [[graft.dedup.Dedup.clusterSurvivors]] for the
    * aggressive transitive policy. Same assignment kernel, sub-bucket skew guard
    * and Σ|cluster|² scale bound as [[semanticDedupFixed]]; the pairs
    * are localCheckpoint-materialized (iterative consumers re-read
    * them every propagation round).
    */
  def semanticPairsFixed(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], thresholdFp: Long,
      maxClusterSize: Long = 1L << 20, subPlanes: Int = 6,
      dim: Int = 64): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val assigned = semanticAssign(embeddings, idCol, vecCol, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try semanticCandidatePairs(assigned, thresholdFp, maxClusterSize,
      subPlanes, dim).localCheckpoint(true)
    finally assigned.unpersist()
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    * 2006, "Weighted random sampling with a reservoir"): draw `k`
    * rows with inclusion probability proportional to `weightCol`, no
    * repeats — the A-ES key construction `u^(1/w)` taken top-k, in
    * the monotone-equivalent form `ln(u)/w` (no pow; ln is the
    * engine-portable transcendental the q153/q159 gates pinned).
    * Training-data selection uses this everywhere a rate-based
    * mixture is the wrong tool: "give me exactly k docs, biased by
    * quality/length, reproducibly".
    *
    * Deterministic: `u = (xxhash64('<seedTag>:' || id) mod 2^20 +
    * 0.5) / 2^20` — a pure function of (seedTag, id), never an RNG —
    * so the exact sample replays on any engine/partitioning (q246
    * hash-gates it; the md5-rank family precedent). Rows with
    * non-positive weight are excluded (their key is undefined).
    * Returns `(id, weight, key_fp)` with `key_fp = floor(key·1e12)`.
    *
    * Scale: one map pass for keys + a global top-k — which Spark
    * plans as TakeOrderedAndProject (per-partition partial top-k,
    * then a k-row merge on one reducer; k rows cross the wire per
    * partition, never the corpus). The sort key is a double chain of
    * portable ops in fixed order, so ordering is bit-stable.
    */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
      k: Int, seedTag: String = "wsr"): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val M = 1L << 20
    val h = xxhash64(concat(lit(s"$seedTag:"), col(idCol)))
    val u = (pmod(h, lit(M)).cast("double") + lit(0.5)) / lit(M.toDouble)
    val key = log(u) / col(weightCol).cast("double")
    docs.filter(col(weightCol) > 0)
      .select(col(idCol), col(weightCol).cast("long").as("weight"),
        floor(key * lit(1e12)).as("key_fp"), key.as("__key"))
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .drop("__key")
  }

  /** Per-group [[weightedSample]] — exactly `k` rows per group, drawn
    * ∝ weight within the group (balanced per-source selection: "the
    * best k docs from EVERY source, weight-biased, reproducible").
    * Same A-ES `ln(u)/w` key; the top-k is a rank filter over a
    * group-keyed window, which Spark rewrites to WindowGroupLimit
    * (map-side partial per-group top-k before the one shuffle on
    * `groupCol` — the q116 domain-cap shape, plan-asserted). Returns
    * `(group, id, weight, key_fp, rank)`.
    */
  def weightedSamplePerGroup(docs: DataFrame, idCol: String,
      weightCol: String, groupCol: String, k: Int,
      seedTag: String = "wsrg"): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val M = 1L << 20
    val h = xxhash64(concat(lit(s"$seedTag:"), col(idCol)))
    val u = (pmod(h, lit(M)).cast("double") + lit(0.5)) / lit(M.toDouble)
    val key = log(u) / col(weightCol).cast("double")
    docs.filter(col(weightCol) > 0)
      .select(col(groupCol), col(idCol),
        col(weightCol).cast("long").as("weight"),
        floor(key * lit(1e12)).as("key_fp"), key.as("__key"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(groupCol)
          .orderBy(col("__key").desc, col(idCol))))
      .filter(col("rank") <= k)
      .drop("__key")
  }

  /** Prototypicality pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws: beating power law scaling via data pruning"): rank
    * every embedding within its nearest-frozen-centroid cluster by the
    * squared distance to that centroid — the SSL-prototypes difficulty
    * metric — and KEEP only the HARDEST `keepNum/keepDen` fraction
    * (largest d², the paper's abundant-data regime: prototypical
    * examples near the centroid teach a large model nothing new).
    * Returns the survivors as `(id, cluster, d2_fp, rank)` with
    * `d2_fp = floor(d² · 1e12)` and `rank` the 1-based within-cluster
    * hardness rank. The per-cluster keep count is
    * `ceil(keepNum·n/keepDen)` via the cross-multiplied integer test
    * `rank·keepDen ≤ keepNum·n + keepDen − 1` (no float thresholds).
    *
    * Determinism/oracle: assignment and d² are the
    * [[assignFixedCentroids]]/`centroidD2` left-assoc double chains —
    * bit-identical cross-engine — and ties rank by id, so the whole
    * survivor frame hash-gates (q234). Null/short vectors land in
    * cluster −1 and SURVIVE with NULL d2_fp/rank ("unknown", not
    * "easy" — the d4Select isolated-survivor contract).
    *
    * Scale shape: one map-only assignment pass (O(dim·|centroids|)
    * per row, no broadcast — centroids ride inside the codegen'd
    * expression), one |centroids|-key count agg (broadcast back —
    * artifact-sized, exempt from the size-gate rule), and one
    * hash-partitioned window over `cluster`. The window's partition
    * count equals |centroids| — at 100 TB choose centroids ~O(√N) (the
    * SemDeDup operating point) so per-cluster partitions stay
    * executor-sized; a mega-cluster skews exactly like SemDeDup's and
    * the same answer applies (more centroids), never a global sort.
    */
  def prototypicalityPrune(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], keepNum: Long,
      keepDen: Long): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(keepNum > 0 && keepDen > 0 && keepNum <= keepDen,
      s"keep fraction must be in (0,1]: $keepNum/$keepDen")
    val F = graft.functions.FixedAnnExpressions
    val assigned = embeddings.select(
      col(idCol).as("id"),
      assignFixedCentroids(col(vecCol), centroids).as("cluster"),
      F.centroidD2(col(vecCol), centroids).as("__d2s"))
      .withColumn("__d2",
        when(col("cluster") >= 0,
          element_at(col("__d2s"), (col("cluster") + 1).cast("int"))))
      .drop("__d2s")
    val ranked = assigned.filter(col("cluster") >= 0)
      .withColumn("rank", row_number().over(
        Window.partitionBy("cluster")
          .orderBy(col("__d2").desc, col("id"))))
    val sizes = ranked.groupBy("cluster").agg(count(lit(1)).as("__n"))
    val survivors = ranked
      .join(broadcast(sizes), Seq("cluster"))
      .filter(col("rank") * lit(keepDen) <=
        lit(keepNum) * col("__n") + lit(keepDen - 1))
    val unknown = assigned.filter(col("cluster") < 0)
      .select(col("id"), col("cluster"),
        lit(null).cast("long").as("d2_fp"),
        lit(null).cast("int").as("rank"))
    survivors.select(col("id"), col("cluster"),
      floor(col("__d2") * lit(1e12)).as("d2_fp"), col("rank"))
      .unionByName(unknown)
  }

  /** D4-style data selection (Tirumala et al. 2023): SemDeDup
    * survivors ([[semanticDedupFixed]], raw-space centroids) → k-NN
    * graph + density over the SURVIVOR set
    * ([[graft.similarity.Ann.knnGraphFixed]]/`knnDensity`, unit-space
    * centroids — frozen params, so they do NOT shrink with the
    * corpus) → drop measured off-distribution survivors. Isolated
    * survivors (no list-mates left after dedup) keep a NULL density
    * and PASS — "unknown", not "outlier". Returns
    * (id, density_fp nullable). Hash-gated end to end as q174.
    */
  def d4Select(embeddings: DataFrame, idCol: String, vecCol: String,
      rawCentroids: Seq[Seq[Double]], dedupThresholdFp: Long,
      unitCentroids: Seq[Seq[Double]], k: Int,
      outlierBelowFp: Long, maxClusterSize: Long = 1L << 20,
      subPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val surv = semanticDedupFixed(embeddings, idCol, vecCol,
      rawCentroids, dedupThresholdFp, maxClusterSize, subPlanes, dim)
      .select(col("id"))
    val kept = embeddings.join(surv.withColumnRenamed("id", idCol),
      Seq(idCol), "left_semi")
    val dens = graft.similarity.Ann.knnDensity(
      graft.similarity.Ann.knnGraphFixed(kept, idCol, vecCol, k,
        unitCentroids),
      outlierBelowFp)
      .withColumnRenamed("vec_id", "id")
    surv.join(dens, Seq("id"), "left")
      .filter(col("is_outlier").isNull || !col("is_outlier"))
      .select(col("id"), col("density_fp"))
  }

  /** Repeat-cap upsampling (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models": repeating data up to ~4
    * epochs is nearly as good as fresh data — beyond that it decays):
    * the UPSAMPLING half the Bernoulli mixture family
    * ([[applyMixtureRates]], rates ≤ 1) cannot express. Each group
    * carries a fixed-point rate `rate_fp = floor(rate·2²⁴)` that may
    * EXCEED 2²⁴: a row emits `rate_fp >> 24` full copies plus one
    * extra iff its md5 24-bit key prefix falls under the fractional
    * part — so rate 2.3 means "every row twice, 30% of rows a third
    * time", rate 0.25 degrades to plain Bernoulli downsampling (base
    * 0), and rate 0 drops the group. Copies are capped at
    * `maxRepeats` (the paper's decay bound) and tagged `copy_no`
    * (0-based) so downstream shuffle-shard/packing treats them as
    * distinct rows. Deterministic — the SAME md5 row hash as
    * [[applyMixtureRates]], so a sub-1 rate here selects exactly the
    * rows the Bernoulli family would (spec-pinned: the two operators
    * are one family). Map-only: one |groups|-row broadcast rate table
    * + a sequence explode — zero shuffle at any corpus size; output
    * mass is Σ rows·rate, the caller's knob.
    */
  def repeatUpsample(df: DataFrame, groupCol: String, keyCol: Column,
      rates: DataFrame, maxRepeats: Int): DataFrame = {
    require(maxRepeats >= 1, s"maxRepeats must be >= 1, got $maxRepeats")
    val rt = rates.select(col(groupCol), col("rate_fp").as("__rate_fp"))
    val h = conv(substring(
      md5(keyCol.cast("string")), 1, 6), 16, 10).cast("long")
    df.join(broadcast(rt), Seq(groupCol))
      .withColumn("__n", least(
        shiftright(col("__rate_fp"), 24) +
          when(h < col("__rate_fp").bitwiseAND(lit(16777215L)), lit(1L))
            .otherwise(lit(0L)),
        lit(maxRepeats.toLong)))
      .filter(col("__n") > 0)
      .withColumn("copy_no", explode(sequence(lit(0L), col("__n") - 1)))
      .drop("__rate_fp", "__n")
  }

  /** Token-budget selection — "keep the BEST documents that fit an
    * exact token budget": the greedy knapsack prefix every data-mixing
    * recipe runs when a training slice is token-bounded (quality-
    * ranked, score ties broken by id asc; a document is kept iff the
    * running token mass INCLUDING it stays ≤ `budget`).
    *
    * The naive form is one GLOBAL running-sum window over (score desc,
    * id) — a single-partition sort of the corpus, the exact plan shape
    * this repo forbids. This implementation is the equivalent
    * two-level form: (1) per-SCORE token masses (one map-combinable
    * agg, |distinct scores| rows), (2) a cumulative "mass before this
    * bucket" over that small relation (the only unpartitioned window —
    * over score buckets, NOT corpus rows; distinct-score cardinality
    * is the scale knob, so floor/bucket a near-continuous score
    * upstream), (3) one (score)-partitioned id-ordered running sum
    * over the corpus — keep iff `before + run ≤ budget`. For full
    * buckets the condition is bucket-level; in the single boundary
    * bucket it is the id-ordered prefix; identical to the global rule
    * — which is exactly what the q187 oracle replays as one global
    * window, so the hash match IS the equivalence proof. Largest
    * score-tie bucket bounds the window skew.
    *
    * Rows with a NULL score or NULL token count are dropped (they can
    * be neither ranked nor budgeted — filter or default upstream).
    */
  def tokenBudgetSelect(docs: DataFrame, idCol: String,
      scoreFpCol: String, tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    val d = docs.filter(col(scoreFpCol).isNotNull && col(tokensCol).isNotNull)
    val buckets = d.groupBy(col(scoreFpCol).as("__s"))
      .agg(sum(col(tokensCol)).as("__mass"))
    val wBefore = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = buckets.select(col("__s"),
      coalesce(sum(col("__mass")).over(wBefore), lit(0L)).as("__before"))
    val wRun = Window.partitionBy(col("__s")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("__s", col(scoreFpCol))
      .join(cum, Seq("__s"))
      .withColumn("__run", sum(col(tokensCol)).over(wRun))
      .filter(col("__before") + col("__run") <= lit(budget))
      .select(docs.columns.map(col): _*)
  }

  /** Semantic (embedding-space) decontamination audit — the
    * embedding-space member of the decontamination family (fingerprint
    * q75 / n-gram q86 / span q104 / Bloom q132 / BM25-retrieval q154
    * are all LEXICAL): flag every corpus document whose embedding has
    * cosine ≥ `thresholdFp`/1e12 to some benchmark/eval item — the
    * paraphrase-leak audit verbatim-text scans cannot see. Returns the
    * flagged PAIRS (id, bench_id, sim_fp) — the provenance row an
    * audit wants; [[semanticDecontaminate]] applies the drop.
    *
    * Shape: the CORPUS side is assigned once to its single nearest
    * frozen centroid (the [[semanticDedupFixed]] raw-space kernel —
    * one map-only pass, no shuffle); the BENCHMARK side probes its
    * `nProbe` nearest centroids (the IVF multi-probe pattern,
    * q52b machinery) and is broadcast, so the corpus NEVER shuffles —
    * the whole audit is one broadcast-hash join keyed on the cluster
    * plus a map-side exact integer-cosine filter. Benchmark relations
    * are eval-suite-sized by definition (the [[decontaminate]]
    * broadcast precedent); `nProbe` trades benchmark-side fan-out for
    * recall on pairs that straddle a centroid boundary — the corpus
    * doc holds one cluster, so the probe only has to reach IT, and a
    * boundary benchmark vector probing 2–4 lists recovers what 1-NN
    * bucketing misses. Recall beyond the probed lists is bounded by
    * the clustering itself (the SemDeDup trade); raise `nProbe`
    * toward |centroids| for an exhaustive audit — corpus cost is
    * unchanged, only the broadcast grows.
    *
    * Determinism: assignment/probe replay the left-assoc d² chains,
    * scoring is the exact integer dot of 1e-6 fixed-point unit
    * vectors — the whole pair set hash-gates (q176). Corpus rows with
    * null/short vectors land in cluster −1, which no probe reaches:
    * unembeddable docs are "unauditable", never "contaminated".
    * Null-vector benchmark rows probe nothing.
    */
  def semanticContaminationPairs(corpus: DataFrame, idCol: String,
      vecCol: String, benchmark: DataFrame, benchIdCol: String,
      benchVecCol: String, centroids: Seq[Seq[Double]],
      thresholdFp: Long, nProbe: Int = 2): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(nProbe >= 1 && nProbe <= centroids.size,
      s"nProbe must be in [1, ${centroids.size}], got $nProbe")
    val F = graft.functions.FixedAnnExpressions
    val c = semanticAssign(corpus, idCol, vecCol, centroids)
    // benchmark → its nProbe nearest centroids by the SAME raw-space
    // d² chains (asc, centroid index asc — the probeFixedLists
    // tie-break): one struct-array sort per row, |centroids| entries
    val dists = centroids.indices.map { i =>
      struct(element_at(col("__d2"), i + 1).as("d2"),
        lit(i.toLong).as("cluster"))
    }
    val b = benchmark
      .select(col(benchIdCol).as("bench_id"),
        F.centroidD2(col(benchVecCol), centroids).as("__d2"),
        F.fixedPoint(F.unitVec(col(benchVecCol))).as("bf"))
      .select(col("bench_id"), col("bf"),
        posexplode(slice(array_sort(array(dists: _*)), 1, nProbe))
          .as(Seq("__p", "pl")))
      .select(col("bench_id"), col("bf"), col("pl.cluster").as("cluster"))
    c.join(broadcast(b), Seq("cluster"))
      .withColumn("sim_fp", F.longDot(col("vf"), col("bf")))
      .filter(col("sim_fp") >= thresholdFp)
      .select(col("id"), col("bench_id"), col("sim_fp"))
  }

  /** Apply [[semanticContaminationPairs]]: the corpus minus every
    * flagged document — same signature family as [[decontaminate]] /
    * [[decontaminateNgrams]]. The flagged-id relation is
    * benchmark-neighborhood-sized; while it fits the broadcast
    * threshold it rides into the anti-join without shuffling the
    * corpus, and an oversized flag set (a pathological threshold)
    * degrades to a shuffle join instead of a driver OOM.
    */
  def semanticDecontaminate(corpus: DataFrame, idCol: String,
      vecCol: String, benchmark: DataFrame, benchIdCol: String,
      benchVecCol: String, centroids: Seq[Seq[Double]],
      thresholdFp: Long, nProbe: Int = 2,
      broadcastThresholdBytes: Long = 10L << 20): DataFrame =
    semanticDecontaminateManaged(corpus, idCol, vecCol, benchmark,
      benchIdCol, benchVecCol, centroids, thresholdFp, nProbe,
      broadcastThresholdBytes)._1

  /** [[semanticDecontaminate]] with a RELEASE HANDLE for the cached
    * flagged-id set (the `curateCorpusManaged` discipline): call the
    * handle once the returned plan has been materialized. The plain
    * overload leaves the (small, benchmark-neighborhood-sized) cache
    * to LRU eviction — fine for one-shot jobs, a slow leak in a
    * session that decontaminates repeatedly.
    */
  def semanticDecontaminateManaged(corpus: DataFrame, idCol: String,
      vecCol: String, benchmark: DataFrame, benchIdCol: String,
      benchVecCol: String, centroids: Seq[Seq[Double]],
      thresholdFp: Long, nProbe: Int = 2,
      broadcastThresholdBytes: Long = 10L << 20)
      : (DataFrame, () => Unit) = {
    // persisted: the flagged set feeds BOTH the size probe and the
    // anti-join — without it the whole contamination pipeline would
    // run twice. Benchmark-neighborhood-sized by construction, but a
    // pathological threshold can flag a corpus-scale fraction, where a
    // forced broadcast OOMs the driver — size-gate it (the
    // Encoding/itemItemTopK idiom; ~56 bytes per id row). Released by
    // the returned handle.
    val flagged = semanticContaminationPairs(corpus, idCol, vecCol,
      benchmark, benchIdCol, benchVecCol, centroids, thresholdFp, nProbe)
      .select(col("id").as(idCol)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gated =
      if (flagged.count() * 56L <= broadcastThresholdBytes) broadcast(flagged)
      else flagged
    (corpus.join(gated, Seq(idCol), "left_anti"),
      () => { flagged.unpersist(); () })
  }

  /** (id, cluster, vf): nearest-frozen-centroid assignment + the
    * fixed-point unit vector, the shared first pass of the semantic
    * dedup family.
    */
  private def semanticAssign(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]]): DataFrame = {
    val F = graft.functions.FixedAnnExpressions
    embeddings.select(col(idCol).as("id"),
      assignFixedCentroids(col(vecCol), centroids).as("cluster"),
      F.fixedPoint(F.unitVec(col(vecCol))).as("vf"))
  }

  /** The (cluster, sub)-keyed ≥threshold pair join over an `assigned`
    * frame (id, cluster, vf) — cluster −1 rows never compared, the
    * oversized-cluster Rademacher sub-bucket guard as documented on
    * [[semanticDedupFixed]]. Returns (id_a, id_b), id_a < id_b.
    */
  private def semanticCandidatePairs(assigned: DataFrame,
      thresholdFp: Long, maxClusterSize: Long, subPlanes: Int,
      dim: Int): DataFrame = {
    val F = graft.functions.FixedAnnExpressions
    val sizes = assigned.groupBy("cluster")
      .agg(count(lit(1)).as("__n"))
    val keyed = assigned
      .join(broadcast(sizes), Seq("cluster"))
      .withColumn("sub",
        when(col("cluster") >= 0 && col("__n") > maxClusterSize,
          element_at(F.rademacherBuckets(col("vf"), 1, subPlanes, dim), 1))
          .otherwise(lit(0L)))
    val l = keyed.filter(col("cluster") >= 0).select(
      col("cluster"), col("sub"), col("id").as("id_a"), col("vf").as("va"))
    val r = keyed.filter(col("cluster") >= 0).select(
      col("cluster"), col("sub"), col("id").as("id_b"), col("vf").as("vb"))
    l.join(r, Seq("cluster", "sub"))
      .filter(col("id_a") < col("id_b"))
      .filter(F.longDot(col("va"), col("vb")) >= thresholdFp)
      .select(col("id_a"), col("id_b"))
  }

  def clusterBalancedSample(embeddings: DataFrame, idCol: String,
      vecCol: String, budget: Long, nClusters: Int = 16, seed: Long = 42L,
      trainSampleFraction: Double = -1.0): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(nClusters > 0, s"nClusters must be positive, got $nClusters")
    val c = embeddings
      .select(col(idCol).as("__id"),
        array_to_vector(transform(col(vecCol), x => x.cast("double")))
          .as("__fv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // AUTO sample rule for the quantizer fit — the
      // Ann.boundedTrainFraction FAISS discipline (see ivfTopK)
      val frac =
        if (trainSampleFraction < 0)
          graft.similarity.Ann.boundedTrainFraction(c.count(), nClusters)
        else trainSampleFraction
      val trainSet =
        if (frac >= 1.0) c
        else c.sample(withReplacement = false, frac, seed)
      val km = new KMeans().setK(nClusters).setSeed(seed)
        .setFeaturesCol("__fv").setPredictionCol("__cluster").fit(trainSet)
      val assigned = km.transform(c)
        .select(col("__id").as(idCol),
          col("__cluster").cast("long").as("cluster"))
      // eager: the sample must materialize before the embedding cache
      // is dropped in the finally (mixtureSample's rate agg + the
      // filter both re-read the assignment otherwise)
      mixtureSample(assigned, "cluster", col(idCol), budget)
        .localCheckpoint()
    } finally c.unpersist()
  }

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every corpus
    * document by how much more likely its hashed-bigram profile is
    * under a TARGET distribution (the high-quality reference corpus
    * you want more of — Wikipedia, books) than under the raw corpus
    * itself, then keep the high-affinity docs. Features are the
    * paper's hashed n-grams: each bigram maps to one of `buckets`
    * hash buckets (md5-prefix mod — engine-portable), and both
    * distributions are add-one-smoothed bucket frequencies.
    *
    * Scoring DIVERGES from the paper in one documented way: the
    * per-doc score is the fixed-point MEAN of per-gram probability
    * ratios ⌊10⁹·p̂_target(b)/p̂_raw(b)⌋, not the sum of log-ratios —
    * `log` is libm-dependent cross-engine (the reason Quality and the
    * mixture sampler avoid exp/log), while each ratio here is a fixed
    * tree of correctly-rounded IEEE ops on exact integers and the sum
    * is integer, so the result is bit-reproducible at any parallelism
    * and hash-gates against DuckDB. Affinity 10⁹ = "equally likely
    * under target and raw"; the monotone ranking the resample needs
    * is preserved.
    *
    * Scale shape: both count tables are BOUNDED BY `buckets` (≤2²⁴)
    * regardless of corpus size — their aggs are map-side combinable
    * over a tiny key domain and both broadcast into the scoring join,
    * so the corpus pays one gram-explode scan plus ONE map-combinable
    * per-doc sum; no corpus-sized join shuffle anywhere. The gram
    * stream feeds two consumers (raw counts, scoring) and is persisted
    * for the branch-reexecution invariant — at corpus scales beyond
    * cluster storage, trade the persist for a second scan.
    *
    * `unigrams = true` unions unigram features into the same bucket
    * space (the paper's n ∈ {1,2} form — the keyspaces cannot
    * collide, bigram strings contain a space) and makes single-word
    * docs scoreable.
    *
    * Returns (doc_id, n_grams, affinity_fp) for every doc with ≥2
    * words (≥1 under `unigrams` — [[bigramFluency]]'s scoreability
    * rule otherwise), eagerly persisted
    * (doc-count-sized) — release with `.unpersist()` once consumed
    * (the [[bigramFluency]] caller contract). Compose with a
    * threshold ([[importanceResample]], which releases internally) or
    * a per-batch quantile.
    */
  def importanceWeights(corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      buckets: Int = 1 << 18, unigrams: Boolean = false): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 24),
      s"buckets must be in [1, 2^24] (md5-prefix domain), got $buckets")
    def grams(df: DataFrame, tc: String, keep: Seq[Column]) =
      gramBuckets(df, tc, keep, buckets, unigrams)
    val tg = grams(target, targetTextCol, Seq.empty)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tCounts = tg.groupBy("bucket").agg(count(lit(1)).as("t_cnt"))
    val tTotal = tg.agg(count(lit(1)).as("t_total"))
    val cg = grams(corpus, textCol, Seq(col(idCol).as("doc_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rCounts = cg.groupBy("bucket").agg(count(lit(1)).as("r_cnt"))
    val rTotal = cg.agg(count(lit(1)).as("r_total"))
    // ratio of add-one-smoothed bucket probabilities, fixed-point.
    // Every operand is CAST TO DOUBLE before multiplying (the integer
    // products can pass 2⁶³ at corpus scale; the double tree is the
    // same correctly-rounded shape in any engine — mirrored verbatim
    // in the oracle SQL)
    val ratioFp = floor(lit(1e9)
      * ((coalesce(col("t_cnt"), lit(0L)) + 1).cast("double")
        * (col("r_total") + buckets).cast("double"))
      / ((col("t_total") + buckets).cast("double")
        * (col("r_cnt") + 1).cast("double"))).cast("long")
    val out = cg
      .join(broadcast(tCounts), Seq("bucket"), "left")
      .join(broadcast(rCounts), Seq("bucket"))
      .crossJoin(broadcast(tTotal)).crossJoin(broadcast(rTotal))
      .withColumn("__r", ratioFp)
      .groupBy("doc_id")
      // decimal(38,0) accumulation (Profiling's overflow-hardening
      // pattern): a single gram's ratio_fp is bounded by
      // ~10⁹·(corpus grams/buckets), so a long sum can pass 2⁶³ at
      // corpus scale (ANSI Spark would throw). The exact decimal sum
      // then converts once to double for the mean — DuckDB's HUGEINT
      // sum makes the identical conversion.
      .agg(count(lit(1)).as("n_grams"),
        sum(col("__r").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("__sum_fp"))
      .select(col("doc_id"), col("n_grams"),
        floor(col("__sum_fp").cast("double") / col("n_grams")).cast("long")
          .as("affinity_fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    cg.unpersist(); tg.unpersist()
    out
  }

  /** The hashed-feature array of one document: bigrams always,
    * unigrams optionally prepended (the DSIR paper's n ∈ {1,2} union).
    * One hash keyspace is safe — unigram strings contain no space,
    * bigram strings do, so the families cannot collide. Null words
    * arrays propagate to null (callers filter on `size(...) >= 1`).
    */
  private def allGrams(ws: Column, unigrams: Boolean): Column = {
    val bi = when(size(ws) >= 2,
      transform(sequence(lit(0), size(ws) - 2),
        i => concat(element_at(ws, i + 1), lit(" "),
          element_at(ws, i + 2))))
      .otherwise(typedLit(Seq.empty[String]))
    if (unigrams) concat(ws, bi) else bi
  }

  /** Hashed-gram bucket stream shared by the batch scorer and the
    * frozen-model trainer: (keep…, bucket), one row per gram.
    */
  private def gramBuckets(df: DataFrame, tc: String, keep: Seq[Column],
      buckets: Int, unigrams: Boolean = false): DataFrame = {
    val ws = TextAnalysis.words(TextAnalysis.normalizeText(col(tc)))
    val all = allGrams(col("__ws"), unigrams)
    df.select(keep :+ ws.as("__ws"): _*)
      .filter(size(all) >= 1)
      .select(keep :+ explode(all).as("__g"): _*)
      .withColumn("bucket",
        conv(substring(md5(col("__g")), 1, 6), 16, 10).cast("long")
          % buckets)
      .drop("__g")
  }

  /** FROZEN importance model: the two bucket-count tables collected to
    * driver arrays. `buckets`·8 bytes each — an ARTIFACT, independent
    * of corpus size (the collect moves ≤buckets count rows, never
    * corpus data). This is the serving/streaming form of
    * [[importanceWeights]]' distributed model: freeze once, then score
    * any stream or later batch map-only via [[importanceAffinity]].
    */
  final case class ImportanceModel(tCnt: Array[Long], rCnt: Array[Long],
      tTotal: Long, rTotal: Long, buckets: Int)

  /** Train an [[ImportanceModel]] over (corpus=raw, target) — two
    * bucket-bounded count aggs, collected. Capped at 2²² buckets so
    * the literal arrays stay plan-embeddable (32 MiB of longs at the
    * cap; the default 2¹⁸ is 2 MiB).
    */
  def trainImportanceModel(corpus: DataFrame, textCol: String,
      target: DataFrame, targetTextCol: String,
      buckets: Int = 1 << 18, unigrams: Boolean = false): ImportanceModel = {
    require(buckets > 0 && buckets <= (1 << 22),
      s"buckets must be in [1, 2^22] for the frozen-model form, got $buckets")
    def countsOf(g: DataFrame): (Array[Long], Long) = {
      val arr = new Array[Long](buckets)
      var tot = 0L
      g.groupBy("bucket").agg(count(lit(1)).as("c")).collect().foreach { r =>
        val c = r.getLong(1); arr(r.getLong(0).toInt) = c; tot += c
      }
      (arr, tot)
    }
    val (t, tTot) =
      countsOf(gramBuckets(target, targetTextCol, Seq.empty, buckets, unigrams))
    val (rr, rTot) =
      countsOf(gramBuckets(corpus, textCol, Seq.empty, buckets, unigrams))
    ImportanceModel(t, rr, tTot, rTot, buckets)
  }

  /** Persist a frozen [[ImportanceModel]] as the reloadable selection
    * artifact (the [[graft.text.Bpe.saveMerges]] lifecycle: train
    * once, save, score any later corpus or stream under the loaded
    * model). One parquet of non-zero buckets plus a 1-row totals
    * sidecar inside the same directory — |model| rows at any corpus
    * scale.
    */
  def saveImportanceModel(spark: org.apache.spark.sql.SparkSession,
      m: ImportanceModel, path: String): Unit = {
    import spark.implicits._
    m.tCnt.indices.collect {
      case b if m.tCnt(b) != 0L || m.rCnt(b) != 0L =>
        (b, m.tCnt(b), m.rCnt(b))
    }.toDF("bucket", "t_cnt", "r_cnt")
      .coalesce(1).write.mode("overwrite").parquet(path + "/counts")
    Seq((m.tTotal, m.rTotal, m.buckets)).toDF("t_total", "r_total", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(path + "/totals")
  }

  /** Reload a [[saveImportanceModel]] artifact. Collects |non-zero
    * buckets| rows — artifact-sized, never corpus-sized.
    */
  def loadImportanceModel(spark: org.apache.spark.sql.SparkSession,
      path: String): ImportanceModel = {
    val tot = spark.read.parquet(path + "/totals").head()
    val buckets = tot.getInt(2)
    val t = new Array[Long](buckets)
    val r = new Array[Long](buckets)
    spark.read.parquet(path + "/counts").collect().foreach { row =>
      val b = row.getInt(0); t(b) = row.getLong(1); r(b) = row.getLong(2)
    }
    ImportanceModel(t, r, tot.getLong(0), tot.getLong(1), buckets)
  }

  /** Per-row affinity under a frozen model — ONE stateless column
    * expression (the count arrays ride the plan as literals), so it
    * scores a continuous ingest STREAM map-only with no state store,
    * no watermark and no shuffle, and reproduces
    * [[importanceWeights]]' fixed-point arithmetic bit-for-bit on any
    * doc whose grams the raw model has seen (a NEW gram — impossible
    * in the batch form, where raw = the scored corpus itself — scores
    * with r_cnt = 0 under the same add-one smoothing). Returns NULL
    * for docs too short to score (< 2 words; < 1 under `unigrams` —
    * pass the flag the model was trained with).
    */
  def importanceAffinity(text: Column, m: ImportanceModel,
      unigrams: Boolean = false): Column = {
    val t = typedLit(m.tCnt.toSeq)
    val r = typedLit(m.rCnt.toSeq)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ws = TextAnalysis.words(TextAnalysis.normalizeText(text))
    val all = allGrams(ws, unigrams)
    val ratios = transform(all, g => {
      val b = (conv(substring(md5(g), 1, 6), 16, 10).cast("long")
        % m.buckets).cast("int")
      floor(lit(1e9)
        * ((element_at(t, b + 1) + 1).cast("double")
          * lit((m.rTotal + m.buckets).toDouble))
        / (lit((m.tTotal + m.buckets).toDouble)
          * (element_at(r, b + 1) + 1).cast("double"))).cast("long")
    })
    when(size(all) >= 1,
      floor(aggregate(ratios, lit(0L).cast(dec), (acc, x) => acc + x.cast(dec))
        .cast("double") / size(all)).cast("long"))
  }

  /** Keep the corpus docs whose [[importanceWeights]] affinity clears
    * `minAffinityFp` (default 10⁹ = at-least-as-target-like-as-raw).
    * Docs too short to score (< 2 words) are dropped — they carry no
    * bigram evidence either way; pass them around the resample if they
    * must survive. One id semi-join; bodies move only on the probe
    * side.
    */
  def importanceResample(corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      minAffinityFp: Long = 1000000000L, buckets: Int = 1 << 18,
      unigrams: Boolean = false): DataFrame = {
    val w = importanceWeights(corpus, idCol, textCol, target,
      targetTextCol, buckets, unigrams)
    // pin the (id-only, doc-count-sized) survivor set, then release
    // the scored frame — the returned plan must not re-trigger the
    // model aggs, and the weights cache must not outlive this call
    // (the curateCorpus-cache-release discipline)
    val keep = w.filter(col("affinity_fp") >= minAffinityFp)
      .select(col("doc_id").as(idCol))
      .localCheckpoint()
    w.unpersist()
    corpus.join(keep, Seq(idCol), "left_semi")
  }

  /** Deterministic seeded corpus shuffle → fixed training shards, the
    * step between curation and the training data loader: every row
    * gets a `shard` in [0, numShards) and a `sort_key` whose
    * within-shard order IS the shuffled read order. Both derive from
    * md5(seed | key) — the corpus-order correlation a crawl has
    * (domain runs, time runs) is destroyed, any engine reproduces the
    * assignment bit-for-bit from (seed, key), and adding shards later
    * never requires a global pass.
    *
    * Deliberately NO global sort and NO per-shard window: a position
    * column via `row_number() over (partition by shard)` would funnel
    * corpus/numShards rows through one task each — at 100 TB that is
    * the q100-ntile trap. Position is instead IMPLICIT in sort order:
    * [[writeShuffledShards]] clusters by shard and sorts files by
    * `sort_key`, so the loader reads each shard's files in order and
    * gets the shuffled sequence with zero windows. The shard id is the
    * top 24 bits of the md5 mod numShards (bias ≤ numShards/2²⁴ —
    * negligible for any sane shard count).
    */
  def shuffleShards(df: DataFrame, keyCol: Column, numShards: Int,
      seed: Long): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val sortKey = md5(concat(lit(seed.toString), lit("|"), keyCol.cast("string")))
    df.withColumn("sort_key", sortKey)
      .withColumn("shard",
        conv(substring(col("sort_key"), 1, 6), 16, 10).cast("long")
          % numShards)
  }

  /** Materialize a [[shuffleShards]] corpus for the data loader: one
    * directory per shard (`shard=K/`), rows within each file in
    * `sort_key` order. One clustering shuffle total;
    * `maxRecordsPerFile` bounds file size at scale while preserving
    * the in-file order (Spark splits a sorted task output into
    * consecutive sorted files).
    */
  def writeShuffledShards(df: DataFrame, keyCol: Column, numShards: Int,
      seed: Long, path: String, maxRecordsPerFile: Long = 0L): Unit =
    shuffleShards(df, keyCol, numShards, seed)
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("sort_key"))
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .mode("overwrite")
      .parquet(path)
}
