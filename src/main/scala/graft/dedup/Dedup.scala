package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge

import graft.text.TextAnalysis

/** Document deduplication at training-data scale (BASELINE north-star):
  * exact (content-hash groupBy), MinHash+LSH, SimHash, n-gram Jaccard,
  * and embedding-cosine near-dup.
  *
  * Scale posture: exact dedup is one hash shuffle on the 16-byte content
  * key (never the document body — project the key first, join survivors
  * back if bodies are needed). The near-dup family never goes O(n²):
  * candidate pairs come from banding (LSH buckets), so the only shuffle
  * keys are short band hashes, and the quadratic blow-up is confined to
  * within-bucket joins (bucket size is controlled by band width). Only
  * the final verify (exact Jaccard / hamming / cosine) touches pairs,
  * and only candidate pairs.
  */
object Dedup {

  // ------------------------------------------------------------- exact

  /** Exact dedup by normalized content: one survivor (min id) per
    * fingerprint. Returns (fingerprint, n_copies, keep_id).
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"), col(idCol))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** The surviving rows themselves (window formulation — single shuffle
    * on the content key, no join back).
    */
  def exactSurvivors(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact dedup with a PRIORITY policy: when copies of the same
    * content collide across sources, keep the copy from the BEST
    * source (lowest `priority` value), not the lowest id — the
    * RefinedWeb/Dolma-style rule "prefer the curated mirror over the
    * crawl copy". Ties within a priority class break on the id, so
    * the survivor set is deterministic and engine-exact.
    *
    * Scale shape: owner election is `min(struct(priority, id))` — a
    * map-side-combinable aggregate on the fingerprint key (the
    * q95-fold lesson: never a row_number window for an election a
    * min-struct can express; a 10⁹-copy boilerplate group combines
    * before the shuffle instead of landing in one window task).
    * Returns (fingerprint, n_copies, keep_id, keep_priority).
    *
    * A NULL priority is coalesced to Long.MaxValue (worst class) —
    * without the coalesce, NULL sorts FIRST in Spark's struct
    * ordering, so a row with a missing priority would silently beat
    * every real priority class. As in [[exactGroups]], null-text docs
    * all share the null fingerprint and collapse into one group —
    * filter them upstream if that is not the intended policy.
    */
  def exactGroupsByPriority(docs: DataFrame, idCol: String, textCol: String,
      priority: Column): DataFrame =
    docs.select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"),
      col(idCol).as("__id"),
      coalesce(priority.cast("long"), lit(Long.MaxValue)).as("__prio"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_copies"),
        min(struct(col("__prio"), col("__id"))).as("__win"))
      .select(col("fingerprint"), col("n_copies"),
        col("__win.__id").as("keep_id"),
        col("__win.__prio").as("keep_priority"))

  /** C4/CCNet-style paragraph-level exact dedup: drop every repeated
    * normalized paragraph (line) ACROSS the corpus, keeping the first
    * occurrence in (doc_id, para_no) order, and reassemble each
    * document from its surviving paragraphs. This is the most common
    * real curation op whole-doc dedup misses: boilerplate lines
    * (navigation, license headers, "subscribe" footers) repeat across
    * millions of otherwise-unique pages.
    *
    * Normalization for the match key: collapse whitespace runs, trim,
    * lowercase — the key is the md5 of that, so the shuffle moves a
    * 32-char key + ids, with the paragraph body riding along once.
    * Whitespace-only/empty paragraphs are STRUCTURE, not content: they
    * are always kept and never enter the key shuffle — at corpus scale
    * the empty-line key is otherwise a guaranteed hot-partition bomb.
    *
    * Scale shape: owner election is a groupBy-min on the md5 key
    * (partial-aggregatable map-side, so a paragraph duplicated 10⁹
    * times combines before the shuffle — a window row_number over the
    * same key would put all 10⁹ rows in one task), then one join of
    * paragraphs to owners on the key (AQE skew-split handles hot
    * boilerplate keys), then one doc_id shuffle to reassemble.
    *
    * Returns (doc_id, text, n_kept, n_dropped) — every input doc is
    * present, with text = "" if every paragraph was a cross-corpus dup.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame =
    reassembleParas(keepFirstFlags(explodedParas(docs, idCol, textCol, sep)),
      sep)

  /** Sentence-level exact dedup — [[paragraphDedup]]'s keep-first
    * election at SENTENCE granularity (the CCNet-family unit below the
    * line: boilerplate sentences repeat inside otherwise-unique
    * lines). Sentence boundaries are terminal punctuation followed by
    * a space or newline, marked by rewriting the separator to U+0001
    * and splitting on it — a lookbehind-free construction both regex
    * engines (Java, RE2) execute identically, unlike `(?<=[.!?]) `.
    * Unpunctuated line breaks stay INSIDE a sentence (line-wrap, not a
    * boundary). Kept sentences rejoin with a single space, which
    * reconstructs the original text exactly when nothing is dropped
    * (each sentence retains its own terminal mark). Same scale shape
    * as the paragraph operator: one explode, one bounded-key owner
    * agg, one reassembly agg.
    */
  def sentenceDedup(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val prepped = docs.select(col(idCol),
      regexp_replace(coalesce(col(textCol), lit("")),
        "([.!?])[ \n]", "$1\u0001").as(textCol))
    reassembleParas(
      keepFirstFlags(explodedParas(prepped, idCol, textCol, "\u0001")),
      " ")
  }

  /** Keep-first owner election over an [[explodedParas]] frame: the
    * min-(doc_id, para_no) occurrence of every non-empty normalized
    * key keeps, empties always keep (structure, not content). Shared
    * by the paragraph and sentence dedup operators.
    */
  private def keepFirstFlags(paras: DataFrame): DataFrame = {
    val nonEmpty = paras.filter(!col("__empty"))
    val owners = nonEmpty.groupBy("__k")
      .agg(min(struct(col("doc_id"), col("para_no"))).as("__owner"))
    nonEmpty.join(owners, "__k")
      .withColumn("__keep",
        col("__owner.doc_id") === col("doc_id") &&
          col("__owner.para_no") === col("para_no"))
      .drop("__owner")
      .unionByName(paras.filter(col("__empty")).withColumn("__keep", lit(true)))
  }

  // --- shared line/span plumbing: ONE implementation behind
  // paragraphDedup, substringDedup, Curation.spanDecontaminate and
  // both streaming twins — every consumer is hash-gated against a
  // shared DuckDB oracle, so a tokenization/normalization change here
  // is caught by the gate; a change to one of five copies would
  // silently desynchronize the twins from their oracles.

  /** Exploded normalized lines: (doc_id, para_no, para, __empty, __k).
    * Null text = empty doc (one empty structural line).
    */
  private[graft] def explodedParas(docs: DataFrame, idCol: String,
      textCol: String, sep: String): DataFrame = docs
    .select(col(idCol).as("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep), -1)))
    .withColumnsRenamed(Map("pos" -> "para_no", "col" -> "para"))
    .withColumn("__empty", trim(col("para")) === "")
    .withColumn("__k",
      md5(lower(trim(regexp_replace(col("para"), "\\s+", " ")))))

  /** Reassemble keep-flagged lines: (doc_id, text, n_kept, n_dropped). */
  private[graft] def reassembleParas(flagged: DataFrame, sep: String): DataFrame =
    flagged.groupBy("doc_id").agg(
      array_join(
        transform(
          array_sort(collect_list(
            when(col("__keep"), struct(col("para_no"), col("para"))))),
          _.getField("para")),
        sep).as("text"),
      sum(col("__keep").cast("long")).as("n_kept"),
      sum((!col("__keep")).cast("long")).as("n_dropped"))

  /** 1-based whitespace token positions: (doc_id, pos, tok); null text
    * = empty doc (zero rows).
    */
  private[graft] def tokenPositions(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = docs
    .select(col(idCol).as("doc_id"),
      split(trim(coalesce(col(textCol), lit(""))), "\\s+").as("__ws"))
    .select(col("doc_id"), posexplode(col("__ws")).as(Seq("__p0", "tok")))
    .select(col("doc_id"), (col("__p0") + 1).as("pos"), col("tok"))
    .filter(col("tok") =!= "")

  /** md5 rolling `w`-gram hashes at each 1-based start position:
    * (doc_id, pos, h). Docs shorter than `w` contribute no grams.
    */
  private[graft] def rollingGrams(docs: DataFrame, idCol: String,
      textCol: String, w: Int): DataFrame = docs
    .select(col(idCol).as("doc_id"),
      split(trim(coalesce(col(textCol), lit(""))), "\\s+").as("__ws"))
    .select(col("doc_id"), explode(
      when(size(col("__ws")) >= w,
        transform(sequence(lit(1), size(col("__ws")) - (w - 1)),
          i => struct(i.as("pos"),
            md5(concat_ws(" ", slice(col("__ws"), i, lit(w)))).as("h"))))
        .otherwise(typedLit(Seq.empty[(Int, String)])
          .cast("array<struct<pos:int,h:string>>"))).as("g"))
    .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))

  /** Distinct covered token positions from coverage SPANS — one row
    * per duplicate occurrence `(doc_id, start, end)`, NOT one row per
    * covered position. Overlapping spans within a doc coalesce into
    * disjoint intervals first (classic interval merge: running
    * max-of-end window per doc, a new group opens when `start` clears
    * every previous end), and only the MERGED intervals explode to
    * positions — each covered position is emitted exactly once, so no
    * `distinct` is needed and the shuffle this stage pays is
    * O(occurrences) span rows (window on doc_id), not
    * O(occurrences × w) position rows. On the corpora the substring
    * family exists for — 30%+ duplicated (Lee et al. 2022's own
    * motivation) — the per-position form shuffled ~w× the duplicate
    * token mass before its distinct; this shape drops that factor
    * entirely. The groupBy after the window re-uses the window's
    * hash-partitioning on doc_id (subset of the grouping key → no
    * extra exchange).
    *
    * `start` values are unique per doc in every consumer (one span per
    * gram position), so the window order is deterministic.
    */
  private[graft] def coveredPositions(spans: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    spans
      .withColumn("__pmax", max(col("end")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        (col("__pmax").isNull || col("start") > col("__pmax")).cast("long"))
      .withColumn("__grp", sum(col("__new")).over(byDoc))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("start")).as("start"), max(col("end")).as("end"))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("end"))).as("pos"))
  }

  /** Anti-join tokens against covered positions, reassemble per doc,
    * and join token totals back: every input doc present as
    * (doc_id, text, n_tokens_kept, n_tokens_removed).
    */
  private[graft] def reassembleTokens(docs: DataFrame, idCol: String,
      textCol: String, covered: DataFrame): DataFrame = {
    val kept = tokenPositions(docs, idCol, textCol)
      .join(covered, Seq("doc_id", "pos"), "left_anti")
    val reassembled = kept.groupBy("doc_id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        _.getField("tok")), " ").as("text"),
      count(lit(1)).as("n_tokens_kept"))
    docs.select(col(idCol).as("doc_id"),
      size(array_remove(split(trim(coalesce(col(textCol), lit(""))), "\\s+"), ""))
        .as("__total"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        (col("__total") - coalesce(col("n_tokens_kept"), lit(0L)))
          .cast("long").as("n_tokens_removed"))
  }

  /** Exact substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): remove every repeated
    * `windowTokens`-token span across the corpus except its FIRST
    * occurrence in (doc_id, position) order — the span-level dedup
    * that catches duplication [[paragraphDedup]]'s line boundaries
    * can't (quotes, templated passages, mid-paragraph boilerplate).
    * The paper builds a suffix array; the relational equivalent is
    * rolling window hashes: every token position contributes one
    * md5'd w-gram (the same corpus-sized gram relation the n-gram
    * decontaminator builds), duplicated grams elect a keep-first
    * owner via a map-side-combinable min aggregate, and every
    * NON-owner occurrence marks its w token positions for removal.
    * Reassembly joins the surviving tokens per doc (single-space
    * normalized — documented divergence: original inter-token
    * whitespace is not preserved).
    *
    * Scale shape: the gram relation is one row per token position
    * (identical to q86's probe side); its groupBy moves only (16-byte
    * hash, id, pos) triples with map-side combine. Coverage moves ONE
    * span row per duplicate occurrence, interval-coalesced per doc
    * before exploding to positions ([[coveredPositions]]) — never the
    * old w-rows-per-occurrence form. Three corpus-sized shuffles total
    * (gram election, coverage anti-join, doc reassembly) — inherent to
    * the operator.
    *
    * Returns (doc_id, text, n_tokens_kept, n_tokens_removed); every
    * input doc is present, text = "" if fully covered by earlier
    * duplicates.
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 50, maxDocTokens: Int = 1 << 20): DataFrame = {
    require(windowTokens >= 2, "windowTokens must be >= 2")
    require(maxDocTokens >= windowTokens,
      s"maxDocTokens ($maxDocTokens) must be >= windowTokens ($windowTokens)")
    val w = windowTokens
    // Oversized-document guard: rollingGrams materializes one
    // (pos, md5) struct per token IN A SINGLE ROW'S ARRAY before the
    // explode, and reassembly collects a doc's surviving tokens into
    // one aggregation buffer — both are O(doc tokens) in ONE task's
    // memory, so a pathological document (a 10M-token concatenation
    // artifact in a web crawl) would stall or OOM its executor while
    // every normal partition finishes. Documents above `maxDocTokens`
    // therefore BYPASS dedup: they pass through unchanged
    // (n_tokens_removed = 0) rather than degrade the whole stage —
    // predictable, bounded degradation. Their grams also leave the
    // owner election, so they neither claim spans of normal docs nor
    // lose spans themselves; at the default 2^20 bound the per-task
    // array tops out near ~50 MB. Callers wanting them deduped should
    // pre-split giant docs into bounded chunks upstream.
    val nTok = size(split(trim(coalesce(col(textCol), lit(""))), "\\s+"))
    val small = docs.filter(nTok <= maxDocTokens)
    val oversized = docs
      .filter(nTok > maxDocTokens)
      .select(col(idCol).as("doc_id"),
        coalesce(col(textCol), lit("")).as("text"),
        size(array_remove(split(trim(coalesce(col(textCol), lit(""))), "\\s+"), ""))
          .cast("long").as("n_tokens_kept"),
        lit(0L).as("n_tokens_removed"))
    substringDedupUnguarded(small, idCol, textCol, w)
      .unionByName(oversized)
  }

  private def substringDedupUnguarded(docs: DataFrame, idCol: String,
      textCol: String, w: Int): DataFrame = {
    val grams = rollingGrams(docs, idCol, textCol, w)
    val owners = grams.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("__owner"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("h"), col("__owner"))
    val covered = coveredPositions(grams.join(owners, Seq("h"))
      .filter(col("__owner.doc_id") =!= col("doc_id") ||
        col("__owner.pos") =!= col("pos"))
      .select(col("doc_id"), col("pos").as("start"),
        (col("pos") + (w - 1)).as("end")))
    reassembleTokens(docs, idCol, textCol, covered)
  }

  // ----------------------------------------------------------- shingles

  /** Shingles from an already-materialized words array.
    *
    * PERFORMANCE INVARIANT for this whole file: higher-order functions
    * (`transform`/`aggregate`) are interpreted, not codegen'd, and they
    * re-evaluate argument expressions per element — so a nested HOF whose
    * argument is itself an expensive expression (a regex split, another
    * transform) does combinatorial work per row. Every pipeline below
    * therefore materializes each derived array (words → shingles → base
    * hashes → signature) as its OWN projection via `withColumn`, so each
    * is computed once per row and downstream lambdas see a cheap
    * attribute. (Measured: the inlined form was ~100× slower at sf0.1.)
    */
  def shinglesFromWords(ws: Column, k: Int): Column =
    when(size(ws) >= k,
      array_distinct(
        transform(sequence(lit(0), size(ws) - k),
          i => concat_ws(" ", slice(ws, i + lit(1), lit(k))))))
      .otherwise(array().cast("array<string>"))

  /** Word k-shingles of the normalized text (distinct). Convenience
    * single-expression form — fine for ad-hoc use on short texts; bulk
    * pipelines stage the words array first (see invariant above).
    */
  def wordShingles(text: Column, k: Int): Column =
    shinglesFromWords(TextAnalysis.words(TextAnalysis.normalizeText(text)), k)

  /** (id, shingles) with the words array staged as its own projection.
    * The barrier keeps the `size > 0` filter above the shingle
    * projection: pushed below it, the filter would shingle every
    * document a second time.
    */
  private def shingleTable(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    graft.plans.PlanBarrier.barrier(docs.select(col(idCol).as("id"),
      TextAnalysis.words(TextAnalysis.normalizeText(col(textCol))).as("__ws"))
      .withColumn("shingles", shinglesFromWords(col("__ws"), k))
      .drop("__ws"))
      .filter(size(col("shingles")) > 0)

  /** Exact Jaccard of two shingle arrays (arrays already distinct). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  // ------------------------------------------------------------ MinHash

  /** MinHash signature: numPerm permutations, element j = min over
    * shingles of h_j(shingle). Each shingle is string-hashed ONCE
    * (xxhash64); the j-th permutation is an affine transform
    * `(a_j·h + b_j) mod 2³¹` of that base hash — the standard universal-
    * hash construction, ~numPerm× cheaper than re-hashing the string per
    * permutation. 31-bit state keeps every product inside a long
    * (ANSI-mode overflow safety). Pure expression, deterministic at any
    * parallelism.
    */
  private val hashMask = (1L << 31) - 1L

  /** Scala closed forms of the affine-permutation constants used by
    * [[permutationArray]] / [[minHashSignature]] / the codegen kernels
    * — the SINGLE source the generated DuckDB oracles for the MinHash
    * family draw from (MinHashSpec pins expression↔closed-form parity,
    * the driver's hash gate pins Scala↔DuckDB parity).
    */
  private[graft] def permA(j: Int): Long =
    ((j.toLong * 0x9E3779B1L) & hashMask) | 1L
  private[graft] def permB(j: Int): Long =
    (j.toLong * 0x85EBCA77L + 0xC2B2AE3DL) & hashMask
  private[graft] def hashMask31: Long = hashMask

  /** All numPerm affine permutations `(a_j·h + b_j) mod 2³¹` of one
    * 31-bit base hash (the universal-hash family; 31-bit state keeps
    * every product inside a long under ANSI overflow checking). `h`
    * must be an attribute-bound scalar — then the per-element work is
    * pure arithmetic.
    */
  def permutationArray(h: Column, numPerm: Int): Column =
    transform(sequence(lit(0), lit(numPerm - 1)), j => {
      val a = (j.cast("long") * lit(0x9E3779B1L)).bitwiseAND(lit(hashMask)).bitwiseOR(lit(1L))
      val b = (j.cast("long") * lit(0x85EBCA77L) + lit(0xC2B2AE3DL)).bitwiseAND(lit(hashMask))
      (h * a + b).bitwiseAND(lit(hashMask))
    })

  /** Single-expression MinHash signature (element j = min over shingles
    * of permutation j of the shingle hash). Convenience/test form —
    * bulk pipelines use the explode→aggregate form in [[minHashPairs]]
    * (see performance invariant on [[shinglesFromWords]]).
    */
  def minHashSignature(shingles: Column, numPerm: Int): Column = {
    val base = transform(shingles, s => xxhash64(s).bitwiseAND(lit(hashMask)))
    transform(sequence(lit(0), lit(numPerm - 1)), j => {
      val a = (j.cast("long") * lit(0x9E3779B1L)).bitwiseAND(lit(hashMask)).bitwiseOR(lit(1L))
      val b = (j.cast("long") * lit(0x85EBCA77L) + lit(0xC2B2AE3DL)).bitwiseAND(lit(hashMask))
      array_min(transform(base, h => (h * a + b).bitwiseAND(lit(hashMask))))
    })
  }

  /** Optimal (bands, rowsPerBand) for a target Jaccard `threshold`
    * under a `numPerm` permutation budget — the standard LSH S-curve
    * tuning (Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets"
    * §3.4; the datasketch `_optimal_param` construction): for each
    * admissible (b, r) with b·r ≤ numPerm, the candidate probability
    * at similarity s is `1 − (1 − s^r)^b`; minimize
    * `fpWeight·∫₀ᵗ P(s) ds + fnWeight·∫ₜ¹ (1 − P(s)) ds` by midpoint
    * quadrature. Driver-side pure math — call once, pass the result
    * to [[minHashPairs]]; the default weights balance false positives
    * (verify-join cost) against false negatives (missed near-dups).
    */
  def lshParamsFor(threshold: Double, numPerm: Int = 64,
      fpWeight: Double = 0.5, fnWeight: Double = 0.5): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(numPerm >= 2, s"numPerm must be >= 2, got $numPerm")
    val steps = 1000
    def pCand(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
    def integral(lo: Double, hi: Double)(f: Double => Double): Double = {
      val dx = (hi - lo) / steps
      (0 until steps).foldLeft(0.0)((acc, i) =>
        acc + f(lo + (i + 0.5) * dx)) * dx
    }
    val candidates = for {
      b <- 1 to numPerm
      r <- 1 to numPerm / b
    } yield {
      val fp = integral(0.0, threshold)(s => pCand(s, b, r))
      val fn = integral(threshold, 1.0)(s => 1.0 - pCand(s, b, r))
      ((b, r), fpWeight * fp + fnWeight * fn)
    }
    candidates.minBy { case ((b, r), err) => (err, -b * r, b) }._1
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * shingle → signature → band (bands × rowsPerBand = numPerm) →
    * explode one row per (band, bandHash) → self-join within band →
    * distinct candidate pairs → exact-Jaccard verify ≥ threshold.
    * Tune (bands, rowsPerBand) for a target threshold with
    * [[lshParamsFor]].
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minHashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val numPerm = bands * rowsPerBand
    // persisted: the shingle table feeds the signature pipeline AND both
    // verify branches; banding feeds both sides of the self-join. Without
    // persistence the whole regex/shingle pipeline re-executes once per
    // branch (4x total — verified via .explain).
    val sh = shingleTable(docs, idCol, textCol, shingleK)
      // evict: LRU — plan-lifetime cache of the plain one-shot overload
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // signature via the codegen'd whole-signature expression
    // (MinHashSig): all numPerm mins in one generated loop at the scan —
    // no explode row blow-up, no aggregation, no shuffle (the previous
    // explode→UDAF form is kept as MinHashAgg for the aggregation-shaped
    // variant and parity tests). The barrier keeps `isNotNull` above the
    // signature projection: pushed below it, the filter evaluated the
    // whole signature once more per document.
    val withSig = graft.plans.PlanBarrier.barrier(sh
      .select(col("id"),
        graft.functions.MinHashExpressions.minhashSig(col("shingles"), numPerm).as("sig")))
      .filter(col("sig").isNotNull)
    // banding carries only (id, band, band_hash) — never the shingle
    // arrays — so the self-join shuffles 24 bytes per row
    val banded = withSig.select(
      col("id"),
      bandsOf(col("sig"), bands, rowsPerBand).as(Seq("band", "band_hash")))
      // evict: LRU — plan-lifetime cache; both self-join sides read it
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // verify: join the shingle sets back by id (small per-id side)
    val shOnly = sh.select(col("id"), col("shingles"))
    candidates
      .join(shOnly.withColumnRenamed("id", "id_a")
        .withColumnRenamed("shingles", "sh_a"), "id_a")
      .join(shOnly.withColumnRenamed("id", "id_b")
        .withColumnRenamed("shingles", "sh_b"), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Cross-corpus LSH CONTAINMENT pairs — the partial-overlap
    * decontamination primitive (a benchmark document QUOTED inside a
    * larger corpus document has high containment |A∩B|/|B| but low
    * Jaccard, so symmetric near-dup misses it): candidates from the
    * same signature band buckets as [[minHashPairs]] (corpus side ⋈
    * benchmark side — never a self-join), then EXACT containment on
    * candidates only, measured against the BENCHMARK's shingle count.
    *
    * Honest recall note: candidate recall follows the Jaccard
    * S-curve of (bands, rowsPerBand) — at extreme size asymmetry
    * (a tweet inside a book) the Jaccard is tiny and the bucket
    * collision probability with it; raise `bands` or use the exact
    * n-gram span path (`Curation.spanDecontaminate`) when the
    * asymmetry is unbounded. This operator is the probabilistic
    * pre-filter for quote-sized asymmetries at corpus scale, where
    * the exact path's gram join is the budget constraint.
    *
    * Returns (doc_id, bench_id, containment) with containment =
    * |shingles(doc) ∩ shingles(bench)| / |shingles(bench)| ≥
    * `threshold`. Scale shape: both sides band to (id, band, hash)
    * rows (24 bytes/row through the shuffle); the verify join touches
    * candidates only.
    */
  def containmentPairs(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val numPerm = bands * rowsPerBand
    val shA = shingleTable(corpus, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shB = shingleTable(bench, benchIdCol, benchTextCol, shingleK)
      // evict: LRU — plan-lifetime caches of the plain one-shot overload
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def banded(sh: DataFrame) = graft.plans.PlanBarrier.barrier(sh
      .select(col("id"),
        graft.functions.MinHashExpressions
          .minhashSig(col("shingles"), numPerm).as("sig")))
      .filter(col("sig").isNotNull)
      .select(col("id"),
        bandsOf(col("sig"), bands, rowsPerBand).as(Seq("band", "band_hash")))
    val candidates = banded(shA).as("l")
      .join(banded(shB).as("r"),
        col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash"))
      .select(col("l.id").as("doc_id"), col("r.id").as("bench_id"))
      .dropDuplicates("doc_id", "bench_id")
    candidates
      .join(shA.select(col("id").as("doc_id"), col("shingles").as("sh_a")),
        "doc_id")
      .join(shB.select(col("id").as("bench_id"), col("shingles").as("sh_b")),
        "bench_id")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(col("sh_b")))
      .filter(col("containment") >= threshold)
      .select(col("doc_id"), col("bench_id"),
        round(col("containment"), 6).as("containment"))
  }

  /** Winnow-join shared-region LOCALIZATION — the MOSS report
    * (Schleimer–Wilkerson–Aiken 2003 §4): where [[containmentPairs]]
    * answers "HOW MUCH of benchmark doc B is inside corpus doc A",
    * this answers "WHERE" — equi-join the two corpora's winnowing
    * fingerprints ([[graft.text.TextAnalysis.winnowFingerprints]]:
    * per-window rightmost-min k-gram hashes, positions attached) and
    * report, per (doc, bench) pair, the matched SPANS in each text
    * plus the count of distinct shared fingerprints. Positions index
    * the NORMALIZED text (the fingerprint coordinate space); a span is
    * the [min pos, max pos + k − 1] hull of the matched fingerprints.
    *
    * Guards: fingerprints carried by more than `maxBenchFpFreq`
    * benchmark rows are dropped BEFORE the join (the MOSS "too common
    * to mean anything" rule — a stop-gram fingerprint shared by every
    * benchmark doc would turn the equi-join quadratic), and pairs
    * sharing fewer than `minSharedFps` distinct fingerprints are
    * suppressed (winnowing guarantees detection of matches ≥ w+k−1
    * chars; a single shared fingerprint is noise at small k).
    *
    * Scale shape: fingerprints are map-only per side (O(n·w) per doc);
    * the join keys on the 8-byte fp with the benchmark side small
    * (auto-broadcast) and every corpus fp row matched by at most
    * `maxBenchFpFreq` bench rows — never a corpus×corpus product; the
    * group-by is one shuffle on (doc_id, bench_id) candidate pairs.
    */
  /** The frequency-capped fingerprint join shared by [[winnowMatches]]
    * and [[winnowDecontaminate]]: one row per matched (corpus fp
    * occurrence × benchmark fp occurrence) —
    * `(fp, doc_id, __dpos, bench_id, __bpos)`.
    */
  /** The frequency-capped benchmark fingerprint side —
    * `(fp, bench_id, __bpos)`, too-common fps already dropped — shared
    * by the normalized- and raw-coordinate corpus variants.
    */
  private def winnowBenchSide(bench: DataFrame, benchIdCol: String,
      benchTextCol: String, k: Int, w: Int, maxBenchFpFreq: Long,
      maxBenchFpDocFrac: Option[Double]): DataFrame = {
    import graft.text.TextAnalysis
    // NOT persisted: the bench side feeds the freq agg and the join
    // (two computations of a benchmark-sized fingerprint pass — cheap
    // with the native kernel), and per-micro-batch callers (q256)
    // would otherwise pin one fresh unreleasable cache per trigger
    // for the stream's lifetime. Callers with a standing benchmark
    // use the persistent WinnowIndex — that's what it's for.
    val b0 = TextAnalysis
      .winnowFingerprints(bench, benchIdCol, benchTextCol, k, w)
      .select(col("doc_id").as("bench_id"), col("pos").as("__bpos"),
        col("fp"))
    // MOSS's actual rule is a document-frequency PROPORTION ("too
    // common to mean anything"): when a fraction is given, the cap
    // scales with the benchmark instead of being an absolute row
    // count — ceil(frac · |bench docs|) distinct carrying docs
    maxBenchFpDocFrac match {
      case Some(f) =>
        require(f > 0.0 && f <= 1.0,
          s"maxBenchFpDocFrac must be in (0, 1], got $f")
        // the denominator (fingerprint-bearing bench docs) still costs
        // one eager kernel job — the proportional cap needs the scalar
        // before the plan is built; WinnowIndex callers avoid it by
        // freezing n_bench in the index meta at build time
        val nBench = b0.select("bench_id").distinct().count()
        val cap = math.max(1L, math.ceil(f * nBench).toLong)
        // r19 (guide §2.4, the r18 absolute-cap precedent): the
        // distinct-carrier count rides TWO stacked windows over ONE
        // hash(fp) exchange — first-occurrence markers per
        // (fp, bench_id), summed over the fp partition — instead of
        // the freq agg + left-semi join whose two branches re-ran the
        // bench kernel once each (per-branch pruning defeats exchange
        // reuse). hash(fp) satisfies BOTH window clusterings (subset
        // rule) and the (fp, bench_id, __bpos) sort of the first
        // window already orders the second's fp partitions, so the
        // whole cap is one exchange and one sort; window partitions
        // are bounded by per-fp bench frequency, the same bound the
        // old agg's groups had. Same surviving rows; output stays
        // fp-clustered for the downstream equi-join.
        b0.repartition(col("fp"))
          .withColumn("__r", row_number().over(Window
            .partitionBy(col("fp"), col("bench_id"))
            .orderBy(col("__bpos"))))
          .withColumn("__c", sum(when(col("__r") === 1, 1L)
            .otherwise(0L)).over(Window.partitionBy(col("fp"))))
          .filter(col("__c") <= cap)
          .drop("__r", "__c")
      case None =>
        // r18 (guide §2.4, the q264 cap-before-agg precedent): the
        // absolute-frequency cap runs as a WINDOW count over fp — one
        // kernel pass and one exchange — instead of the frequency
        // aggregation + semi-join, whose two branches re-ran the
        // bench kernel once each (per-branch column pruning defeats
        // exchange reuse: the pruned copies are not canonically
        // equal). Same surviving rows; the output stays clustered by
        // fp for the downstream equi-join. The proportional branch
        // above counts distinct carriers with two stacked windows over
        // the same one exchange.
        b0.withColumn("__c",
            count(lit(1)).over(Window.partitionBy(col("fp"))))
          .filter(col("__c") <= maxBenchFpFreq)
          .drop("__c")
    }
  }

  private def winnowMatchRows(corpus: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchIdCol: String,
      benchTextCol: String, k: Int, w: Int,
      maxBenchFpFreq: Long,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame = {
    import graft.text.TextAnalysis
    val d = TextAnalysis.winnowFingerprints(corpus, idCol, textCol, k, w)
      .select(col("doc_id"), col("pos").as("__dpos"), col("fp"))
    d.join(winnowBenchSide(bench, benchIdCol, benchTextCol, k, w,
      maxBenchFpFreq, maxBenchFpDocFrac), Seq("fp"))
  }

  def winnowMatches(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW,
      minSharedFps: Int = 2,
      maxBenchFpFreq: Long = 64L,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame =
    winnowMatchRows(corpus, idCol, textCol, bench, benchIdCol,
        benchTextCol, k, w, maxBenchFpFreq, maxBenchFpDocFrac)
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(
        countDistinct(col("fp")).as("n_shared_fps"),
        min(col("__dpos")).as("doc_lo"),
        (max(col("__dpos")) + lit(k - 1).cast("long")).as("doc_hi"),
        min(col("__bpos")).as("bench_lo"),
        (max(col("__bpos")) + lit(k - 1).cast("long")).as("bench_hi"))
      .filter(col("n_shared_fps") >= minSharedFps)

  /** [[winnowMatches]] with RAW doc-side coordinates: the span report
    * a human (or a highlighting UI) reads against the ORIGINAL
    * document — `doc_raw_lo`/`doc_raw_hi` are the code-point hull of
    * the matched fingerprints' raw gram spans
    * ([[graft.text.TextAnalysis.winnowFingerprintsRaw]]), alongside
    * the normalized hulls both sides already report (the benchmark
    * side keeps normalized coordinates: its text is the frozen
    * artifact, the corpus doc is the thing someone opens in an
    * editor). Same join/cap/evidence plan as [[winnowMatches]].
    */
  def winnowMatchesRaw(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW,
      minSharedFps: Int = 2, maxBenchFpFreq: Long = 64L,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame = {
    import graft.text.TextAnalysis
    val d = TextAnalysis
      .winnowFingerprintsRaw(corpus, idCol, textCol, k, w)
      .select(col("doc_id"), col("pos").as("__dpos"), col("fp"),
        col("raw_lo"), col("raw_hi"))
    d.join(winnowBenchSide(bench, benchIdCol, benchTextCol, k, w,
        maxBenchFpFreq, maxBenchFpDocFrac), Seq("fp"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(
        countDistinct(col("fp")).as("n_shared_fps"),
        min(col("__dpos")).as("doc_lo"),
        (max(col("__dpos")) + lit(k - 1).cast("long")).as("doc_hi"),
        min(col("raw_lo")).as("doc_raw_lo"),
        max(col("raw_hi")).as("doc_raw_hi"),
        min(col("__bpos")).as("bench_lo"),
        (max(col("__bpos")) + lit(k - 1).cast("long")).as("bench_hi"))
      .filter(col("n_shared_fps") >= minSharedFps)
  }

  /** Within-corpus shared-span localization — the MOSS report over
    * ONE corpus (Schleimer–Wilkerson–Aiken 2003's actual deployment:
    * find which documents share which regions with each other, the
    * cross-document plagiarism/boilerplate forensic the pairwise
    * near-dup family answers only with a score): per (doc_a, doc_b)
    * pair (doc_a < doc_b), the matched span hulls in each text and
    * the distinct shared-fingerprint count.
    *
    * The quadratic guard is the corpus-wide document-frequency cap:
    * fingerprints carried by more than `maxFpDocs` documents are
    * dropped before any pairing (boilerplate grams — navigation
    * chrome, license headers — would otherwise turn the fp match into
    * an all-pairs product). Each surviving fp contributes at most
    * `maxFpDocs·(maxFpDocs−1)/2` pairs. Evidence floor as
    * [[winnowMatches]].
    *
    * Plan shape (ONE fingerprint pass, JOIN-FREE — a naive fps⨝fps
    * self-join would compute the kernel relation three times: the cap
    * agg plus both join sides): occurrences collapse to per-(fp, doc)
    * hulls; the document-frequency cap is applied BEFORE any list
    * aggregation as a window count over `fp` (the same shuffle key as
    * the fold below — no extra exchange, and WindowExec streams each
    * fp's sorted run through a SPILLABLE buffer, so a boilerplate
    * fingerprint carried by millions of docs spills to disk instead of
    * building one in-memory aggregation buffer); only the surviving
    * 2..`maxFpDocs` carrier bands reach `collect_list`, so no
    * aggregation buffer ever holds more than `maxFpDocs` structs;
    * ordered pairs explode map-side from the bounded list, and the
    * per-pair group-by is one shuffle on candidate pairs.
    *
    * Returns `(doc_a, doc_b, n_shared_fps, a_lo, a_hi, b_lo, b_hi)` —
    * positions in each doc's NORMALIZED text.
    */
  def winnowSelfMatches(corpus: DataFrame, idCol: String,
      textCol: String,
      k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW,
      minSharedFps: Int = 2, maxFpDocs: Long = 4L): DataFrame =
    winnowSelfPairsFromHulls(winnowSelfHulls(corpus, idCol, textCol,
      k, w), k, minSharedFps, maxFpDocs, raw = false)

  /** [[winnowSelfMatches]] with RAW per-side coordinates: the q267
    * treatment for the within-corpus report — both documents of a
    * pair are corpus docs someone opens in an editor, so BOTH sides
    * carry the code-point hull in the ORIGINAL text
    * (`a_raw_lo`/`a_raw_hi`/`b_raw_lo`/`b_raw_hi`, from
    * [[graft.text.TextAnalysis.winnowFingerprintsRaw]]) alongside the
    * normalized hulls. Same single-kernel-pass, join-free,
    * capped-before-aggregation plan as [[winnowSelfMatches]].
    */
  def winnowSelfMatchesRaw(corpus: DataFrame, idCol: String,
      textCol: String,
      k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW,
      minSharedFps: Int = 2, maxFpDocs: Long = 4L): DataFrame = {
    import graft.text.TextAnalysis
    val perDoc = TextAnalysis
      .winnowFingerprintsRaw(corpus, idCol, textCol, k, w)
      .groupBy(col("fp"), col("doc_id"))
      .agg(min(col("pos")).as("lo"), max(col("pos")).as("hi"),
        min(col("raw_lo")).as("rlo"), max(col("raw_hi")).as("rhi"))
    winnowSelfPairsFromHulls(perDoc, k, minSharedFps, maxFpDocs,
      raw = true)
  }

  /** Boilerplate-FAMILY clustering — connected components over the
    * [[winnowSelfMatches]] pair relation: documents sharing
    * winnow-localized regions (directly or transitively — a license
    * header carried across a site, a template family, serial
    * plagiarism chains) fold into one labeled family, the grouping a
    * curation pipeline caps or samples per family instead of per
    * pair. Components via [[clustersStar]] (O(log² n) rounds), so the
    * family fold inherits the q202 scale shape on top of the
    * self-report's capped join-free pairing.
    *
    * Returns `(doc_id, cluster_id = component min)` for every doc in
    * at least one qualifying pair.
    */
  def winnowSelfClusters(corpus: DataFrame, idCol: String,
      textCol: String,
      k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW,
      minSharedFps: Int = 2, maxFpDocs: Long = 4L): DataFrame =
    clustersStar(winnowSelfMatches(corpus, idCol, textCol, k, w,
        minSharedFps, maxFpDocs)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))

  /** Per-FAMILY admission cap — the curation stage the
    * [[winnowSelfClusters]] labels exist for: instead of hard-deduping
    * shared-region families (near-dup dedup's job) or keeping them
    * all, admit at most `capPerFamily` documents per family — the
    * domain-quota discipline applied to content families (a template
    * family contributes diversity up to a point, then it's just
    * repetition). Deterministic: families keep their lowest doc ids.
    *
    * Returns one row per corpus doc:
    * `(doc_id, cluster_id, rank_in_family, kept)` — docs in no family
    * have NULL cluster_id, rank 1, kept true.
    *
    * Scale shape: the q264/q202 pairing+CC chain, one doc-count-sized
    * left anti/inner join pair, and a per-family rank window whose
    * partitions are family-sized (unlabeled docs deliberately bypass
    * the window — a NULL-keyed window partition would serialize every
    * unlabeled doc through one reducer).
    */
  def winnowFamilyCap(corpus: DataFrame, idCol: String,
      textCol: String, capPerFamily: Int,
      k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW,
      minSharedFps: Int = 2, maxFpDocs: Long = 4L): DataFrame = {
    winnowFamilyCapFromLabels(corpus.select(col(idCol).as("doc_id")),
      winnowSelfClusters(corpus, idCol, textCol, k, w, minSharedFps,
        maxFpDocs).select(col("id").as("doc_id"), col("cluster_id")),
      capPerFamily)
  }

  /** The cap assembly behind [[winnowFamilyCap]], shared with the
    * streaming twin (standing hulls → end-of-ingest clusters → this):
    * `base` is the full `(doc_id)` corpus roster, `labels` the
    * `(doc_id, cluster_id)` family frame.
    */
  private[graft] def winnowFamilyCapFromLabels(base: DataFrame,
      labels: DataFrame, capPerFamily: Int): DataFrame = {
    require(capPerFamily >= 1,
      s"capPerFamily must be >= 1, got $capPerFamily")
    // Exact per-family rank WITHOUT a per-family window partition: a
    // `row_number().over(partitionBy(cluster_id))` hashes every member
    // of a family into ONE window task, so a boilerplate mega-family
    // (10⁷–10⁸ docs carrying one template) serializes its whole roster
    // through a single sort (the r17 verdict's straggler note).
    // Instead: (1) range-partition the labeled rows by
    // (cluster_id, doc_id) — a PARALLEL global sort, the mega-family
    // spreads over many partitions — and record each row's physical
    // partition; (2) rank locally within (cluster_id, partition) —
    // window partitions bounded by the range-partition size, never by
    // family size; (3) roll a per-(cluster, partition) count into the
    // earlier-partition offset — that window's partitions are at most
    // |range partitions| rows. rank = offset + local rank is the exact
    // global (cluster_id, doc_id) position regardless of where the
    // range boundaries fall (doc_id is unique, so the order is total);
    // q281/q282 hash-identical, spec-pinned by the planted
    // mega-family test in SkewStressSpec. Partition count follows
    // spark.sql.shuffle.partitions (scale-adaptive, not hard-coded).
    val ranged = base.join(labels, Seq("doc_id"))
      .repartitionByRange(col("cluster_id"), col("doc_id"))
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("cluster_id"), col("__pid"))
      .orderBy(col("doc_id"))
    val local = ranged.withColumn("__lr", row_number().over(wLocal))
    val wOff = Window.partitionBy(col("cluster_id")).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = local.groupBy(col("cluster_id"), col("__pid"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("cluster_id"), col("__pid"), col("__off"))
    // restore the pre-join column order (join-USING reorders keys
    // first; the output contract is base.*, cluster_id, rank, kept)
    val outCols = base.columns.map(col).toSeq :+
      col("cluster_id") :+ col("rank_in_family")
    val labeled = local.join(offs, Seq("cluster_id", "__pid"))
      .withColumn("rank_in_family",
        (col("__off") + col("__lr")).cast("int"))
      .select(outCols: _*)
    val unlabeled = base.join(labels, Seq("doc_id"), "left_anti")
      .withColumn("cluster_id", lit(null).cast("long"))
      .withColumn("rank_in_family", lit(1))
    labeled.unionByName(unlabeled)
      .withColumn("kept", col("rank_in_family") <= capPerFamily)
  }

  /** The per-(fp, doc) NORMALIZED hull frame behind
    * [[winnowSelfMatches]] — `(fp, doc_id, lo, hi)`, one row per
    * (fingerprint, carrying doc). This is the in-stream half of the
    * self-report: the streaming twin fingerprints each micro-batch
    * with this (a doc's fingerprints ride one batch) and defers the
    * corpus-global cap + pairing to [[winnowSelfPairsFromHulls]] at
    * end of ingest.
    */
  private[graft] def winnowSelfHulls(corpus: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    import graft.text.TextAnalysis
    TextAnalysis.winnowFingerprints(corpus, idCol, textCol, k, w)
      .groupBy(col("fp"), col("doc_id"))
      .agg(min(col("pos")).as("lo"), max(col("pos")).as("hi"))
  }

  /** The cap + pairing fold shared by [[winnowSelfMatches]],
    * [[winnowSelfMatchesRaw]] and the streaming twin. `perDoc` is the
    * per-(fp, doc) hull frame (`rlo`/`rhi` raw hulls too when
    * `raw`). The document-frequency cap runs as a window count over
    * `fp` BEFORE `collect_list` — the aggregation buffer is bounded
    * by `maxFpDocs` BY CONSTRUCTION, not by a post-hoc size filter
    * (the filter-after-`collect_list` shape materializes a degenerate
    * fingerprint's full carrier list in one non-spillable buffer
    * before the filter can drop it).
    */
  private[graft] def winnowSelfPairsFromHulls(perDoc: DataFrame,
      k: Int, minSharedFps: Int, maxFpDocs: Long,
      raw: Boolean): DataFrame = {
    require(maxFpDocs >= 2, s"maxFpDocs must be >= 2, got $maxFpDocs")
    val byFp = Window.partitionBy(col("fp"))
    val hullFields =
      if (raw) Seq(col("doc_id"), col("lo"), col("hi"),
        col("rlo"), col("rhi"))
      else Seq(col("doc_id"), col("lo"), col("hi"))
    val pairs = perDoc
      .withColumn("__nd", count(lit(1)).over(byFp))
      .filter(col("__nd") >= 2 && col("__nd") <= maxFpDocs)
      .groupBy(col("fp"))
      .agg(collect_list(struct(hullFields: _*)).as("__ds"))
      .select(col("fp"), explode(flatten(transform(col("__ds"), a =>
        transform(
          filter(col("__ds"), b =>
            b.getField("doc_id") > a.getField("doc_id")),
          b => struct(a.as("a"), b.as("b")))))).as("__p"))
    val aggs = Seq(
      countDistinct(col("fp")).as("n_shared_fps"),
      min(col("__p.a.lo")).as("a_lo"),
      (max(col("__p.a.hi")) + lit(k - 1).cast("long")).as("a_hi")) ++
      (if (raw) Seq(min(col("__p.a.rlo")).as("a_raw_lo"),
        max(col("__p.a.rhi")).as("a_raw_hi")) else Nil) ++
      Seq(min(col("__p.b.lo")).as("b_lo"),
        (max(col("__p.b.hi")) + lit(k - 1).cast("long")).as("b_hi")) ++
      (if (raw) Seq(min(col("__p.b.rlo")).as("b_raw_lo"),
        max(col("__p.b.rhi")).as("b_raw_hi")) else Nil)
    pairs
      .groupBy(col("__p.a.doc_id").as("doc_a"),
        col("__p.b.doc_id").as("doc_b"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n_shared_fps") >= minSharedFps)
  }

  /** Per-document contamination FRACTION — the gating metric between
    * [[winnowMatches]] (where exactly?) and whole-doc decontamination
    * (drop it?): for every fingerprint-bearing corpus doc, the share
    * of its distinct winnow fingerprints that match the
    * frequency-capped benchmark side. A pipeline drops docs over a
    * fraction threshold, surgically cuts the mid band
    * ([[winnowDecontaminateRaw]]), and keeps the noise floor — this is
    * the column those thresholds read. Docs shorter than k (no
    * fingerprints) emit no row: they cannot quote anything winnowing
    * can see.
    *
    * Returns `(doc_id, n_fps, n_matched_fps, contamination_frac)`.
    *
    * Scale shape: one distinct over per-doc fingerprints (map-side
    * combinable), the capped benchmark fp set broadcast-sized, one
    * left join + per-doc count agg — never a pair relation.
    */
  def winnowContamination(corpus: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchIdCol: String,
      benchTextCol: String,
      k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW,
      maxBenchFpFreq: Long = 64L,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame = {
    import graft.text.TextAnalysis
    // r18 reshape (guide §2.3/§2.4): the denominator — each doc's
    // DISTINCT fingerprint count — is a pure per-row function of the
    // kernel's selection array, so it is computed MAP-SIDE
    // (array_distinct over the selection, zero shuffle) instead of the
    // old distinct-exchange over the full (doc_id, fp) relation; the
    // per-doc aggregation then partial-aggregates to ONE row per doc
    // before its exchange. The old shape paid two full fingerprint-
    // relation exchanges (the distinct + the per-doc agg).
    val sel = graft.functions.WinnowExpressions.winnowSelect(
      TextAnalysis.normalizeText(coalesce(col(textCol), lit(""))), k, w)
    // PlanBarrier: keeps the inferred size(__fps) > 0 generate filter
    // a cheap attribute check instead of a pushed-down second kernel
    // evaluation (see winnowRawRows)
    val perDoc = graft.plans.PlanBarrier.barrier(corpus
        .select(col(idCol).as("doc_id"),
          array_distinct(transform(sel, s => s.getField("h")))
            .as("__fps")))
      .select(col("doc_id"), size(col("__fps")).cast("long").as("__nf"),
        explode(col("__fps")).as("fp"))
    val bset0 = winnowBenchSide(bench, benchIdCol, benchTextCol, k, w,
      maxBenchFpFreq, maxBenchFpDocFrac)
      .select(col("fp")).distinct()
      .withColumn("__m", lit(1))
    // size-gated broadcast hint (the Encoding idiom), gated on a CHEAP
    // upper bound instead of the old eager `bset0.count()`: counting
    // the fp set ran the full benchmark fingerprint+cap aggregation as
    // a construction-time job AND re-ran it when the join executed
    // (the r17 ADVICE medium item — in the streaming routing paths
    // that job fired per micro-batch). Winnowing selects at most one
    // fingerprint per character, so |distinct fps| ≤ total benchmark
    // chars — one column-pruned length scan bounds the broadcast from
    // above with no kernel work. An oversized bench side degrades to
    // a shuffle join, never a driver OOM; join semantics identical.
    val bset =
      if (benchCharsUpperBound(bench, benchTextCol) * 24L <=
          graft.encode.Encoding.DefaultAutoBroadcastDimBytes)
        broadcast(bset0)
      else bset0
    perDoc.join(bset, Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("__nf")).as("n_fps"),
        count(col("__m")).as("n_matched_fps"))
      .withColumn("contamination_frac",
        round(col("n_matched_fps").cast("double")
          / col("n_fps").cast("double"), 6))
  }

  /** Cheap upper bound on a benchmark side's distinct-fingerprint
    * count: winnowing selects at most one fingerprint per character,
    * so Σ length(text) bounds |distinct fps| with one column-pruned
    * scan — no fingerprint kernel, no aggregation-over-fps job. Used
    * only to gate broadcast hints (a loose bound costs a broadcast
    * downgrade for mid-size benchmarks, never correctness).
    */
  private def benchCharsUpperBound(bench: DataFrame,
      benchTextCol: String): Long = {
    val r = bench
      .agg(sum(length(coalesce(col(benchTextCol), lit("")))).cast("long"))
      .head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Contamination-fraction ROUTING — the disposition decision a
    * production pipeline actually takes with [[winnowContamination]]'s
    * metric: docs at or above `dropFloor` are dropped outright (a
    * benchmark copy is not salvageable), the `[cutFloor, dropFloor)`
    * mid band is SURGICALLY cut ([[winnowDecontaminateRaw]] — keep the
    * book, cut the quote), and the noise floor below `cutFloor` passes
    * through byte-identical. One call answers keep / cut / drop per
    * doc instead of the caller wiring three operators.
    *
    * Returns `(doc_id, contamination_frac, verdict, text_out)` — one
    * row per corpus doc; `verdict ∈ {keep, cut, drop}`; `text_out` is
    * the ORIGINAL text for keep, the original bytes minus the matched
    * spans for cut, NULL for drop. Docs shorter than k carry no
    * fingerprints → fraction 0 → keep.
    *
    * Scale shape (r18 single-kernel reshape, guide §1.2/§2.4/§8): ONE
    * raw fingerprint kernel scan of the corpus serves BOTH the
    * fraction and the surgery. Each doc's distinct-fingerprint count
    * (the fraction denominator) is computed map-side from the kernel's
    * selection array; the exploded fingerprints join the capped
    * benchmark side once (size-gated broadcast), and the MATCHED rows
    * — the only thing both consumers need — are repartitioned by
    * doc_id into one exchange that the fraction aggregation and the
    * surgery's evidence window both reuse (their clustering
    * requirements are satisfied by doc_id, so neither adds a shuffle
    * and the kernel subtree executes once). Docs with fingerprints but
    * no benchmark match carry no fraction row — the assembly's
    * coalesce-to-0.0 routes them identically to an explicit 0. The
    * cut itself happens in the assembly, riding the corpus scan's own
    * text column joined against the matched-doc interval sets — the
    * pre-r18 shape shuffled a corpus-text-sized `text_clean` frame for
    * every doc and ran TWO full kernel scans plus three bench-side
    * fingerprint passes per action.
    */
  def winnowRoute(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      cutFloor: Double, dropFloor: Double,
      k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW,
      minSharedFps: Int = 2, maxBenchFpFreq: Long = 64L,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame = {
    val bRows0 = winnowBenchSide(bench, benchIdCol, benchTextCol, k, w,
        maxBenchFpFreq, maxBenchFpDocFrac)
      .select(col("fp"), col("bench_id")).distinct()
    // size-gated broadcast on the cheap chars bound (see
    // benchCharsUpperBound); 48 B/row budgets the fp long plus a
    // string bench id
    val bRows =
      if (benchCharsUpperBound(bench, benchTextCol) * 48L <=
          graft.encode.Encoding.DefaultAutoBroadcastDimBytes)
        broadcast(bRows0)
      else bRows0
    val m = winnowRawRows(corpus, idCol, textCol, k, w)
      .join(bRows, Seq("fp"))
      .repartition(col("doc_id"))
    winnowRouteFromMatches(
      corpus.select(col(idCol).as("doc_id"), col(textCol).as("__raw")),
      m, cutFloor, dropFloor, minSharedFps)
  }

  /** The corpus side of the single-kernel routing plan: one raw
    * kernel selection per doc, the per-doc DISTINCT fingerprint count
    * attached map-side (`__nfps` — the fraction denominator), then the
    * per-occurrence explode. `(doc_id, __nfps, fp, raw_lo, raw_hi)`.
    */
  private[dedup] def winnowRawRows(corpus: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    val sel = graft.functions.WinnowExpressions.winnowSelectRaw(
      coalesce(col(textCol), lit("")), k, w)
    // PlanBarrier: InferFiltersFromGenerate adds `size(__sel) > 0`
    // above the staged array, and predicate pushdown would substitute
    // the kernel's definition into that filter below the projection —
    // a second kernel evaluation per corpus row (observed in the r18
    // plan spec before the barrier). Behind the barrier the filter
    // stays a cheap attribute check.
    graft.plans.PlanBarrier.barrier(
        corpus.select(col(idCol).as("doc_id"), sel.as("__sel")))
      .select(col("doc_id"),
        size(array_distinct(transform(col("__sel"),
          s => s.getField("h")))).cast("long").as("__nfps"),
        col("__sel"))
      .select(col("doc_id"), col("__nfps"), explode(col("__sel")).as("__s"))
      .select(col("doc_id"), col("__nfps"), col("__s.h").as("fp"),
        col("__s.rs").as("raw_lo"), col("__s.re").as("raw_hi"))
  }

  /** The routing fold shared by [[winnowRoute]] and
    * [[WinnowIndex.route]] over the MATCHED relation
    * `m = (doc_id, __nfps, fp, raw_lo, raw_hi, bench_id)` (pre-
    * partitioned by doc_id so the fraction aggregation and the
    * surgery window reuse one exchange): per-doc fraction =
    * distinct matched fps / `__nfps`; surgery intervals from the
    * [[winnowRawIntervals]] evidence fold; verdict + in-place cut on
    * `base = (doc_id, __raw)`. Fraction and interval rows exist only
    * for matched docs — both joins are matched-doc-sized.
    */
  private[dedup] def winnowRouteFromMatches(base: DataFrame,
      m: DataFrame, cutFloor: Double, dropFloor: Double,
      minSharedFps: Int): DataFrame = {
    require(cutFloor > 0.0 && cutFloor <= dropFloor,
      s"need 0 < cutFloor <= dropFloor, got ($cutFloor, $dropFloor)")
    // ONE consumer of the matched relation: fraction counters AND the
    // qualifying raw intervals come out of a single per-doc
    // aggregation (a two-branch plan — fraction agg + interval fold —
    // would re-execute the kernel+join subtree per branch: per-branch
    // column pruning makes the two exchange subtrees non-identical,
    // so exchange reuse does NOT deduplicate them; measured in the
    // r18 plan spec). The per-pair evidence floor rides a window the
    // doc_id exchange already satisfies; interval union happens as an
    // expression fold over the per-doc sorted interval set — exactly
    // the winnowRawIntervals sweep, per doc instead of per row.
    val byPair = Window.partitionBy(col("doc_id"), col("bench_id"))
    val perDoc = m
      .withColumn("__nfp", size(collect_set(col("fp")).over(byPair)))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("fp")).as("__nm"),
        max(col("__nfps")).as("__nf"),
        sort_array(collect_set(when(col("__nfp") >= minSharedFps,
          struct(col("raw_lo").as("s"), col("raw_hi").as("e")))))
          .as("__iv0"))
      .select(col("doc_id"),
        round(col("__nm").cast("double") / col("__nf").cast("double"), 6)
          .as("contamination_frac"),
        mergeSortedIntervals(col("__iv0")).as("__ivs"))
    val f = coalesce(col("contamination_frac"), lit(0.0))
    base
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(f, 6).as("contamination_frac"),
        when(f >= dropFloor, lit("drop"))
          .when(f >= cutFloor, lit("cut"))
          .otherwise(lit("keep")).as("verdict"),
        when(f >= dropFloor, lit(null).cast("string"))
          .when(f >= cutFloor,
            when(col("__ivs").isNull, col("__raw"))
              .otherwise(cutByIntervals(col("__raw"))))
          .otherwise(col("__raw")).as("text_out"))
  }

  /** Union of SORTED (s, e) intervals into disjoint islands — the
    * expression-fold twin of [[winnowRawIntervals]]' running-max sweep
    * (adjacent intervals merge: a new island starts only when s clears
    * the current island's max end by more than one; sorted input makes
    * the current island's max end equal the global running max, so the
    * two formulations are equivalent). Empty input → empty array —
    * the cut fold over an empty island set returns the text unchanged.
    */
  private def mergeSortedIntervals(sorted: Column): Column =
    aggregate(sorted,
      struct(lit(false).as("st"),
        array().cast("array<struct<s:bigint,e:bigint>>").as("out"),
        lit(0L).as("cs"), lit(0L).as("ce")),
      (acc, iv) => when(not(acc.getField("st")),
          struct(lit(true).as("st"), acc.getField("out").as("out"),
            iv.getField("s").as("cs"), iv.getField("e").as("ce")))
        .when(iv.getField("s") > acc.getField("ce") + lit(1L),
          struct(lit(true).as("st"),
            concat(acc.getField("out"), array(struct(
              acc.getField("cs").as("s"), acc.getField("ce").as("e"))))
              .as("out"),
            iv.getField("s").as("cs"), iv.getField("e").as("ce")))
        .otherwise(struct(lit(true).as("st"),
          acc.getField("out").as("out"), acc.getField("cs").as("cs"),
          greatest(acc.getField("ce"), iv.getField("e")).as("ce"))),
      acc => when(not(acc.getField("st")), acc.getField("out"))
        .otherwise(concat(acc.getField("out"),
          array(struct(acc.getField("cs").as("s"),
            acc.getField("ce").as("e"))))))

  /** Per-group routing AUDIT — the data-card rollup of
    * [[winnowRoute]]: per `groupCol` (source, domain, shard…), doc
    * counts by verdict, the fixed-point contamination mass, and the
    * characters the mid band's surgery removed. This is the report a
    * pipeline owner reads to see WHICH source is quoting the
    * benchmark — the q245 per-source intake report's contamination
    * sibling.
    *
    * Returns `(<groupCol>, n_docs, n_keep, n_cut, n_drop,
    * contamination_fp6_sum, n_removed_chars)`.
    * `contamination_fp6_sum` is `Σ floor(frac·1e6)` as a long — an
    * integer fold, order-independent where a double mean is not (the
    * engine's fsum discipline); divide by `n_docs·1e6` for the mean.
    *
    * Scale shape: [[winnowRoute]]'s passes plus one doc-count-sized
    * join back to the corpus scan for the group key and one group agg.
    */
  def winnowRouteReport(corpus: DataFrame, idCol: String,
      textCol: String, groupCol: String, bench: DataFrame,
      benchIdCol: String, benchTextCol: String,
      cutFloor: Double, dropFloor: Double,
      k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW,
      minSharedFps: Int = 2, maxBenchFpFreq: Long = 64L,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame = {
    val routed = winnowRoute(corpus, idCol, textCol, bench, benchIdCol,
      benchTextCol, cutFloor, dropFloor, k, w, minSharedFps,
      maxBenchFpFreq, maxBenchFpDocFrac)
    val keys = corpus.select(col(idCol).as("doc_id"),
      col(groupCol),
      length(coalesce(col(textCol), lit(""))).as("__olen"))
    routed.join(keys, Seq("doc_id"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("verdict") === "keep", 1)).as("n_keep"),
        count(when(col("verdict") === "cut", 1)).as("n_cut"),
        count(when(col("verdict") === "drop", 1)).as("n_drop"),
        sum(floor(col("contamination_frac") * lit(1e6)).cast("long"))
          .as("contamination_fp6_sum"),
        sum(when(col("verdict") === "cut",
            col("__olen").cast("long") - length(col("text_out")))
          .otherwise(lit(0L))).as("n_removed_chars"))
  }

  /** SURGICAL decontamination — remove the matched REGIONS instead of
    * dropping whole documents: where [[graft.pipeline.Curation]]'s
    * whole-doc decontaminate throws away a book because it quotes one
    * benchmark item, this cuts exactly the winnow-localized spans and
    * keeps the rest (the span-removal flavor several production
    * pipelines prefer for long documents).
    *
    * Evidence discipline: only (doc, bench) pairs sharing at least
    * `minSharedFps` distinct fingerprints contribute spans (the
    * [[winnowMatches]] noise floor); each contributing fingerprint at
    * position p taints chars [p, p+k−1] of the NORMALIZED text; the
    * tainted set unions into maximal intervals (gaps-and-islands, the
    * q204 discipline) which are then cut from the normalized text.
    * Every corpus doc returns a row: untouched docs keep their
    * normalized text with `n_spans = 0` — output coordinates are the
    * normalized ones throughout (the fingerprint coordinate space).
    *
    * Returns `(doc_id, text_clean, n_spans, n_removed_chars)`.
    *
    * Scale shape: the match join is [[winnowMatchRows]]'s (benchmark
    * side broadcast-sized, per-fp fan-out capped); the covered-char
    * explode is |matched fps| × k rows — matched content only, never
    * the corpus; the island window partitions by doc; the final cut is
    * one codegen fold over the per-doc interval array riding a
    * broadcast-sized join back to the corpus scan.
    */
  def winnowDecontaminate(corpus: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchIdCol: String,
      benchTextCol: String,
      k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW,
      minSharedFps: Int = 2, maxBenchFpFreq: Long = 64L,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame = {
    import graft.text.TextAnalysis
    val rows = winnowMatchRows(corpus, idCol, textCol, bench, benchIdCol,
      benchTextCol, k, w, maxBenchFpFreq, maxBenchFpDocFrac)
    // per-pair evidence floor as a WINDOW over the match rows (a
    // window can't take count(DISTINCT), so size∘collect_set — the
    // per-pair fp set is bounded by the DOC's distinct fingerprints,
    // ~n/w of its normalized length: maxBenchFpFreq caps how many
    // BENCH rows each fp fans out to, not how many distinct fps a
    // near-full-copy doc shares with one bench item): one shuffle on
    // (doc_id, bench_id), match rows computed ONCE — the previous
    // groupBy+join-back shape computed them twice and pinned a
    // session-lifetime persist() with no release path (the r15
    // verdict/ADVICE demerit) to avoid paying that twice
    val byPair = Window.partitionBy(col("doc_id"), col("bench_id"))
    // tainted char positions (1-based, normalized coordinates)
    val covered = rows
      .withColumn("__nf", size(collect_set(col("fp")).over(byPair)))
      .filter(col("__nf") >= minSharedFps)
      .select(col("doc_id"),
        explode(sequence(col("__dpos"),
          col("__dpos") + lit(k - 1).cast("long"))).as("cp"))
      .distinct()
    val byDoc = Window.partitionBy("doc_id")
    val merged = covered
      .withColumn("isl", col("cp") - row_number().over(byDoc.orderBy("cp")))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("cp")).as("s"), max(col("cp")).as("e"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("__ivs"))
    val normed = corpus.select(col(idCol).as("doc_id"),
      TextAnalysis.normalizeText(coalesce(col(textCol), lit("")))
        .as("__t"))
    // cut: fold the sorted intervals, emitting the segment BEFORE each
    // span; finish appends the tail after the last span
    val cut = aggregate(col("__ivs"),
      struct(lit(1L).as("p"), lit("").as("a")),
      (acc, iv) => struct(
        (iv.getField("e") + lit(1L)).as("p"),
        concat(acc.getField("a"),
          col("__t").substr(acc.getField("p"),
            iv.getField("s") - acc.getField("p"))).as("a")),
      acc => concat(acc.getField("a"),
        col("__t").substr(acc.getField("p"),
          length(col("__t")) - acc.getField("p") + lit(1L))))
    val removed = aggregate(col("__ivs"), lit(0L),
      (acc, iv) => acc + iv.getField("e") - iv.getField("s") + lit(1L))
    normed.join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__ivs").isNull, col("__t")).otherwise(cut)
          .as("text_clean"),
        coalesce(size(col("__ivs")).cast("long"), lit(0L)).as("n_spans"),
        when(col("__ivs").isNull, lit(0L)).otherwise(removed)
          .as("n_removed_chars"))
  }

  /** RAW-coordinate surgical decontamination — the production form of
    * [[winnowDecontaminate]]: evidence is still matched in the
    * normalized fingerprint space (same hashes, same bench side, same
    * `minSharedFps` floor), but each contributing fingerprint carries
    * the RAW code-point span its k-gram occupies in the original text
    * ([[graft.text.TextAnalysis.winnowFingerprintsRaw]]), the tainted
    * spans union into maximal raw intervals, and the cut happens on
    * the ORIGINAL text. An untouched document round-trips
    * byte-identical (casing, whitespace, NULLs — nothing is
    * normalized on the output path); a touched one keeps its original
    * bytes minus exactly the matched spans — "keep the book, cut the
    * quote" without lowercasing the book (the r15 verdict's top
    * operator gap).
    *
    * Returns `(doc_id, text_clean, n_spans, n_removed_chars)` —
    * `n_removed_chars` counts RAW code points.
    *
    * Scale shape: corpus-side raw fingerprints are the same map-only
    * O(n) kernel pass; the fp equi-join and per-pair window match
    * [[winnowDecontaminate]]; interval union is a running-max sweep
    * per doc over |matched fps| rows — NO per-char explode (a raw
    * span may cover a long whitespace run, so the normalized
    * variant's char-explode would amplify); the cut is one codegen
    * fold riding the interval array joined back to the corpus scan.
    */
  def winnowDecontaminateRaw(corpus: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchIdCol: String,
      benchTextCol: String,
      k: Int = graft.text.TextAnalysis.WinnowDefaultK,
      w: Int = graft.text.TextAnalysis.WinnowDefaultW,
      minSharedFps: Int = 2, maxBenchFpFreq: Long = 64L,
      maxBenchFpDocFrac: Option[Double] = None): DataFrame = {
    import graft.text.TextAnalysis
    val d = TextAnalysis
      .winnowFingerprintsRaw(corpus, idCol, textCol, k, w)
      .select(col("doc_id"), col("fp"), col("raw_lo"), col("raw_hi"))
    winnowRawSurgery(d,
      winnowBenchSide(bench, benchIdCol, benchTextCol, k, w,
        maxBenchFpFreq, maxBenchFpDocFrac).select("fp", "bench_id"),
      corpus.select(col(idCol).as("doc_id"), col(textCol).as("__t")),
      minSharedFps)
  }

  /** The raw-coordinate surgery shared by [[winnowDecontaminateRaw]]
    * and the index-probed form (`WinnowIndex.decontaminateRaw`):
    * evidence floor → raw-interval union → cut, over
    * `d = (doc_id, fp, raw_lo, raw_hi)` corpus fingerprints,
    * `benchRows = (fp, bench_id)` (too-common fps already dropped) and
    * `raws = (doc_id, __t)` the original text.
    */
  private[dedup] def winnowRawSurgery(d: DataFrame, benchRows: DataFrame,
      raws: DataFrame, minSharedFps: Int): DataFrame = {
    // one doc_id exchange of the matched rows satisfies every
    // downstream clustering requirement in the interval chain (the
    // evidence window, the interval distinct, the sweep, both
    // group-bys) — the unpartitioned form paid three exchanges of the
    // same relation (r18, guide §2.4)
    val merged = winnowRawIntervals(
      d.join(benchRows, Seq("fp")).repartition(col("doc_id")),
      minSharedFps)
    // the output path touches ONLY the raw text column — NULL stays
    // NULL, casing and whitespace stay, the round-trip is byte-exact
    raws.join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__ivs").isNull, col("__t"))
          .otherwise(cutByIntervals(col("__t"))).as("text_clean"),
        coalesce(size(col("__ivs")).cast("long"), lit(0L)).as("n_spans"),
        when(col("__ivs").isNull, lit(0L))
          .otherwise(removedByIntervals).as("n_removed_chars"))
  }

  /** Evidence floor → tainted raw intervals → per-doc interval union,
    * over matched rows `(doc_id, fp, raw_lo, raw_hi, bench_id, …)` —
    * the shared middle of [[winnowRawSurgery]] and the routing fold.
    * Returns `(doc_id, __ivs)` for docs with qualifying evidence only.
    */
  private[dedup] def winnowRawIntervals(rows: DataFrame,
      minSharedFps: Int): DataFrame = {
    val byPair = Window.partitionBy(col("doc_id"), col("bench_id"))
    // evidence floor, then the tainted RAW intervals (distinct: the
    // same gram can match several bench occurrences)
    val iv0 = rows
      .withColumn("__nf", size(collect_set(col("fp")).over(byPair)))
      .filter(col("__nf") >= minSharedFps)
      .select(col("doc_id"), col("raw_lo").as("s"), col("raw_hi").as("e"))
      .distinct()
    // interval union per doc: running-max sweep ordered by (s, e) —
    // a new island starts where this interval's start clears every
    // prior end by more than one (adjacent intervals merge, matching
    // the normalized variant's contiguous-char islands)
    val sweep = Window.partitionBy("doc_id").orderBy(col("s"), col("e"))
    val prevMax = max(col("e"))
      .over(sweep.rowsBetween(Window.unboundedPreceding, -1))
    iv0
      .withColumn("__new",
        when(prevMax.isNull || col("s") > prevMax + lit(1L), lit(1))
          .otherwise(lit(0)))
      .withColumn("__g", sum(col("__new"))
        .over(sweep.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__g"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("__ivs"))
  }

  /** The interval-cut fold: `text` minus the sorted `__ivs` spans —
    * emit the segment before each span, then the tail. */
  private def cutByIntervals(text: Column): Column =
    aggregate(col("__ivs"),
      struct(lit(1L).as("p"), lit("").as("a")),
      (acc, iv) => struct(
        (iv.getField("e") + lit(1L)).as("p"),
        concat(acc.getField("a"),
          text.substr(acc.getField("p"),
            iv.getField("s") - acc.getField("p"))).as("a")),
      acc => concat(acc.getField("a"),
        text.substr(acc.getField("p"),
          length(text) - acc.getField("p") + lit(1L))))

  /** Total code points the `__ivs` spans cover. */
  private def removedByIntervals: Column =
    aggregate(col("__ivs"), lit(0L),
      (acc, iv) => acc + iv.getField("e") - iv.getField("s") + lit(1L))

  // --------------------------------------- incremental (indexed) near-dup

  /** Canonical banding expression: one row per (band, band_hash) of a
    * signature column, shared by [[minHashPairs]] and the incremental
    * index so buckets collide identically everywhere. The hash is the
    * STRUCTURAL xxhash64 of (band_no, band slice) — never `to_json`:
    * JSON field names embed the lambda variable's auto-generated unique
    * name (`x_1`, `x_2`, …) which differs per expression instantiation,
    * silently making band hashes from two invocations disjoint (found
    * by the indexed-dedup cross-invocation join returning zero rows).
    */
  private[dedup] def bandsOf(sig: Column, bands: Int, rowsPerBand: Int): Column =
    posexplode(transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sig, b * rowsPerBand + lit(1), lit(rowsPerBand)))))

  /** MinHash Jaccard estimator from two signatures: the fraction of
    * agreeing components — unbiased, error O(1/√numPerm). Used by the
    * indexed dedup so the index never stores shingle sets (the exact
    * verify of [[minHashPairs]] would make the index corpus-sized).
    */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b))
      .cast("double") / size(sigA)

  /** Build the persistent LSH bucket index of a corpus: one row per
    * (band, band_hash) bucket with its OWNER — the smallest doc id that
    * ever hashed there — and the owner's full signature for estimator
    * verification at probe time. ~`bands` rows and
    * `(3 + numPerm) × 8` bytes per document: compact enough to live as
    * a bucketed table next to a 100 TB corpus (the corpus text itself
    * is never in the index).
    *
    * This is the refresh half of incremental dedup: a crawl pipeline
    * builds the index ONCE over the existing corpus, then each new
    * batch probes it with [[dedupAgainstIndex]] and folds its survivors in
    * with [[updateIndex]] — never re-reading corpus history.
    */
  def bucketIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // eagerly persisted: the index is the reusable artifact — callers
    // probe it many times (and updateIndex merges against it)
    val idx = bucketOwners(docs, idCol, textCol, shingleK, bands, rowsPerBand)
      // evict: caller-owned standing artifact — released when the caller drops or replaces the index
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    idx.count()
    idx
  }

  /** The un-persisted [[bucketIndex]] plan: one row per (band,
    * band_hash) bucket with the smallest in-corpus owner id + its
    * signature. Split out so per-batch folds ([[newIndexRows]]) can
    * compute a batch's owners without caching an intermediate index.
    */
  private[graft] def bucketOwners(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, bands: Int, rowsPerBand: Int): DataFrame =
    bucketOwnersFromSigs(
      sigTable(docs, idCol, textCol, shingleK, bands * rowsPerBand),
      bands, rowsPerBand)

  /** (id, sig) MinHash signature table of a corpus — the expensive
    * numPerm-permutation pass, split out so a caller that needs BOTH
    * the probe and the index fold of one batch (the streaming twin)
    * computes signatures ONCE and shares the frame instead of paying
    * the minhash pass twice. Uses the FUSED words→signature kernel
    * ([[graft.functions.MinHashWords]]): no shingle strings are
    * materialized as column values — signatures are bit-identical to
    * the staged `shingleTable` + `minhashSig` pipeline (parity
    * property in MinHashSpec) at a fraction of the allocation cost.
    * Docs too short to shingle are absent (null signatures filtered
    * above a barrier, so the filter reads the computed column and does
    * not sign each document a second time).
    */
  private[graft] def sigTable(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numPerm: Int): DataFrame =
    graft.plans.PlanBarrier.barrier(docs.select(col(idCol).as("id"),
      graft.functions.MinHashExpressions.minhashWords(
        TextAnalysis.words(TextAnalysis.normalizeText(col(textCol))),
        shingleK, numPerm).as("sig")))
      .filter(col("sig").isNotNull)

  /** [[bucketOwners]] over a precomputed [[sigTable]]. */
  private[graft] def bucketOwnersFromSigs(sigs: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val w = Window.partitionBy(col("band"), col("band_hash"))
      .orderBy(col("owner_id"))
    sigs
      .select(col("id").as("owner_id"), col("sig").as("owner_sig"),
        bandsOf(col("sig"), bands, rowsPerBand).as(Seq("band", "band_hash")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The rows a survivor batch genuinely ADDS to the index — the
    * append-only fold. [[updateIndex]]'s merge rule is existing-owner-
    * wins, so an index row is immutable once written: the only effect
    * a batch can have is claiming buckets nothing owned before, i.e.
    * the batch's own bucket owners anti-joined against the index. The
    * anti-join keys are (band, band_hash), not the stored index's
    * bucket key `band_hash` alone, so an index too big to broadcast is
    * read with bucketing disabled and shuffled on both keys: per-batch
    * shuffle volume is O(index) above the broadcast threshold.
    */
  def newIndexRows(index: DataFrame, survivors: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    bucketOwners(survivors, idCol, textCol, shingleK, bands, rowsPerBand)
      .join(index, Seq("band", "band_hash"), "left_anti")

  /** Probe a new batch against an existing [[bucketIndex]]: a batch doc
    * is a near-duplicate iff some band bucket is already owned by an
    * EARLIER corpus doc AND the signature-agreement estimate against
    * that owner clears `threshold`. Returns one row per batch doc with
    * `dup_of` = the smallest such owner (NULL → survivor). Docs too
    * short to shingle carry NULL signatures and always survive.
    *
    * Scale shape: the batch's band rows (24 B each) join the index on
    * (band, band_hash) — broadcast when the index is small, a
    * sort-merge join that shuffles both sides when it is not (the keys
    * are not a table bucketed by `band_hash` alone, so its bucketing
    * goes unused); the corpus itself is never read. Batch-internal
    * duplicates are deliberately out of scope
    * (run [[minHashPairs]] within the batch for those — composing both
    * is the standard two-phase refresh).
    */
  def dedupAgainstIndex(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame =
    dedupAgainstIndexWithSigs(batch,
      sigTable(batch, idCol, textCol, shingleK, bands * rowsPerBand),
      index, idCol, bands, rowsPerBand, threshold)

  /** [[dedupAgainstIndex]] over a precomputed [[sigTable]] of the
    * batch — the probe half of the shared-signature pair.
    */
  private[graft] def dedupAgainstIndexWithSigs(batch: DataFrame,
      sigs: DataFrame, index: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val hits = sigs
      .select(col("id"), col("sig"),
        bandsOf(col("sig"), bands, rowsPerBand).as(Seq("band", "band_hash")))
      .join(index, Seq("band", "band_hash"))
      // a doc never duplicates ITSELF: an index entry under the probing
      // doc's own id means "already admitted" — either a caller-seeded
      // snapshot of the same corpus or an at-least-once foreachBatch
      // REPLAY whose failed attempt already folded this batch's
      // survivors in. Excluding self-matches makes the replay
      // idempotent end-to-end: survivors keep their verdicts, and
      // [[newIndexRows]]'s anti-join then appends nothing new.
      .filter(col("owner_id") =!= col("id"))
      .filter(estimatedJaccard(col("sig"), col("owner_sig")) >= threshold)
      .groupBy("id").agg(min(col("owner_id")).as("dup_of"))
    // lazy: one plan, one pass over the batch per action — callers that
    // consume the verdicts repeatedly persist the result themselves
    batch.join(hits.withColumnRenamed("id", idCol), Seq(idCol), "left")
  }

  /** Probe AND fold from ONE banded join against the index — the
    * streaming twin's per-batch kernel. The separate
    * [[dedupAgainstIndexWithSigs]] + [[newIndexRows]] pair
    * scans and shuffle-joins the index twice per batch (probe inner
    * join, fold anti-join); this form LEFT-joins the batch's bands
    * against the full table once and serves both from it:
    *
    *   - verdict hits = rows whose owner exists with
    *     `batch_id < currentBatchId` (the replay guard: a failed
    *     attempt's own rows are invisible to the probe), excluding
    *     self-matches, estimator ≥ threshold;
    *   - new index rows = (band, band_hash) buckets with NO owner at
    *     any batch_id (a replay's failed-attempt rows DO suppress
    *     re-appends, exactly like the anti-join they replace), claimed
    *     by the smallest surviving batch doc that hashed there.
    *
    * The joined frame is localCheckpoint'ed here: both outputs must be
    * pinned to the PRE-append table state before the caller mutates
    * the table (a lazy plan would re-probe the mutated listing and
    * self-match). The index keeps one owner per bucket, so the join has
    * one row per band row. When those rows × their width fit
    * `spark.sql.autoBroadcastJoinThreshold` (the gate
    * [[clustersStar]]'s driver finish uses) and the ids are non-null
    * longs, the checkpoint's job also brings the rows to the driver and
    * the fold runs there ([[foldOnDriver]]): the verdicts join the
    * batch to the broadcast local hits and the new rows are a local
    * frame, so neither needs a job of its own. Otherwise the
    * distributed fold below runs over the checkpoint.
    *
    * Returns (verdicts, newRows): verdicts = every batch row + `dup_of`
    * (lazy; derives from batch source + checkpointed or local hits);
    * newRows = index-schema rows tagged `batch_id = currentBatchId`
    * (lazy).
    */
  private[graft] def probeAndFoldFromSigs(batch: DataFrame, sigs: DataFrame,
      fullIndex: DataFrame, currentBatchId: Long, idCol: String,
      bands: Int, rowsPerBand: Int, threshold: Double)
      : (DataFrame, DataFrame) = {
    val banded = sigs.select(col("id"), col("sig"),
      bandsOf(col("sig"), bands, rowsPerBand).as(Seq("band", "band_hash")))
    // a join row holds two signatures (8 B per component) and five scalars
    val width = 16L * bands * rowsPerBand + 64L
    val gate = batch.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val maxRows =
      if (gate >= 0 && sigs.schema("id").dataType == org.apache.spark.sql.types.LongType)
        gate / width
      else -1L
    val (cp, local) = DatasetBridge.localCheckpointCollect(
      banded.join(fullIndex.withColumnRenamed("batch_id", "__idx_batch"),
        Seq("band", "band_hash"), "left"),
      maxRows)
    val joined = cp.df
    val hits = joined
      .filter(col("owner_id").isNotNull &&
        col("__idx_batch") < currentBatchId &&
        col("owner_id") =!= col("id"))
      .filter(estimatedJaccard(col("sig"), col("owner_sig")) >= threshold)
      .groupBy("id").agg(min(col("owner_id")).as("dup_of"))
    // survivors = banded ids NOT in hits (docs without sigs are absent
    // from `joined` already) — anti-joining the small derived `hits`
    // keeps the append plan off the batch source entirely.
    // min(struct(id, sig)) instead of a row_number window: struct
    // ordering compares id first (ids are distinct, the sig array is
    // never reached), and the agg gets a MAP-SIDE partial pass — the
    // bucket-claim shuffle carries one candidate row per (band,
    // bucket) per map partition instead of every surviving band row
    // through a window sort. At sf0.1 the append stage is dominated
    // by table-append fixed costs either way (parity measured); the
    // combine matters at real batch sizes. q95's oracle gate pins the
    // semantics unchanged.
    val newRows = joined
      .filter(col("owner_id").isNull)
      .join(hits.select("id"), Seq("id"), "left_anti")
      .groupBy(col("band"), col("band_hash"))
      .agg(min(struct(col("id"), col("sig"))).as("__m"))
      .select(col("__m.id").as("owner_id"), col("__m.sig").as("owner_sig"),
        col("band"), col("band_hash"),
        lit(currentBatchId).as("batch_id"))
    local.flatMap(foldOnDriver(_, joined.schema, currentBatchId, threshold)) match {
      case Some((hitRows, claims)) =>
        cp.release()
        val spark = batch.sparkSession
        import scala.jdk.CollectionConverters._
        val localHits = spark.createDataFrame(hitRows.asJava, hits.schema)
        (batch.join(broadcast(localHits.withColumnRenamed("id", idCol)),
          Seq(idCol), "left"),
          spark.createDataFrame(claims.asJava, newRows.schema))
      case None =>
        (batch.join(hits.withColumnRenamed("id", idCol), Seq(idCol), "left"),
          newRows)
    }
  }

  /** [[probeAndFoldFromSigs]]'s fold over the collected join rows
    * (`schema`: id, sig, band, band_hash, owner_id, owner_sig,
    * __idx_batch): the (id, dup_of) hits and the new index rows the
    * distributed fold computes, with the same estimator, the same
    * replay guard and the same claimant order (smallest id, then
    * smallest signature, as `min(struct(id, sig))` orders them); None
    * when an id is null.
    */
  private def foldOnDriver(rows: Array[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      currentBatchId: Long, threshold: Double)
      : Option[(Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row])] = {
    val Seq(id, sig, band, hash, owner, ownerSig, idxBatch) =
      Seq("id", "sig", "band", "band_hash", "owner_id", "owner_sig", "__idx_batch")
        .map(schema.fieldIndex)
    Option.when(!rows.exists(_.isNullAt(id))) {
      import org.apache.spark.sql.Row
      def longs(r: org.apache.spark.sql.catalyst.InternalRow, i: Int) =
        r.getArray(i).toLongArray()
      // estimatedJaccard: agreeing positions over the probe's length
      def agreement(a: Array[Long], b: Array[Long]): Double = {
        var same = 0
        for (i <- 0 until math.min(a.length, b.length)) if (a(i) == b(i)) same += 1
        same.toDouble / a.length
      }
      val hits = scala.collection.mutable.HashMap.empty[Long, Long]
      for (r <- rows if !r.isNullAt(owner) && !r.isNullAt(ownerSig) &&
          !r.isNullAt(idxBatch) && r.getLong(idxBatch) < currentBatchId &&
          r.getLong(owner) != r.getLong(id)) {
        val s = longs(r, sig)
        if (s.nonEmpty && agreement(s, longs(r, ownerSig)) >= threshold) {
          val o = r.getLong(owner)
          hits(r.getLong(id)) = hits.get(r.getLong(id)).fold(o)(math.min(_, o))
        }
      }
      def before(a: (Long, Array[Long]), b: (Long, Array[Long])): Boolean =
        a._1 < b._1 || a._1 == b._1 &&
          java.util.Arrays.compare(a._2, b._2) < 0
      val claims = scala.collection.mutable.LinkedHashMap
        .empty[(Int, Long), (Long, Array[Long])]
      for (r <- rows if r.isNullAt(owner) && !hits.contains(r.getLong(id))) {
        val c = (r.getLong(id), longs(r, sig))
        val key = (r.getInt(band), r.getLong(hash))
        if (claims.get(key).forall(before(c, _))) claims(key) = c
      }
      (hits.toSeq.map { case (i, o) => Row(i, o) },
        claims.toSeq.map { case ((b, h), (i, s)) =>
          Row(i, s.toSeq, b, h, currentBatchId) })
    }
  }

  /** The standard two-phase refresh in one call: collapse near-dups
    * WITHIN the batch first (MinHash pairs → connected components →
    * smallest id survives), then probe the remaining docs against the
    * corpus index. Returns every batch row with `dup_of` — the
    * batch-internal cluster owner, else the index owner, else NULL
    * (survivor). A batch-internal owner may itself carry an index
    * verdict; its dups are NOT re-pointed at the index owner (they
    * drop either way, and verdict provenance stays 1-hop).
    */
  def dedupBatchThenIndex(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val pairs = minHashPairs(batch, idCol, textCol,
      shingleK, bands, rowsPerBand, threshold)
    val owners = clustersStar(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol), col("cluster_id").as("__batch_owner"))
    val tagged = batch.join(owners, Seq(idCol), "left")
    val probed = dedupAgainstIndex(
      tagged.filter(col("__batch_owner").isNull).drop("__batch_owner"),
      index, idCol, textCol, shingleK, bands, rowsPerBand, threshold)
    probed
      .unionByName(tagged.filter(col("__batch_owner").isNotNull)
        .withColumnRenamed("__batch_owner", "dup_of"))
  }

  /** Fold a deduplicated batch's survivors into the index: existing
    * owners win (then smallest id), so ownership is stable under
    * refresh and independent of batch arrival order. Existing-owner-
    * wins makes index rows immutable, so the merge IS
    * index ∪ [[newIndexRows]] — the batch's claims on untouched
    * buckets — with no re-window over the full union (the round-5
    * formulation sorted index + batch per refresh). The result is
    * re-persisted (O(index) cache write per refresh — the caller
    * controls cadence); the continuously-triggered path is
    * [[graft.streaming.StreamingDedup]]'s bucketed-table mode, which
    * appends the same rows to storage instead.
    */
  def updateIndex(index: DataFrame, survivors: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val merged = index
      .unionByName(newIndexRows(index, survivors, idCol, textCol,
        shingleK, bands, rowsPerBand))
      // evict: caller-owned — the refreshed artifact replaces (and the caller unpersists/drops) the old index
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    merged.count() // materialize before the caller drops its old index
    merged
  }

  // ------------------------------------------------------------ SimHash

  /** SimHash from an attribute-bound array of word hashes: bit b of the
    * signature is the sign of Σ_w (±1 per bit b of the word hash).
    */
  def simHashFromHashes(wordHashes: Column): Column = {
    val bitSums = transform(sequence(lit(0), lit(63)),
      b => aggregate(wordHashes, lit(0L),
        (acc, h) => acc + when(call_function("shiftright", h, b).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L)))
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)),
        (s, b) => when(s > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** 64-bit SimHash over word unigrams. Single-expression convenience
    * form; bulk pipelines stage words + hashes first
    * (performance invariant on [[shinglesFromWords]]).
    */
  def simHash64(text: Column): Column =
    simHashFromHashes(
      transform(TextAnalysis.words(TextAnalysis.normalizeText(text)),
        w => xxhash64(w)))

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, using
    * chunk banding (pigeonhole: distance ≤ 3 ⇒ at least one of 4
    * 16-bit chunks equal) — candidates only, then exact popcount verify.
    */
  def simHashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    // whole-signature codegen'd expression (SimHashSig): words×64 bit
    // tallies in one generated loop at the scan — no explode, no
    // per-word 64-element arrays, no aggregation shuffle (the
    // explode→LongVectorReduce form remains for the aggregation-shaped
    // variant and parity tests). NULL = empty word array, dropped like
    // the explode form drops rowless docs.
    val sigs = graft.plans.PlanBarrier.barrier(docs
      .select(col(idCol).as("id"),
        graft.functions.MinHashExpressions.simhashSig(
          TextAnalysis.words(TextAnalysis.normalizeText(col(textCol)))).as("sig")))
      .filter(col("sig").isNotNull)
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)),
        c => call_function("shiftright", col("sig"), c * lit(bitsPer))
          .bitwiseAND((1L << bitsPer) - 1L))).as(Seq("chunk", "chunk_val")))
      // evict: LRU — plan-lifetime cache; both self-join sides read it
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    banded.as("l")
      .join(banded.as("r"),
        col("l.chunk") === col("r.chunk") &&
          col("l.chunk_val") === col("r.chunk_val") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.sig").as("sig_a"), col("r.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ------------------------------------------------- n-gram Jaccard

  /** Exact n-gram-Jaccard near-dup within blocking groups (e.g. same
    * source): the all-pairs comparison is confined to each block.
    *
    * Skew guard — the within-block comparison is quadratic in block
    * size, so one degenerate block (a source holding most of the
    * corpus) degrades to O(n²) with full shingle arrays in the join.
    * Blocks up to `maxBlockSize` keep the EXACT all-pairs semantics;
    * larger blocks switch to MinHash-banded candidate generation
    * (within the block, band count sized from `threshold` for ≥99.8%
    * recall at the threshold itself, higher above it) followed by the
    * same exact-Jaccard verify — results there are candidates-only
    * (never false positives, the verify is exact), and a warning names
    * the oversized blocks. The block-size probe is one aggregation
    * over the persisted shingle table; when no block exceeds the cap
    * the plan is identical to the exact form.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int = 3, threshold: Double = 0.15,
      maxBlockSize: Int = 25000): DataFrame = {
    val sh = graft.plans.PlanBarrier.barrier(docs.select(col(idCol).as("id"),
      col(blockCol).as("block"),
      TextAnalysis.words(TextAnalysis.normalizeText(col(textCol))).as("__ws"))
      .withColumn("sh", shinglesFromWords(col("__ws"), n))
      .drop("__ws"))
      .filter(size(col("sh")) > 0) // 0/0 jaccard would throw under ANSI
      // evict: LRU — plan-lifetime cache of the plain one-shot overload
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def exactPairs(part: DataFrame): DataFrame =
      part.as("l").join(part.as("r"),
        col("l.block") === col("r.block") && col("l.id") < col("r.id"))
        .withColumn("jaccard", jaccard(col("l.sh"), col("r.sh")))
        .filter(col("jaccard") >= threshold)
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
          round(col("jaccard"), 6).as("jaccard"))

    // one small agg over the cached shingle table decides the shape;
    // distinct blocks are few, so this is a cheap probe
    val sizes = sh.groupBy("block").agg(count(lit(1)).as("__bn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val oversized = sizes.filter(col("__bn") > maxBlockSize)
      .select("block").collect().map(_.get(0)).toSet
    if (oversized.isEmpty) {
      sizes.unpersist()
      exactPairs(sh)
    } else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ngramJaccardPairs: ${oversized.size} block(s) exceed " +
          s"maxBlockSize=$maxBlockSize (${oversized.take(5).mkString(", ")}…); " +
          "switching those blocks to MinHash-banded candidates + exact verify " +
          "(recall ≥ ~99.8% at the threshold, exact verification, no false positives)")
      val tagged = sh.join(broadcast(sizes), "block")
      val small = tagged.filter(col("__bn") <= maxBlockSize).drop("__bn")
      val big = tagged.filter(col("__bn") > maxBlockSize).drop("__bn")

      // r=1 banding: candidate probability for a pair at jaccard j is
      // 1-(1-j)^b; pick b so a pair AT the threshold is missed with
      // probability ≤ 0.2% (pairs above it, the ones that matter, miss
      // far less). Bounded to [16, 128] bands.
      val bands = math.min(128, math.max(16,
        math.ceil(math.log(0.002) / math.log(1.0 - threshold)).toInt))
      val withSig = graft.plans.PlanBarrier.barrier(big
        .select(col("id"), col("block"),
          graft.functions.MinHashExpressions.minhashSig(col("sh"), bands).as("sig")))
        .filter(col("sig").isNotNull)
      // banding carries (id, block, band, band_hash) — never shingles
      val banded = withSig.select(col("id"), col("block"),
        posexplode(col("sig")).as(Seq("band", "band_hash")))
        // evict: LRU — plan-lifetime cache; both self-join sides read it
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val candidates = banded.as("l").join(banded.as("r"),
        col("l.block") === col("r.block") &&
          col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      val shOnly = sh.select(col("id"), col("sh"))
      val bigPairs = candidates
        .join(shOnly.withColumnRenamed("id", "id_a")
          .withColumnRenamed("sh", "sh_a"), "id_a")
        .join(shOnly.withColumnRenamed("id", "id_b")
          .withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      exactPairs(small).unionAll(bigPairs)
    }
  }

  // ------------------------------------------------- dup clustering

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC 2014): (id, cluster_id) with cluster_id = the component min,
    * for every id appearing in `pairs`; the pipeline then keeps one doc
    * per cluster (`cluster_id === id`).
    *
    * Why not min-label propagation: it converges in O(diameter) rounds,
    * which is fine for the shallow star/pair components near-dup
    * pipelines produce but degenerates on chain-shaped components (a
    * path of 1000 nodes = 999 shuffle rounds). The star rounds square
    * the reach of the minimum each pass, so convergence is
    * O(log² n) rounds on ANY shape — the published MapReduce-scale
    * algorithm, and the one you'd run at 100 TB where component shape
    * is not under your control.
    *
    * Each round is join + aggregation only — no collect_list, so a
    * high-degree hub never materializes its neighborhood in one task;
    * the edge relation stays canonical (hi > lo) and deduped, bounding
    * every shuffle by the current edge count. Per-round state is cut
    * with [[org.apache.spark.sql.graftbridge.DatasetBridge]] fresh
    * checkpoints and the previous generation is released as soon as the
    * next materializes (the hitsFixed discipline). Convergence =
    * canonical edge set reaches a fixed point, detected by
    * (count, xor of per-edge xxhash64) — one cheap aggregation over the
    * already-checkpointed relation, no self-join.
    */
  def clustersStar(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIterations: Int = 50): DataFrame = {

    // ONE evaluation of the pair derivation: `pairs` is typically an
    // expensive chain (the winnow self-pairing for q280/q281, the
    // MinHash banding for q202), and it used to be re-derived TWICE
    // more at the end for the node roster (both unionAll branches) —
    // three full pair-chain executions per call. Checkpoint the raw
    // endpoints once; the canonical edge relation AND the roster both
    // read those blocks (r18 optimization, guide §1.2/§2.4 — results
    // identical, the roster still covers self-loop-only ids).
    val pCp = DatasetBridge.localCheckpointFresh(
      pairs.select(col(idA).as("__pa"), col(idB).as("__pb")))
    // a pair relation that fits the broadcast threshold at 16 B per
    // pair finishes on the driver; above it, with broadcasts off (-1)
    // or with a null id, the star rounds run
    if (pCp.df.schema.forall(_.dataType == org.apache.spark.sql.types.LongType) &&
        pCp.rows * 16 <= pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
      unionFindLabels(pCp) match { case Some(l) => pCp.release(); return l; case _ => }
    // every round's checkpoint materialization ALSO folds the
    // convergence checksum (count, xor of xxhash64(hi, lo)) inside the
    // same action — one job per round instead of the r18
    // checkpoint-then-checksum pair (r19, guide §1.2; the hash chain is
    // bit-identical to the old agg(count, bit_xor(xxhash64)) job). The
    // fused fold reads (long, long) rows; any other id type (no current
    // caller) keeps the two-job shape.
    def cpSum(df: DataFrame): (DatasetBridge.FreshCheckpoint, (Long, Long)) =
      if (df.schema.forall(_.dataType ==
          org.apache.spark.sql.types.LongType))
        DatasetBridge.localCheckpointFreshChecksum(df)
      else {
        val cp = DatasetBridge.localCheckpointFresh(df)
        val r = cp.df.agg(count(lit(1)),
          coalesce(bit_xor(xxhash64(col("hi"), col("lo"))), lit(0L))).head()
        (cp, (r.getLong(0), r.getLong(1)))
      }
    var (cur, sum) = cpSum(
      pCp.df.select(greatest(col("__pa"), col("__pb")).as("hi"),
          least(col("__pa"), col("__pb")).as("lo"))
        .filter(col("hi") =!= col("lo")).distinct())
    try {
      var converged = false
      var iter = 0
      while (!converged && iter < maxIterations) {
        // LARGE-STAR: symmetrize; per node u with m = min(N(u) ∪ {u}),
        // connect every LARGER neighbor v to m. Output is canonical
        // (v > u >= m) by construction.
        val sym = cur.df.select(col("hi").as("u"), col("lo").as("v"))
          .unionAll(cur.df.select(col("lo").as("u"), col("hi").as("v")))
        val mLarge = sym.groupBy("u").agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        val ls = sym.join(mLarge, "u").filter(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo"))
          .filter(col("hi") =!= col("lo")).distinct()
        // SMALL-STAR: on the canonical relation, per node hi with
        // m = min of its smaller neighbors, connect those neighbors
        // and hi itself to m. Output canonical again (v > m).
        val mSmall = ls.groupBy("hi").agg(min(col("lo")).as("m"))
        val (next, nextSum) = cpSum(
          ls.join(mSmall, "hi").select(col("lo").as("v"), col("m"))
            .unionAll(mSmall.select(col("hi").as("v"), col("m")))
            .filter(col("v") =!= col("m"))
            .select(col("v").as("hi"), col("m").as("lo")).distinct())
        cur.release()
        cur = next
        converged = nextSum == sum
        sum = nextSum
        iter += 1
      }
      if (!converged)
        System.err.println(s"[graft] Dedup.clustersStar: not converged " +
          s"after $maxIterations rounds — raise maxIterations")
      // fixed point is a star forest: every non-root edge is
      // (member, component min); roots are the ids never on the hi side.
      // min(lo) per hi keeps the labeling one-row-per-id even if the
      // round budget ran out before the star fixed point (where the
      // relation could still hold several (hi, lo) edges per id); at
      // the fixed point it is a no-op map-side-combinable agg.
      val roots = cur.df.groupBy(col("hi")).agg(min(col("lo")).as("root"))
        .select(col("hi").as("id"), col("root"))
      val nodes = pCp.df.select(col("__pa").as("id"))
        .unionAll(pCp.df.select(col("__pb").as("id"))).distinct()
      nodes.join(roots, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("root"), col("id")).as("cluster_id"))
        .localCheckpoint(true)
    } finally { cur.release(); pCp.release() }
  }

  /** [[clustersStar]]'s driver finish: a union-find whose roots are the
    * components' min ids, the rounds' labels; None when an id is null. */
  private def unionFindLabels(pairs: DatasetBridge.FreshCheckpoint): Option[DataFrame] = {
    val parts = pairs.rdd.mapPartitions { it =>
      val b = Array.newBuilder[Long]
      val ok = it.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        { b += r.getLong(0); b += r.getLong(1); true })
      Iterator.single(if (ok) b.result() else null)
    }.collect()
    Option.when(!parts.contains(null)) {
      val flat = parts.flatten
      val ids = flat.sorted
      var n = 0 // distinct ids, compacted to the front of `ids`
      for (x <- ids) if (n == 0 || ids(n - 1) != x) { ids(n) = x; n += 1 }
      val parent = Array.range(0, n)
      @annotation.tailrec def find(x: Int): Int = // with path halving
        if (parent(x) == x) x else { parent(x) = parent(parent(x)); find(parent(x)) }
      def root(id: Long) = find(java.util.Arrays.binarySearch(ids, 0, n, id))
      for (e <- 0 until flat.length by 2) {
        val (a, b) = (root(flat(e)), root(flat(e + 1)))
        parent(math.max(a, b)) = math.min(a, b)
      }
      val labels = new Array[Long](n)
      for (i <- 0 until n) labels(i) = ids(find(i))
      // primitive slices over an RDD: no boxed rows in driver, tasks or plan
      val size = 1 + n / pairs.rdd.sparkContext.defaultParallelism
      val slices = ids.take(n).grouped(size).zip(labels.grouped(size)).toSeq
      DatasetBridge.checkpointRows(pairs.df.sparkSession, pairs.rdd.sparkContext
          .parallelize(slices, slices.size max 1).flatMap { case (is, ls) => is.indices
            .iterator.map(i => org.apache.spark.sql.catalyst.InternalRow(is(i), ls(i))) },
        pairs.df.toDF("id", "cluster_id").schema).df
    }
  }

  /** Incremental connected components: fold a batch of NEW near-dup
    * pairs into an EXISTING (id, cluster_id) labeling without
    * re-deriving pairs for the old corpus — the cluster-level member
    * of the incremental-dedup family ([[dedupAgainstIndex]] is the
    * pair-level one). The previous labeling is already a star forest
    * (each id → its component min), so it re-enters [[clustersStar]]
    * as |ids| edges; new pairs can only merge existing stars or add
    * new nodes, and star rounds over a mostly-star graph converge in
    * O(1) rounds. Equivalent to a full recompute over (old pairs ∪
    * new pairs) — spec-asserted — because min-label closure is
    * associative over edge unions.
    */
  def clustersStarIncremental(labels: DataFrame,
      newPairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIterations: Int = 50): DataFrame =
    clustersStar(
      labels.select(col("id").as("id_a"), col("cluster_id").as("id_b"))
        .unionAll(newPairs.select(col(idA).as("id_a"), col(idB).as("id_b"))),
      maxIterations = maxIterations)

  /** One surviving id per duplicate cluster (the min); docs not in any
    * pair are implicitly their own survivors.
    *
    * Components come from [[clustersStar]] (O(log² n) rounds on any
    * shape, where min-label propagation takes O(diameter)): at 100 TB
    * the component shape — chains of pairwise-similar revisions,
    * template families — is not under our control.
    */
  def clusterSurvivors(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cl = clustersStar(pairs)
    docs.join(cl.withColumnRenamed("id", idCol), Seq(idCol), "left_outer")
      .filter(col("cluster_id").isNull || col("cluster_id") === col(idCol))
      .drop("cluster_id")
  }

  // -------------------------------------------- embedding near-dup

  /** Cosine of two double arrays, dot/sqrt(na·nb) — one codegen'd pass
    * over both arrays (graft.functions.CosineSim).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine(a, b)

  /** Embedding near-dup, scale path: candidates share an LSH bucket in
    * ≥1 table ([[graft.similarity.Ann.lshBuckets]]), exact-cosine verify
    * on candidates only. Same output contract as [[embeddingPairs]] but
    * shuffle keys are short bucket hashes, never the O(n²) pair space.
    * Recall < 1 by construction (tunable via tables/planes).
    */
  def embeddingPairsLsh(
      embs: DataFrame, idCol: String, vecCol: String, threshold: Double,
      tables: Int = 12, planes: Int = 6, seed: Long = 42L): DataFrame = {
    val b = graft.similarity.Ann.lshBuckets(embs, idCol, vecCol, tables, planes, seed)
      // evict: LRU — plan-lifetime cache; both self-join sides read it
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    b.as("l").join(b.as("r"),
      col("l.table") === col("r.table") &&
        col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.v").as("va"), col("r.v").as("vb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_sim"))
  }

  /** Embedding-cosine near-duplicate pairs ≥ threshold. Brute-force
    * all-pairs — correct at verification scale; the 100 TB path is
    * [[embeddingPairsLsh]].
    */
  def embeddingPairs(
      embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val e = embs.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      // evict: LRU — plan-lifetime cache of the brute-force verification-scale path
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.as("l").join(e.as("r"), col("l.id") < col("r.id"))
      .withColumn("cos", cosine(col("l.v"), col("r.v")))
      .filter(col("cos") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        round(col("cos"), 4).as("cos_sim"))
  }
}
