package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained byte-pair encoding — the token-budget currency of an
  * LLM pipeline. Training follows Sennrich et al. (2016): start from
  * characters, repeatedly merge the most frequent adjacent symbol pair,
  * bounded rounds. Two aggregation jobs per round (pair counts → one
  * collected argmax row; fold application is map-only), against the
  * word-FREQUENCY table, never the corpus: the classic trick that makes
  * BPE training corpus-size-independent — a 100 TB corpus and its 10⁷-
  * word vocabulary train identically. The vocab is additionally capped
  * (`maxVocab`, frequency-ranked) like every production tokenizer's
  * trainer.
  *
  * Counting tokens of a corpus under the trained model is a broadcast
  * lookup of each word's trained symbol count (out-of-vocab words fall
  * back to character count — the no-merges upper bound), so the count
  * pass is one scan + one broadcast join at any scale.
  *
  * Divergence from GPT-2 BPE, documented: merges stay within
  * whitespace words (no end-of-word marker, no byte fallback) — the
  * operator shape is identical, the alphabet simpler.
  */
object Bpe {

  /** One trained merge: `lhs`+`rhs` fused at training round `mergeNo`
    * with corpus pair frequency `pairFreq`.
    */
  final case class Merge(mergeNo: Int, lhs: String, rhs: String, pairFreq: Long)

  /** The word-frequency relation BPE trains on: lowercased whitespace
    * words of `textCol`, frequency-ranked, capped at `maxVocab`
    * (deterministic tie-break on the word).
    */
  def wordFrequencies(docs: DataFrame, textCol: String, maxVocab: Int): DataFrame =
    docs.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("word"))
      .limit(maxVocab)

  /** Greedy left-to-right single-pass merge of adjacent (l, r) symbol
    * pairs — BPE's application step: a merged pair is consumed and does
    * not re-merge within the pass ("aaa" + (a,a) → ["aa","a"]). One
    * fold expression, map-only: state is (emitted symbols, pending
    * symbol).
    */
  def applyMerge(syms: Column, l: String, r: String): Column = {
    val init = struct(
      typedLit(Seq.empty[String]).as("out"),
      lit(null).cast("string").as("pend"))
    val folded = aggregate(syms, init,
      (acc, s) => {
        val out = acc.getField("out")
        val pend = acc.getField("pend")
        when(pend.isNull, struct(out.as("out"), s.as("pend")))
          .when(pend === lit(l) && s === lit(r),
            struct(concat(out, array(lit(l + r))).as("out"),
              lit(null).cast("string").as("pend")))
          .otherwise(struct(concat(out, array(pend)).as("out"), s.as("pend")))
      },
      acc => when(acc.getField("pend").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("pend")))))
    folded
  }

  /** Train `rounds` merges over the corpus. Returns the merge table in
    * training order plus the trained vocabulary (word, freq, syms) —
    * each word's final symbol decomposition, the lookup table token
    * counting uses. Stops early if no adjacent pair remains. Argmax
    * tie-break is (count desc, lhs asc, rhs asc) — binary string order,
    * identical in Spark and the DuckDB oracle.
    *
    * The returned vocab is localCheckpoint-BACKED (see the loop note
    * below): consume or re-materialize it BEFORE calling
    * `vocab.unpersist()` — unpersisting a checkpointed frame drops its
    * blocks and the truncated plan cannot recompute them (Spark logs
    * the warning). Every caller in this repo materializes first.
    */
  def train(docs: DataFrame, textCol: String, rounds: Int,
      maxVocab: Int = 10000): (Seq[Merge], DataFrame) = {
    require(rounds >= 0 && maxVocab > 0, "rounds/maxVocab must be positive")
    // localCheckpoint (not persist): each round builds on the previous
    // generation, and a cache alone leaves the LINEAGE growing one
    // chained `aggregate`-fold projection per round — at 64+ rounds
    // re-analysis of that chain (and optimizer substitution into it)
    // dominates, then OOMs the driver. Checkpointing truncates the
    // plan to the materialized table, so every round analyzes exactly
    // one merge application over a |vocab|-row scan.
    var rep = wordFrequencies(docs, textCol, maxVocab)
      .withColumn("syms", split(col("word"), ""))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    for (round <- 1 to rounds if !exhausted) {
      val top = rep.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(round, l, r, c)
        // eager localCheckpoint materializes before the parent's blocks
        // are released (ContextCleaner GCs prior generations)
        rep = rep.withColumn("syms", applyMerge(col("syms"), l, r))
          .localCheckpoint()
      }
    }
    (merges.toSeq, rep)
  }

  /** Real token counts under a trained vocabulary: per doc, the sum of
    * each word's trained symbol count, out-of-vocab words at character
    * count (the zero-merges upper bound). Docs with no words count 0.
    * For true tokenizer semantics on unseen corpora (OOV words REPLAY
    * the merges instead of falling back) use [[tokenCountWithMerges]].
    */
  def tokenCount(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    tokenCountImpl(docs, idCol, textCol, vocab,
      oovCount = word => length(word).cast("int"))

  /** REFERENCE form of merge-list replay over a symbol array: one fold
    * expression per merge, chained — an expression tree O(|merges|)
    * deep, so Catalyst analysis alone chokes at real-tokenizer merge
    * counts. Kept as the executable spec the production kernel is
    * property-tested against (BpeSpec); every query path uses
    * [[replaySymbols]] instead.
    */
  def applyMerges(syms: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.mergeNo)
      .foldLeft(syms)((s, m) => applyMerge(s, m.lhs, m.rhs))

  /** Production merge replay: encode a WORD under the trained merges
    * via the flat-loop codegen kernel
    * ([[graft.functions.BpeReplay]]) — analysis cost O(1) in
    * |merges|, replay O(|merges| × |word|) straight-line JVM code,
    * inside WholeStageCodegen. This is how a real tokenizer encodes
    * unseen words; for trained words it reproduces their vocabulary
    * decomposition exactly (same composition of passes).
    */
  def replaySymbols(word: Column, merges: Seq[Merge]): Column = {
    val sorted = merges.sortBy(_.mergeNo)
    graft.functions.BpeReplay.replaySymbols(
      word, sorted.map(_.lhs), sorted.map(_.rhs))
  }

  /** [[tokenCount]] with exact OOV handling: words outside the trained
    * vocabulary replay the merge list from characters through the
    * codegen kernel. DEFAULT path is the zero-extra-pass
    * PER-OCCURRENCE replay: the round-9 one-shot that promoted the
    * dictionary-encoded form (+24 %) did not survive a controlled
    * measurement — two interleaved min-of-5/7 sessions on an idle
    * machine (sf0.1, all-OOV 32k-merge
    * rehearsal) both put per-occurrence ~8–10 % AHEAD (min 0.66 vs
    * 0.74 s), so the pre-agg doesn't pay for itself even in the
    * worst all-OOV case on this corpus. The dictionary-encoded form
    * remains as [[tokenCountWithMergesDict]] for corpora with much
    * higher within-doc word repetition. Counts are identical (A/B
    * spec in BpeSpec).
    */
  def tokenCountWithMerges(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, merges: Seq[Merge]): DataFrame =
    tokenCountWithMergesPerOcc(docs, idCol, textCol, vocab, merges)

  /** Per-occurrence replay variant: every word occurrence replays
    * independently (`when` short-circuits, so replay evaluates only on
    * OOV rows). No pre-aggregation pass — the better shape when the
    * vocabulary covers nearly all occurrences.
    */
  def tokenCountWithMergesPerOcc(docs: DataFrame, idCol: String,
      textCol: String, vocab: DataFrame, merges: Seq[Merge]): DataFrame =
    tokenCountImpl(docs, idCol, textCol, vocab,
      oovCount = word => size(replaySymbols(word, merges)))

  /** Persist a trained merge list as the reloadable tokenizer
    * artifact — the real lifecycle: train once, save, tokenize any
    * later corpus under the loaded merges ([[loadMerges]] →
    * [[tokenCountWithMerges]]/[[replaySymbols]]). Parquet
    * (merge_no, lhs, rhs, pair_freq), one file: the table is
    * |merges| rows by construction, artifact-sized at any corpus
    * scale.
    */
  def saveMerges(spark: org.apache.spark.sql.SparkSession, merges: Seq[Merge],
      path: String): Unit = {
    import spark.implicits._
    merges.toDF().coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveMerges]] artifact in training order. The collect
    * is artifact-sized (|merges| rows), never corpus-sized.
    */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Merge] = {
    import spark.implicits._
    spark.read.parquet(path).as[Merge].collect().sortBy(_.mergeNo).toSeq
  }

  /** [[tokenCountWithMerges]] with DICTIONARY-ENCODED replay: word
    * occurrences pre-aggregate to (doc, word, occurrences) — a
    * map-side-combinable count — before the replay expression runs, so
    * each distinct word per document replays ONCE and its symbol count
    * multiplies by the occurrence count. On zipfian corpora (every
    * real one) the repeat factor makes this the 100 TB shape for
    * OOV-heavy tokenization: replay CPU drops by the average word
    * repeat rate at the cost of the pre-agg's combiner pass (the
    * doc-level agg it feeds was already a shuffle). Counts are
    * IDENTICAL to [[tokenCountWithMerges]] (spec-asserted) — choose by
    * corpus shape: per-occurrence replay keeps the zero-extra-pass
    * plan when the vocabulary covers most words; this form wins when
    * many repeated words replay.
    */
  def tokenCountWithMergesDict(docs: DataFrame, idCol: String,
      textCol: String, vocab: DataFrame, merges: Seq[Merge]): DataFrame = {
    val perWord = docs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("__occ"))
      .join(broadcast(vocab.select(col("word"), size(col("syms")).as("__n"))),
        Seq("word"), "left")
      .withColumn("__n",
        when(col("__n").isNotNull, col("__n"))
          .otherwise(size(replaySymbols(col("word"), merges))))
      .groupBy("doc_id").agg(sum(col("__occ") * col("__n")).as("n_bpe_tokens"))
    docs.select(col(idCol).as("doc_id"))
      .join(perWord, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bpe_tokens"))
  }

  private def tokenCountImpl(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, oovCount: Column => Column): DataFrame = {
    val perWord = docs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(vocab.select(col("word"), size(col("syms")).as("__n"))),
        Seq("word"), "left")
      .withColumn("__n",
        when(col("__n").isNotNull, col("__n")).otherwise(oovCount(col("word"))))
      .groupBy("doc_id").agg(sum(col("__n")).as("n_bpe_tokens"))
    docs.select(col(idCol).as("doc_id"))
      .join(perWord, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bpe_tokens"))
  }
}
