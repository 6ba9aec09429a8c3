package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.pipeline.Curation
import graft.text.{Quality, TextAnalysis}

/** Continuous corpus curation — the streaming face of
  * [[graft.pipeline.Pipelines.curateCorpus]] under the FROZEN-MODEL
  * serving discipline: models and policies are trained on a corpus
  * SNAPSHOT (quality-classifier weights, DSIR importance counts,
  * mixture rates, the decontamination benchmark), then applied to the
  * ingest stream; only the two inherently cross-batch stages carry
  * state, both in bounded storage:
  *
  *   - exact keep-first dedup → md5 fingerprint index table (bucketed,
  *     append-only, batchId replay guard — the
  *     [[StreamingParagraphDedup]] machinery at document granularity);
  *   - sequence packing → one running token total per shard
  *     (|shards| rows, monotone, replay-absorbed by max()).
  *
  * Stages with snapshot-scoped statistics that can't freeze to an
  * artifact-sized model are deliberately absent and keep their own
  * surfaces: corpus-trained fluency tiers (the bigram LM is
  * vocab²-sized — q100/q107), paragraph/substring dedup (own index
  * twins, q101/q102), URL intake (q111's index form would compose the
  * same way). Everything here is the per-batch plan a 1000-executor
  * cluster would run on each trigger: map-only gates riding the batch
  * scan, broadcast policy joins, one O(batch) index probe/append.
  *
  * When ingest delivers doc_ids in order, the admitted set and every
  * (seq_id, seq_offset) are IDENTICAL to the batch pipeline over the
  * full corpus — the registered query (q124) is hash-gated against a
  * composed DuckDB oracle, like q101/q102 and unlike any MinHash twin.
  */
object StreamingCuration {

  /** Frozen per-document policies (everything trained off-stream). */
  final case class FrozenConfig(
      lang: Option[String] = None,
      minQuality: Double = 0.3,
      maxTopWordRatio: Double = 0.5,
      classifierWeights: Option[Quality.Weights] = None,
      // (model, min affinity): importanceAffinity(text) >= min keeps
      // the doc; unscoreable docs (< 2 words) drop, matching the
      // batch resample's semi-join semantics
      importance: Option[(Curation.ImportanceModel, Long)] = None,
      seqLen: Int = 1024,
      shardCol: String = "source",
      // byte-hygiene intake (strip C0/DEL → NFC → C4 line/page rules,
      // Pipelines.intakeApply) as the first per-batch stage — the
      // streaming face of CurationConfig.intakeC4. Stateless column
      // algebra, so it rides the batch scan like the other gates;
      // content keys (fingerprints) are then computed post-NFC,
      // matching the batch pipeline exactly.
      intakeC4: Boolean = false,
      intakeMinWordsPerLine: Int = 3,
      intakeMinKeptLines: Int = 3,
      // SURGICAL benchmark decontamination — the streaming face of
      // CurationConfig.surgicalDecon: cut the winnow-localized matched
      // spans from each arriving doc's ORIGINAL text instead of
      // dropping the doc (fully-cut docs drop). Verdicts depend only
      // on the doc and the FROZEN benchmark side, so the stage is
      // batch-local; the cross-batch dedup then keys on the
      // POST-surgery fingerprint, exactly like the batch pipeline.
      surgicalDecon: Boolean = false,
      surgicalMinSharedFps: Int = 2,
      surgicalMaxBenchFpFreq: Long = 64L,
      // contamination-fraction routing for the surgical stage — the
      // streaming face of CurationConfig.routeFloors: (cutFloor,
      // dropFloor); ≥ dropFloor drops the arriving doc outright, the
      // mid band is cut, the noise floor passes untouched. Fractions
      // depend only on the doc and the FROZEN benchmark side, so the
      // stage stays batch-local.
      routeFloors: Option[(Double, Double)] = None)

  /** Start the stream. `benchmark` (decontamination corpus) and
    * `mixtureRates` (a [[Curation.mixtureRates]] snapshot keyed on
    * `lang`) must be materialized caller-side (persist or
    * localCheckpoint) — a lazy static plan would re-execute per
    * micro-batch. `onBatch` receives each batch's packed survivors
    * as (all doc columns, n_tokens, seq_id, seq_offset).
    */
  def start(docs: DataFrame, idCol: String, benchmark: DataFrame,
      cfg: FrozenConfig, mixtureRates: Option[DataFrame],
      fpIndexTable: String, packStateTable: String,
      // production resume point: with a checkpoint dir, a crashed query
      // restarts on the SAME batch id, so the batch_id < current probe
      // guard makes the replay exactly idempotent (the failed attempt's
      // own appends are invisible to it; its duplicate re-appends are
      // absorbed by the distinct probe / max(cum) folds) — proven under
      // injected crash in StreamingCurationSpec
      checkpointLocation: Option[String] = None)
      (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val setup = docs.sparkSession
    val fpIndex = StandingTable.open(setup, fpIndexTable,
      StructType(Seq(StructField("h", StringType))), Some("h"))
    val packState = StandingTable.open(setup, packStateTable,
      StructType(Seq(StructField("shard", StringType),
        StructField("cum", LongType))), None)

    StandingTable.foreachBatch(docs, fpIndexTable, checkpointLocation) {
      (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        // ---- stateless byte-hygiene intake (exact curateCorpus stage)
        val intaken =
          if (!cfg.intakeC4) batch
          else graft.pipeline.Pipelines.intakeApply(batch, "text",
            cfg.intakeMinWordsPerLine, cfg.intakeMinKeptLines)
        // ---- stateless snapshot-frozen gates (exact curateCorpus exprs)
        val scrubbed = intaken.withColumn("text", regexp_replace(
          regexp_replace(
            regexp_replace(col("text"),
              TextAnalysis.emailPattern, "<EMAIL>"),
            TextAnalysis.ipv4Pattern, "<IP>"),
          TextAnalysis.phonePattern, "<PHONE>"))
        val langGated = cfg.lang.fold(scrubbed)(l =>
          scrubbed.filter(col("lang") === l))
        val gated = langGated
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
          .withColumn("quality", TextAnalysis.qualityScore(col("text")))
          .withColumn("__rep", graft.functions.RepetitionExpressions.repetitionCounts(
            array_remove(TextAnalysis.words(TextAnalysis.normalizeText(col("text"))), "")))
          .filter(col("quality") > cfg.minQuality &&
            col("__rep").isNotNull &&
            col("__rep.top_word").cast("double") / col("__rep.n_words")
              <= cfg.maxTopWordRatio &&
            cfg.classifierWeights.fold(lit(true))(w =>
              Quality.scoreQuality(col("text"), w) > 0))
          .drop("__rep", "quality")
        val selected = cfg.importance.fold(gated) { case (m, minAff) =>
          gated.filter(
            Curation.importanceAffinity(col("text"), m) >= lit(minAff))
        }
        val cleaned =
          if (cfg.surgicalDecon) {
            // benchmark identity = md5 of the distinct item text (the
            // batch pipeline's convention — duplicate items are one)
            val bm = benchmark.select(col("text")).distinct()
              .select(md5(coalesce(col("text"), lit(""))).as("__bid"),
                col("text"))
            val cut = cfg.routeFloors match {
              case Some((cutFloor, dropFloor)) =>
                graft.dedup.Dedup.winnowRoute(
                    selected, idCol, "text", bm, "__bid", "text",
                    cutFloor = cutFloor, dropFloor = dropFloor,
                    minSharedFps = cfg.surgicalMinSharedFps,
                    maxBenchFpFreq = cfg.surgicalMaxBenchFpFreq)
                  .filter(col("verdict") =!= "drop")
                  .select(col("doc_id").as(idCol),
                    col("text_out").as("text_clean"))
              case None =>
                graft.dedup.Dedup.winnowDecontaminateRaw(
                    selected, idCol, "text", bm, "__bid", "text",
                    minSharedFps = cfg.surgicalMinSharedFps,
                    maxBenchFpFreq = cfg.surgicalMaxBenchFpFreq)
                  .select(col("doc_id").as(idCol), col("text_clean"))
            }
            selected.drop("text")
              .join(cut, Seq(idCol))
              .withColumnRenamed("text_clean", "text")
              .filter(trim(col("text")) =!= "")
              .withColumn("n_tokens",
                TextAnalysis.tokenCount(col("text")).cast("long"))
          } else Curation.decontaminate(selected, benchmark, "text")

        // ---- cross-batch exact keep-first dedup (fingerprint index)
        val index = fpIndex.before(sess, batchId).select("h").distinct()
        val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
        val deduped = cleaned
          .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
          .withColumn("__rn", row_number().over(w))
          .join(index.withColumnRenamed("h", "__fp").withColumn("__hit", lit(true)),
            Seq("__fp"), "left")
          .filter(col("__rn") === 1 && col("__hit").isNull)
          .drop("__rn", "__hit")
          .localCheckpoint()
        fpIndex.append(deduped.select(col("__fp").as("h")).distinct()
          .localCheckpoint(), batchId)

        // ---- frozen mixture rebalance
        val sampled = mixtureRates.fold(deduped.drop("__fp"))(r =>
          Curation.applyMixtureRates(deduped.drop("__fp"), "lang",
            col(idCol), r))

        // ---- sequence packing with per-shard running state. cum is
        // monotone per shard, so the latest committed total is max(cum)
        // over batch_id < current — a replay's duplicate appends carry
        // identical values and max() absorbs them.
        val base = packState.before(sess, batchId)
          .groupBy(col("shard")).agg(max(col("cum")).as("__base"))
        val wp = Window.partitionBy(col(cfg.shardCol)).orderBy(col(idCol))
        val packed = sampled
          .withColumn("__cum_in", sum(col("n_tokens")).over(wp))
          .join(broadcast(base.withColumnRenamed("shard", cfg.shardCol)),
            Seq(cfg.shardCol), "left")
          .withColumn("__total",
            coalesce(col("__base"), lit(0L)) + col("__cum_in"))
          // same arithmetic as Curation.packSequences (floor of an
          // exact double division; `%` on longs)
          .withColumn("seq_id",
            floor((col("__total") - col("n_tokens")) / lit(cfg.seqLen.toLong))
              .cast("long"))
          .withColumn("seq_offset",
            (col("__total") - col("n_tokens")) % lit(cfg.seqLen.toLong))
          .localCheckpoint()
        packState.append(packed
          .groupBy(col(cfg.shardCol).as("shard"))
          .agg(max(col("__total")).as("cum"))
          .localCheckpoint(), batchId)
        onBatch(packed.drop("__cum_in", "__base", "__total"), batchId)
    }
  }

  /** Ingest-time per-domain admission quota — the streaming face of
    * [[graft.text.Urls.domainCap]]: admit at most `cap` documents per
    * registrable domain over the stream's LIFETIME. The batch cap can
    * re-elect its md5-min survivors over the whole corpus; an ingest
    * stream cannot un-admit what it already emitted, so the streaming
    * policy is quota-by-arrival: each micro-batch admits up to the
    * domain's remaining quota, choosing WITHIN the batch by the same
    * deterministic (md5(seed|id), id) order the batch cap uses. Under
    * ordered ingest the admitted set is therefore a pure function of
    * the batch split — hash-gateable (q221), not merely rows-only.
    *
    * State = ONE long per domain ([[org.apache.spark.sql.streaming
    * .GroupState]] via flatMapGroupsWithState — the q81 running-counter
    * shape), which is the smallest possible admission-control state:
    * |domains| longs at any corpus size. Per batch each group
    * materializes only its OWN batch rows to sort them (bounded by the
    * trigger size; the admitted output is ≤ quota rows). Returns
    * (domain, doc_id) — semi-join admitted ids back to the stream for
    * the surviving documents.
    */
  def domainCapStream(docs: DataFrame, idCol: String, urlCol: String,
      cap: Int, seed: Long = 42L): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.text.Urls
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        Urls.registrableDomain(
          Urls.hostOf(Urls.canonicalizeUrl(col(urlCol)))).as("domain"),
        col(idCol).cast("long").as("doc_id"),
        md5(concat(lit(seed.toString), lit("|"),
          col(idCol).cast("string"))).as("ord"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (domain, rows, state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val quota = math.max(0L, cap.toLong - admitted).toInt
          // bounded selection, NOT a full sort: a size-`quota`
          // max-heap of the current keepers (worst keeper on top; a
          // smaller-keyed row evicts it). Memory is O(quota) per
          // domain — independent of the trigger's batch-slice size,
          // so one hot domain flooding a trigger can't balloon the
          // state worker (the full sortBy held the whole slice).
          // Selection matches sortBy(ord, doc_id).take(quota) exactly:
          // the (md5, doc_id) key is unique per row.
          val take =
            if (quota == 0) Seq.empty
            else {
              val ord = Ordering.by[(String, Long, String), (String, Long)](
                r => (r._3, r._2))
              val heap = new scala.collection.mutable.PriorityQueue[
                (String, Long, String)]()(ord)
              rows.foreach { r =>
                if (heap.size < quota) heap.enqueue(r)
                else if (ord.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
              }
              heap.toSeq.sortBy(r => (r._3, r._2))
            }
          if (take.nonEmpty) state.update(admitted + take.size)
          take.iterator.map(r => (domain, r._2))
      }
      .toDF("domain", "doc_id")
  }
}
