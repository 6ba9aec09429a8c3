package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unified ANN entry point — ONE call that picks the family
  * (brute / IVF / PQ / IVF-SQ8) from what actually drives the choice
  * at scale: corpus size `n`, vector `dim`, and the caller's memory
  * budget for the scoring tier. The decision table (documented in
  * SCALE.md §ANN and spec-locked by equivalence tests against the
  * direct calls):
  *
  *  | condition | family | why |
  *  |---|---|---|
  *  | n ≤ [[BruteMaxRows]] | brute | exact; a single broadcast-probe scan is cheaper than any index build at this size |
  *  | vectors fit the budget (n·dim·8 ≤ budget) | IVF | the recall-robust scale path: bounded-sample KMeans, ~nprobe/nlist of the corpus scanned per query |
  *  | vectors DON'T fit, dim divisible by a subspace count | PQ | compression path: m codes/row (~dim·8/m× less scan I/O), ADC scoring, exact re-rank of the shortlist |
  *  | vectors DON'T fit, dim not PQ-divisible | IVF-SQ8 | 8× scan compression (byte codes) with IVF list pruning; works at any dim |
  *
  * LSH stays reachable via the explicit `family` override only — its
  * recall is parameter-sensitive (the reason [[Ann.ivfTopK]] is the
  * documented scale default), but it is the right tool when the
  * corpus is append-heavy and retraining even a sampled quantizer
  * between rebuilds is unwanted.
  *
  * Parameter derivation (the FAISS guidelines, each documented on the
  * underlying operator): `nlist ≈ √n` clamped to [4, 4096], probing
  * `max(4, nlist/4)` lists; PQ uses the largest m ∈ {16,8,4,2}
  * dividing dim with ks=16 and overfetch=16 (the registered q78
  * recall-0.96 configuration class); quantizer training is always the
  * bounded [[Ann.boundedTrainFraction]] sample. Every family is
  * deterministic given `seed`.
  *
  * The returned frame is (query_id, neighbor_id, rank, score) with
  * the score column of the underlying family (`cos_sim` for
  * brute/LSH/IVF/PQ, `score_fp` for IVF-SQ8) — rank is the contract,
  * scores are family-native diagnostics. Results follow each
  * operator's caller-release contract (approximate paths return
  * persisted frames — `.unpersist()` when consumed).
  */
object AnnIndex {

  /** Below this corpus size the exact broadcast-probe scan wins: at
    * 100k rows × 64 dim × a benchmark-sized query set, brute force is
    * a sub-second single-stage scan, while any trained index pays a
    * KMeans fit first. Callers with huge STANDING query volume can
    * still force an index via `family`.
    */
  val BruteMaxRows: Long = 100000L

  sealed trait Family
  case object Brute extends Family
  case object Lsh extends Family
  case object Ivf extends Family
  case object Pq extends Family
  case object IvfSq8 extends Family
  /** Projected-shortlist + exact refine (`Projection.projTopKFixed`) —
    * explicit-override only, like [[Lsh]]: right when a quantizer
    * refit between rebuilds is unwanted AND the query volume justifies
    * the dOut-dim scoring scan, but recall needs the exact re-rank
    * (see the ProjectionSpec gap-vs-noise analysis for shortlist
    * sizing).
    */
  case object Proj extends Family

  /** The resolved execution plan: family + the derived parameters the
    * dispatch will pass to the direct call — exposed so callers (and
    * the equivalence specs) can see and replay exactly what will run.
    */
  final case class Plan(
      family: Family,
      nlist: Int = 0, nprobe: Int = 0,
      m: Int = 0, ks: Int = 0, overfetch: Int = 0,
      tables: Int = 0, planes: Int = 0,
      dOut: Int = 0, shortlist: Int = 0,
      reason: String)

  /** √n clamped to [4, 4096] — the FAISS nlist guideline. */
  private[similarity] def nlistFor(n: Long): Int =
    math.min(4096L, math.max(4L, math.round(math.sqrt(n.toDouble)))).toInt

  /** Largest PQ subspace count in {16, 8, 4, 2} dividing `dim`; 0 if
    * none (odd/prime dims → SQ8 is the compression path).
    */
  private[similarity] def pqMFor(dim: Int): Int =
    Seq(16, 8, 4, 2).find(m => dim % m == 0).getOrElse(0)

  /** Resolve the decision table for (n, dim, k, budget). Pure —
    * callable without data for planning/spec purposes.
    */
  def choose(n: Long, dim: Int, k: Int,
      memoryBudgetBytes: Long = Long.MaxValue,
      family: Option[Family] = None): Plan = {
    require(n >= 0, s"n must be >= 0, got $n")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(k >= 1, s"k must be >= 1, got $k")
    val nlist = nlistFor(n)
    val nprobe = math.min(nlist, math.max(4, nlist / 4))
    val m = pqMFor(dim)
    def plan(f: Family, reason: String): Plan = f match {
      case Brute => Plan(Brute, reason = reason)
      case Lsh => Plan(Lsh, tables = 32, planes = 4, reason = reason)
      case Ivf => Plan(Ivf, nlist = nlist, nprobe = nprobe, reason = reason)
      case Pq =>
        require(m > 0, s"dim $dim has no PQ subspace divisor in {16,8,4,2}")
        Plan(Pq, m = m, ks = 16, overfetch = 16, reason = reason)
      case IvfSq8 =>
        Plan(IvfSq8, nlist = nlist, nprobe = nprobe, reason = reason)
      case Proj =>
        // 2× compression; shortlist sized for the refine to matter —
        // generous because JL noise 1/√dOut competes with cosine gaps
        Plan(Proj, dOut = math.max(8, math.min(64, dim / 2)),
          shortlist = math.max(10 * k, 100), reason = reason)
    }
    family match {
      case Some(f) => plan(f, "caller override")
      case None =>
        if (n <= BruteMaxRows)
          plan(Brute, s"n=$n <= $BruteMaxRows: exact scan beats index build")
        else if (n * dim.toLong * 8L <= memoryBudgetBytes)
          plan(Ivf, s"vectors fit budget: IVF is the recall-robust default")
        else if (m > 0)
          plan(Pq, s"vectors exceed budget: PQ compresses the scoring scan")
        else
          plan(IvfSq8,
            s"vectors exceed budget, dim=$dim not PQ-divisible: SQ8 codes")
    }
  }

  /** Vector dim from the first non-empty vector; None when the corpus
    * is empty or every vector is null/empty (the caller decides — a
    * clear error or the empty-result fast path, never a bare
    * NoSuchElementException out of `.head()`).
    */
  private def dimOf(df: DataFrame, vecCol: String): Option[Int] =
    df.select(size(col(vecCol)).as("__d")).filter(col("__d") > 0)
      .take(1).headOption.map(_.getInt(0))

  private def dimOrFail(df: DataFrame, vecCol: String, who: String): Int =
    dimOf(df, vecCol).getOrElse(throw new IllegalArgumentException(
      s"AnnIndex.$who: corpus has no non-empty '$vecCol' vector — " +
        "cannot infer dim"))

  /** One-call ANN top-k: resolve the [[Plan]] from the corpus itself
    * (one count + one head row for dim) and dispatch to the direct
    * operator with the derived parameters.
    *
    * `statsHint` ≥ 0 supplies the corpus row count and skips the
    * planning `count()` scan — pass it when the caller already knows n
    * (a manifest, a catalog stat, a previous pass); the resolved plan
    * is identical. An empty corpus (or one whose vectors are all
    * null/empty) returns the Brute branch's empty result frame rather
    * than failing the dim probe.
    */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      memoryBudgetBytes: Long = Long.MaxValue, seed: Long = 42L,
      family: Option[Family] = None, statsHint: Long = -1L): DataFrame = {
    val n = if (statsHint >= 0L) statsHint else corpus.count()
    dimOf(corpus, vecCol) match {
      case None =>
        // no scorable vectors: every family returns zero neighbors;
        // brute force needs no dim and carries the contract schema
        run(choose(0L, 1, k, memoryBudgetBytes, Some(Brute)),
          corpus, idCol, vecCol, queries, qIdCol, qVecCol, k, seed)
      case Some(dim) =>
        run(choose(n, dim, k, memoryBudgetBytes, family),
          corpus, idCol, vecCol, queries, qIdCol, qVecCol, k, seed)
    }
  }

  /** Execute a resolved [[Plan]] — exposed so the equivalence specs
    * (and callers that cache a Plan across batches) can drive the
    * dispatch deterministically.
    */
  def run(plan: Plan, corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      seed: Long = 42L): DataFrame = plan.family match {
    case Brute =>
      Ann.bruteForceTopK(corpus, idCol, vecCol, queries, qIdCol, qVecCol, k)
    case Lsh =>
      Ann.lshTopK(corpus, idCol, vecCol, queries, qIdCol, qVecCol, k,
        tables = plan.tables, planes = plan.planes)
    case Ivf =>
      Ann.ivfTopK(corpus, idCol, vecCol, queries, qIdCol, qVecCol, k,
        nlist = plan.nlist, nprobe = plan.nprobe, seed = seed)
    case Pq =>
      Ann.pqTopK(corpus, idCol, vecCol, queries, qIdCol, qVecCol, k,
        m = plan.m, ks = plan.ks, seed = seed, overfetch = plan.overfetch)
    case Proj =>
      val dim = dimOrFail(corpus, vecCol, "run(Proj)")
      Projection.projTopKFixed(corpus, idCol, vecCol,
        queries, qIdCol, qVecCol, k,
        shortlist = plan.shortlist, dIn = dim, dOut = plan.dOut)
    case IvfSq8 =>
      // train the two frozen artifacts the composed operator needs —
      // centroids (bounded-sample KMeans over UNIT vectors, the
      // assignment kernel's space — the knnGraph pattern) and
      // per-dimension SQ8 bounds (one aggregate pass)
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val dim = dimOrFail(corpus, vecCol, "run(IvfSq8)")
      val c = Ann.normalized(corpus.select(
        transform(col(vecCol), x => x.cast("double")).as("v")))
        .select(array_to_vector(col("v")).as("__fv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val centroids = try {
        val frac = Ann.boundedTrainFraction(c.count(), plan.nlist)
        val trainSet =
          if (frac >= 1.0) c
          else c.sample(withReplacement = false, frac, seed)
        new KMeans().setK(plan.nlist).setSeed(seed).setFeaturesCol("__fv")
          .setPredictionCol("__cl").fit(trainSet)
          .clusterCenters.map(_.toArray.toSeq).toSeq
      } finally c.unpersist()
      val (mins, maxs) = Ann.sq8Bounds(corpus, idCol, vecCol, dim)
      Ann.ivfSq8TopK(corpus, idCol, vecCol, queries, qIdCol, qVecCol, k,
        centroids, plan.nprobe, mins, maxs)
  }

  // ------------- persistent lifecycle (build-once / probe-many) ------
  //
  // [[topK]] is the convenience path: it resolves AND trains per call,
  // which is the wrong cost model for a standing index at 100 TB. The
  // named lifecycle routes the same decision table to the catalog-table
  // index objects — [[IvfIndex]] / [[PqIndex]] — so the quantizer fit
  // and the corpus encode/assignment pass run ONCE, new vectors fold in
  // append-only under the frozen quantizer, and every later session
  // probes by name with zero retraining. A one-row `<name>_meta` table
  // records the family and derived parameters, so probe/refresh need no
  // re-planning (and no corpus scan) either.

  private def meta(name: String) = graft.io.Artifact(name, Seq("meta"))

  private def familyTag(f: Family): String = f match {
    case Ivf => "ivf"
    case Pq => "pq"
    case other => throw new IllegalArgumentException(
      s"AnnIndex: no persistent lifecycle for family $other")
  }

  /** Build a persistent index under `name`. The decision table is the
    * [[choose]] one restricted to the families with catalog lifecycles:
    * IVF when the scoring vectors fit `memoryBudgetBytes` (and also
    * when they don't but dim has no PQ subspace divisor — uncompressed
    * lists are the only persistent option there), PQ otherwise. There
    * is no Brute tier: a caller building a named index has declared
    * probe-many intent, and an IVF fit over a small corpus is cheap.
    *
    * Materializes the family's tables plus `<name>_meta`, and returns
    * the resolved [[Plan]] for logging/spec purposes. `statsHint` ≥ 0
    * skips the planning count scan, as in [[topK]].
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, name: String,
      memoryBudgetBytes: Long = Long.MaxValue, seed: Long = 42L,
      statsHint: Long = -1L): Plan = {
    val spark = corpus.sparkSession
    val n = if (statsHint >= 0L) statsHint else corpus.count()
    val dim = dimOrFail(corpus, vecCol, "build")
    val nlist = nlistFor(n)
    val nprobe = math.min(nlist, math.max(4, nlist / 4))
    val m = pqMFor(dim)
    val fits = n * dim.toLong * 8L <= memoryBudgetBytes
    val plan =
      if (fits)
        Plan(Ivf, nlist = nlist, nprobe = nprobe,
          reason = "persistent: vectors fit budget — IVF lists")
      else if (m > 0)
        Plan(Pq, m = m, ks = 16, overfetch = 16,
          reason = "persistent: vectors exceed budget — PQ codes")
      else
        Plan(Ivf, nlist = nlist, nprobe = nprobe,
          reason = s"persistent: vectors exceed budget but dim=$dim has " +
            "no PQ divisor — IVF is the only persistent family")
    plan.family match {
      case Ivf =>
        IvfIndex.build(corpus, idCol, vecCol, name,
          nlist = plan.nlist, seed = seed)
      case Pq =>
        PqIndex.build(corpus, idCol, vecCol, name,
          m = plan.m, ks = plan.ks, seed = seed)
      case _ => // unreachable by construction
    }
    import spark.implicits._
    meta(name).model("meta", Seq((familyTag(plan.family), plan.nlist,
        plan.nprobe, plan.m, plan.ks, plan.overfetch))
      .toDF("family", "nlist", "nprobe", "m", "ks", "overfetch"))
    plan
  }

  /** Reload the resolved plan a [[build]] recorded under `name`. */
  def planOf(spark: SparkSession, name: String): Plan = {
    val table = meta(name).table("meta")
    val r = spark.table(table).head()
    val f = r.getString(0) match {
      case "ivf" => Ivf
      case "pq" => Pq
      case other => throw new IllegalStateException(
        s"AnnIndex: unknown family '$other' in $table")
    }
    Plan(f, nlist = r.getInt(1), nprobe = r.getInt(2),
      m = r.getInt(3), ks = r.getInt(4), overfetch = r.getInt(5),
      reason = s"loaded from $table")
  }

  /** Probe a [[build]]-persisted index by name: dispatches on the
    * recorded family with the recorded parameters — the probe-many
    * half of the lifecycle, no count scan, no retraining. Same
    * (query_id, neighbor_id, rank, cos_sim) contract as [[topK]].
    */
  def probe(spark: SparkSession, name: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    val plan = planOf(spark, name)
    plan.family match {
      case Ivf => IvfIndex.probe(spark, name, queries, qIdCol, qVecCol,
        k, nprobe = plan.nprobe)
      case Pq => PqIndex.probe(spark, name, queries, qIdCol, qVecCol,
        k, overfetch = plan.overfetch)
      case _ => throw new IllegalStateException("unreachable")
    }
  }

  /** Fold new vectors into the named index under its FROZEN quantizer
    * (assign to centroids / encode against codebooks) — O(batch),
    * nothing existing re-read; the standard FAISS add-after-train
    * ingest path. Re-leveling after drift is the underlying object's
    * `rebuild`.
    */
  def refresh(newVecs: DataFrame, idCol: String, vecCol: String,
      name: String): Unit =
    planOf(newVecs.sparkSession, name).family match {
      case Ivf => IvfIndex.refresh(newVecs, idCol, vecCol, name)
      case Pq => PqIndex.refresh(newVecs, idCol, vecCol, name)
      case _ => throw new IllegalStateException("unreachable")
    }

  /** Drop the named index: the family's tables plus the meta row. */
  def dropIndex(spark: SparkSession, name: String): Unit = {
    IvfIndex.drop(spark, name)
    PqIndex.drop(spark, name)
    meta(name).drop(spark)
  }
}
