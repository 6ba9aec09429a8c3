package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup.cosine

/** Approximate-nearest-neighbor search over an embedding column
  * (BASELINE north-star).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — a broadcast of the query
  *    set against the corpus scan (queries are small; the corpus never
  *    shuffles). O(|corpus|·|queries|·d) flops but embarrassingly
  *    parallel and the right baseline/verifier at any scale.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus is bucketed by
  *    signature bands; only same-bucket candidates are scored. The scale
  *    path: shuffle keys are short band hashes, never vectors-× -vectors.
  *
  * Hyperplanes are deterministic functions of (table, plane, dim, seed)
  * via xxhash64→Box-Muller, so signatures are reproducible across runs
  * and cluster sizes with no driver-side randomness.
  */
object Ann {

  /** KMeans training budget per centroid for the AUTO sample rule —
    * the FAISS practice band (its docs recommend 30–256 training
    * points per centroid: fewer under-determines the centroid, more
    * buys fit cost, not quality). 256 is the quality end of the band.
    */
  val TrainRowsPerCentroid: Int = 256

  /** The AUTO `trainSampleFraction` for an `n`-row corpus and `nlist`
    * centroids: sample so the quantizer fit sees at most
    * ~[[TrainRowsPerCentroid]]·nlist rows. At small n the fraction is
    * 1.0 (train on everything); at 100× corpus growth the KMeans input
    * stays constant-sized while assignment — the one pass that must
    * touch every row — still covers the full corpus.
    */
  def boundedTrainFraction(n: Long, nlist: Int): Double =
    if (n <= 0) 1.0
    else math.min(1.0, (TrainRowsPerCentroid.toLong * nlist).toDouble / n)

  private[similarity] def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Replace column `v` with its L2-normalized form (zero vectors pass
    * through). The norm is staged as its own projection so the
    * per-element division sees an attribute (see the HOF performance
    * invariant in graft.dedup.Dedup).
    */
  private[similarity] def normalized(df: DataFrame): DataFrame =
    df.withColumn("__nrm",
      sqrt(graft.functions.VectorExpressions.dot(col("v"), col("v"))))
      .withColumn("v",
        when(col("__nrm") > 0, transform(col("v"), x => x / col("__nrm")))
          .otherwise(col("v")))
      .drop("__nrm")

  /** Exact cosine top-k for each query vector. Output:
    * (query_id, neighbor_id, rank, cos_sim) with rank 1..k.
    */
  def bruteForceTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(qIdCol).as("query_id"), asDouble(col(qVecCol)).as("qv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", cosine(col("cv"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Deterministic N(0,1) hyperplane weight for (table, plane, dim). */
  private def gauss(table: Int, plane: Column, dim: Column, seed: Long): Column = {
    val u1 = greatest(
      xxhash64(lit(table), plane, dim, lit(seed)).cast("double") /
        lit(1.8446744073709552e19) + lit(0.5), lit(1e-12))
    val u2 = xxhash64(lit(table), plane, dim, lit(seed + 1)).cast("double") /
      lit(1.8446744073709552e19) + lit(0.5)
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  /** Random-hyperplane signature for one table: `planes` sign bits packed
    * into a long. bit_p = sign(Σ_d v[d] · w(table,p,d)).
    */
  def rhpSignature(vec: Column, table: Int, planes: Int, seed: Long): Column = {
    val bits = transform(sequence(lit(0), lit(planes - 1)), p => {
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x * gauss(table, p, d, seed)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L)).otherwise(lit(0L))
    })
    aggregate(
      zip_with(bits, sequence(lit(0), lit(planes - 1)),
        (b, p) => call_function("shiftleft", b, p)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** (id, table, bucket) relation: `tables` independent hash tables of
    * `planes`-bit buckets — the shared bucketing primitive for ANN and
    * embedding near-dup at scale.
    */
  def lshBuckets(
      embs: DataFrame, idCol: String, vecCol: String,
      tables: Int = 8, planes: Int = 12, seed: Long = 42L): DataFrame = {
    val e = embs.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    e.select(col("id"), col("v"),
      posexplode(array((0 until tables).map(t =>
        rhpSignature(col("v"), t, planes, seed)): _*)).as(Seq("table", "bucket")))
  }

  /** LSH-bucketed ANN: candidates share a bucket in ≥1 table; exact
    * cosine + top-k within candidates. Recall is tunable via
    * (tables, planes); candidates-per-query is the cost knob.
    */
  def lshTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, tables: Int = 8, planes: Int = 12, seed: Long = 42L): DataFrame = {
    val cb = lshBuckets(corpus, idCol, vecCol, tables, planes, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qb = lshBuckets(queries, qIdCol, qVecCol, tables, planes, seed)
      .withColumnRenamed("id", "query_id").withColumnRenamed("v", "qv")
    val candidates = cb.join(qb, Seq("table", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("id").as("neighbor_id"), col("v"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val out = candidates
      .withColumn("cos_sim", cosine(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos_sim"), 4).as("cos_sim"))
      // eager PERSIST (not localCheckpoint: checkpoint-backed frames can
      // never release their blocks — unpersist is a no-op on them, so
      // each call would leak a result-sized block set for the session's
      // life). The count materializes the result so the bucket cache can
      // be dropped now; callers release with out.unpersist(). A lost
      // partition recomputes through the full (uncached) plan — slower,
      // still correct.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    cb.unpersist()
    out
  }

  // ----- hash-gateable fixed twins ----------------------------------
  //
  // The trained/float ANN paths (lshTopK's Box-Muller hyperplanes,
  // ivfTopK/pqTopK's KMeans) are rows-only by construction: libm trig
  // and training trajectories don't replay across engines. These twins
  // replace every non-replayable ingredient with one that does —
  //   * hyperplanes: ±1 Rademacher signs from xxhash64 over "t:p:d"
  //     (bit 0) instead of Box-Muller gaussians;
  //   * centroids/codebooks: caller-supplied frozen vectors (the
  //     q121b precedent: the first-N corpus embeddings) instead of
  //     KMeans iterates;
  //   * all distance/score arithmetic: exact integer sums over
  //     1e-6-fixed-pointed L2-normalized vectors, or left-associative
  //     double chains (correctly-rounded IEEE ops in a fixed order
  //     replay bit-identically — the clusterBalancedSampleFixed
  //     argument);
  // so the full top-k output is a pure function both engines reproduce
  // (DuckDB replay: graft.oracle.AnnOracles). Semantics and plan shape
  // (bucketed candidate join / probed inverted lists / ADC lookups)
  // are unchanged — these are production operators for deployments
  // that freeze their quantizers, not test scaffolding.

  /** ±1 hyperplane component for (table, plane, dim) — driver-side
    * eval of Spark's own xxhash64 ([[graft.functions.HashUtil]]), the
    * SAME hash the engine expressions and the DuckDB oracle speak.
    */
  private[graft] def radSign(t: Int, p: Int, d: Int): Long =
    if ((graft.functions.HashUtil.xxh64String(s"$t:$p:$d") & 1L) == 0L) 1L
    else -1L

  /** L2-normalize (left-assoc double fold — exact) then fix-point at
    * 1e-6: the integer form every fixed twin scores with. Zero vectors
    * pass through unnormalized, as in [[normalized]]. Codegen loops
    * ([[graft.functions.FixedAnnExpressions]]) — the HOF form was
    * interpreted per element.
    */
  private def fixedUnitVector(vecCol: Column): Column =
    graft.functions.FixedAnnExpressions.fixedPoint(
      graft.functions.FixedAnnExpressions.unitVec(vecCol))

  /** (id, vf, table, bucket) rows under the fixed Rademacher planes:
    * bucket bit p of table t = sign of the integer projection onto
    * plane (t, p). Same banded shuffle shape as [[lshBuckets]]. All
    * `tables` buckets come from ONE codegen'd loop expression — the
    * per-plane `aggregate(zip_with(...))` form was 128 interpreted
    * folds per row and its unrolled sibling blew Janino's 64 KB limit.
    */
  private def fixedBuckets(df: DataFrame, idCol: String, vecCol: String,
      tables: Int, planes: Int, dim: Int): DataFrame =
    df.select(col(idCol).as("id"), fixedUnitVector(col(vecCol)).as("vf"))
      .select(col("id"), col("vf"),
        posexplode(graft.functions.FixedAnnExpressions
          .rademacherBuckets(col("vf"), tables, planes, dim))
          .as(Seq("table", "bucket")))

  /** Exact integer dot of two fixed-point vectors (codegen loop). */
  private[similarity] def dotFp(a: Column, b: Column): Column =
    graft.functions.FixedAnnExpressions.longDot(a, b)

  /** (id, uv): the exact left-fold L2 normalization every fixed twin
    * and frozen index lifecycle shares (zero vectors pass through).
    */
  private[similarity] def unitized(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.FixedAnnExpressions.unitVec(col(vecCol)).as("uv"))

  /** 1e-6 fixed-point of a double array column. */
  private[similarity] def fp(c: Column): Column =
    graft.functions.FixedAnnExpressions.fixedPoint(c)

  /** (neighbor_id, vf, list_id): corpus rows unitized, fixed-pointed
    * and assigned to their nearest frozen centroid — the relation both
    * [[ivfTopKFixed]] and [[IvfIndex.buildFixed]]/`refreshFixed`
    * materialize.
    */
  private[similarity] def fixedAssigned(df: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]]): DataFrame =
    unitized(df, idCol, vecCol)
      .select(col("id").as("neighbor_id"), fp(col("uv")).as("vf"),
        graft.pipeline.Curation.assignFixedCentroids(col("uv"), centroids)
          .as("list_id"))

  /** Probe a (neighbor_id, vf, list_id) lists relation: each query
    * ranks all centroids by the exact d² chain (asc, list id asc),
    * probes its `nprobe` nearest lists, and ranks them by exact
    * integer dot. Lazy — shared by [[ivfTopKFixed]] and
    * [[IvfIndex.probeFixed]].
    */
  private[similarity] def probeFixedLists(lists: DataFrame,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      centroids: Seq[Seq[Double]], k: Int, nprobe: Int): DataFrame = {
    // d² to every centroid from ONE codegen loop ([[FixedAnnExpressions
    // .centroidD2]] — the unrolled per-centroid chains blew Janino's
    // 64 KB limit), materialized once as __d2 so the struct array
    // below is |centroids| cheap element_at reads, not k re-computes
    val dists = centroids.indices.map { i =>
      struct(element_at(col("__d2"), i + 1).as("d2"),
        lit(i.toLong).as("list_id"))
    }
    val probed = unitized(queries, qIdCol, qVecCol)
      .select(col("id"), col("uv"),
        graft.functions.FixedAnnExpressions.centroidD2(col("uv"), centroids)
          .as("__d2"))
      .select(col("id").as("query_id"), fp(col("uv")).as("qf"),
        posexplode(slice(array_sort(array(dists: _*)), 1, nprobe))
          .as(Seq("__p", "pl")))
      .select(col("query_id"), col("qf"), col("pl.list_id").as("list_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("neighbor_id"))
    lists.join(broadcast(probed), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score_fp", dotFp(col("vf"), col("qf")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score_fp"))
  }

  /** PQ encode expression over the `uv` unit-vector column: per
    * subspace j the code is the first-minimum of the ks
    * squared-distance chains over dims [j·dsub, (j+1)·dsub).
    */
  private[similarity] def pqCodesFixed(
      codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.FixedAnnExpressions.pqCodes(col("uv"), codebooks)

  /** ADC table expression over the query's `uv` column: fixed-point
    * dot of each subvector with every codeword, m·ks longs — one
    * codegen loop (the unrolled per-codeword chains blew Janino's
    * 64 KB limit).
    */
  private[similarity] def pqQTableFixed(
      codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.FixedAnnExpressions.pqQTable(col("uv"), codebooks)

  /** Score every (neighbor_id, codes) row against the broadcast
    * (query_id, qtable) queries and rank top-k by the exact integer
    * ADC sum. Lazy — shared by [[pqTopKFixed]] and
    * [[PqIndex.probeFixed]].
    */
  private[similarity] def pqProbeCodes(codes: DataFrame, q: DataFrame,
      k: Int, m: Int, ks: Int): DataFrame = {
    val score = (0 until m).map { j =>
      element_at(col("qtable"),
        (lit(j * ks) + element_at(col("codes"), j + 1) + 1L).cast("int"))
    }.reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("neighbor_id"))
    codes.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("score_fp", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score_fp"))
  }

  /** Hash-gateable LSH ANN: candidates share a Rademacher-plane bucket
    * in ≥1 of `tables` tables; ranked by exact integer dot of the
    * fixed-point unit vectors. Output (query_id, neighbor_id, rank,
    * score_fp) — score_fp/1e12 ≈ cosine.
    */
  def lshTopKFixed(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, tables: Int = 32, planes: Int = 4, dim: Int = 64): DataFrame = {
    val cb = fixedBuckets(corpus, idCol, vecCol, tables, planes, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qb = fixedBuckets(queries, qIdCol, qVecCol, tables, planes, dim)
      .withColumnRenamed("id", "query_id").withColumnRenamed("vf", "qf")
    val candidates = cb.join(qb, Seq("table", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qf"), col("id").as("neighbor_id"), col("vf"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("neighbor_id"))
    val out = candidates
      .withColumn("score_fp", dotFp(col("vf"), col("qf")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score_fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    cb.unpersist()
    out
  }

  /** Hash-gateable k-NN GRAPH under frozen centroids: every vector's
    * top-`k` neighbors WITHIN its assigned list, ranked by exact
    * integer dot (desc, neighbor id asc) — the graph-construction
    * primitive graph-based ANN bootstraps, agglomerative semantic
    * clustering and kNN-density scoring consume. Assignment is the
    * IVF family's unit-space d² kernel ([[fixedAssigned]]); the
    * candidate join is keyed by list, so the volume is Σ|list|² (the
    * SemDeDup bound, never N²) and per-node top-k is a
    * WindowGroupLimit (rank pruned map-side before the final sort).
    * List −1 (null/short) vectors have no neighbors and emit no rows.
    * Edges are DIRECTED: x→y ranks y among x's list-mates; the
    * undirected union is a caller-side `unionByName(swap)`. At 100 TB
    * the recall/cost knob is |centroids| — finer lists cut the
    * quadratic term exactly as in [[ivfTopKFixed]] — and lists beyond
    * `maxListSize` sub-partition under the Rademacher guard
    * ([[knnGraphCore]]; never trips at the default cap, so the q172
    * hash gate replays the exact unguarded path). The TRAINED
    * production twin is [[knnGraph]].
    */
  def knnGraphFixed(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, centroids: Seq[Seq[Double]],
      maxListSize: Long = 1L << 20, subPlanes: Int = 6,
      dim: Int = 64): DataFrame =
    knnGraphCore(
      fixedAssigned(corpus, idCol, vecCol, centroids)
        .filter(col("list_id") >= 0),
      k, maxListSize, subPlanes, dim, dedupPairs = false)

  /** The guarded within-list pair join both graph builders share:
    * candidate pairs are keyed (list_id, sub) where `sub` is 0 for
    * lists within `maxListSize` and a frozen Rademacher LSH bucket
    * beyond it (the [[graft.pipeline.Curation]] semanticCandidatePairs
    * mega-cluster guard — the biggest block becomes
    * ~|list|/2^`subPlanes`, and sub-bucketing can only MISS
    * cross-bucket pairs, so every emitted edge is still a true
    * same-list neighbor). `dedupPairs` collapses the duplicate
    * (vec_id, neighbor_id) rows a multi-assignment produces before
    * ranking — single-assignment callers skip the extra shuffle. The
    * list-size relation broadcast is |lists| rows, artifact-sized.
    */
  private[similarity] def knnGraphCore(assigned: DataFrame, k: Int,
      maxListSize: Long, subPlanes: Int, dim: Int,
      dedupPairs: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxListSize >= 1, s"maxListSize must be >= 1, got $maxListSize")
    val F = graft.functions.FixedAnnExpressions
    val a = assigned
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = a.groupBy("list_id").agg(count(lit(1)).as("__n"))
      val keyed = a.join(broadcast(sizes), Seq("list_id"))
        .withColumn("sub",
          when(col("__n") > maxListSize,
            element_at(F.rademacherBuckets(col("vf"), 1, subPlanes, dim), 1))
            .otherwise(lit(0L)))
      val l = keyed.select(col("list_id"), col("sub"),
        col("neighbor_id").as("vec_id"), col("vf").as("va"))
      val r = keyed.select(col("list_id"), col("sub"), col("neighbor_id"),
        col("vf"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("score_fp").desc, col("neighbor_id"))
      val cand0 = l.join(r, Seq("list_id", "sub"))
        .filter(col("vec_id") =!= col("neighbor_id"))
        .withColumn("score_fp", dotFp(col("va"), col("vf")))
        .select(col("vec_id"), col("neighbor_id"), col("score_fp"))
      val cand = if (dedupPairs)
        cand0.dropDuplicates("vec_id", "neighbor_id") else cand0
      val out = cand
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("vec_id"), col("neighbor_id"), col("score_fp"),
          col("rank"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    } finally a.unpersist()
  }

  /** One NN-DESCENT refinement round (Dong et al. 2011, "Efficient
    * k-nearest neighbor graph construction for generic similarity
    * measures") over a directed k-NN graph: the local-join step —
    * any two members of some node's (undirected) neighborhood are
    * candidate neighbors of each other — scored by exact integer dot
    * and merged with the current edges into a fresh per-node top-`k`.
    * The principle: a neighbor's neighbor is likely a neighbor, so
    * each round recovers true edges a list-bounded builder
    * ([[knnGraphFixed]]/[[knnGraph]]) missed across list boundaries.
    * Deterministic end to end (no RNG, integer scoring, fixed
    * tie-breaks) — the whole refined graph hash-gates (q196).
    *
    * Scale shape: the undirected adjacency is ≤2·|edges| rows; each
    * middle node's member list is CAPPED at `maxDegree` (best-scored
    * first — NN-descent's sample-rate ρ as a deterministic rank), so
    * the local join's volume is Σ min(deg, maxDegree)² — hub nodes
    * (high in-degree under a popular-neighbor graph) cannot go
    * quadratic. Candidate scoring joins the (id, vf) relation twice
    * on id — shuffles are candidate-sized, the corpus relation never
    * fans out. Run 1–3 rounds; returns lazy (callers persist, the
    * knnGraphCore contract applies to [[knnGraph]]'s refined output).
    *
    * @param graph   (vec_id, neighbor_id, score_fp, ...) directed
    *                edges — [[knnGraphFixed]]'s output shape
    * @param vectors (id, vf) from [[fixedUnitVectors]]
    */
  def nnDescentRound(graph: DataFrame, vectors: DataFrame, k: Int,
      maxDegree: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDegree >= 1, s"maxDegree must be >= 1, got $maxDegree")
    val e = graph.select(col("vec_id"), col("neighbor_id"), col("score_fp"))
    // undirected adjacency: the dot is symmetric, so the swapped edge
    // carries the same score and the pair-dedup keeps either copy.
    // r18 (guide §2.4): each "dropDuplicates(vec_id, neighbor_id) →
    // window over vec_id" pair used to cost TWO exchanges; one
    // repartition on vec_id satisfies both (the dedup becomes a
    // local group-by — duplicate rows carry identical scores, so
    // max() keeps the same value — and the rank window sorts in
    // place), halving the per-round edge-relation shuffles.
    val und = e.unionByName(e.select(col("neighbor_id").as("vec_id"),
        col("vec_id").as("neighbor_id"), col("score_fp")))
      .repartition(col("vec_id"))
      .groupBy(col("vec_id"), col("neighbor_id"))
      .agg(max(col("score_fp")).as("score_fp"))
    val wCap = Window.partitionBy(col("vec_id"))
      .orderBy(col("score_fp").desc, col("neighbor_id"))
    val capped = und.withColumn("__rn", row_number().over(wCap))
      .filter(col("__rn") <= maxDegree)
      .select(col("vec_id").as("mid"), col("neighbor_id").as("member"))
    // the local join: co-members of a neighborhood become candidates.
    // r19 (guide §2.4): key the dedup's exchange on vec_id — hash
    // partitioning on a SUBSET of the dedup keys satisfies its
    // clustering requirement, the dedup itself becomes a local agg,
    // and the scoring join on vec_id below reuses the partitioning
    // instead of exchanging the candidate relation (the round's
    // largest) a second time when the vector joins shuffle.
    val cand = capped.join(
      capped.select(col("mid"), col("member").as("other")), Seq("mid"))
      .filter(col("member") =!= col("other"))
      .select(col("member").as("vec_id"), col("other").as("neighbor_id"))
      .repartition(col("vec_id"))
      .dropDuplicates("vec_id", "neighbor_id")
    val v = vectors.select(col("id"), col("vf"))
    val scored = cand
      .join(v.select(col("id").as("vec_id"), col("vf").as("va")),
        Seq("vec_id"))
      .join(v.select(col("id").as("neighbor_id"), col("vf")),
        Seq("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        dotFp(col("va"), col("vf")).as("score_fp"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score_fp").desc, col("neighbor_id"))
    // merge re-rank: candidate scores and current edges agree exactly
    // where they overlap (same integer dot), so the grouped max is
    // byte-identical to the old dropDuplicates — one vec_id exchange
    // instead of the dedup + window pair
    scored.unionByName(e)
      .repartition(col("vec_id"))
      .groupBy(col("vec_id"), col("neighbor_id"))
      .agg(max(col("score_fp")).as("score_fp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("score_fp"),
        col("rank"))
  }

  /** (neighbor_id, vf, list_id) under MULTI-assignment: every vector
    * lands in its `nassign` nearest frozen centroids' lists (the
    * spill-assignment idea of spill trees / multi-probe clustering) —
    * the same centroidD2 + sort + slice kernel as
    * [[probeFixedLists]]'s query probing, applied to the corpus side.
    * Null/short vectors get no lists and emit no rows.
    */
  private[similarity] def fixedAssignedMulti(df: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]],
      nassign: Int): DataFrame = {
    val dists = centroids.indices.map { i =>
      struct(element_at(col("__d2"), i + 1).as("d2"),
        lit(i.toLong).as("list_id"))
    }
    unitized(df, idCol, vecCol)
      .filter(col("uv").isNotNull)
      .select(col("id").as("neighbor_id"), fp(col("uv")).as("vf"),
        graft.functions.FixedAnnExpressions.centroidD2(col("uv"), centroids)
          .as("__d2"))
      .select(col("neighbor_id"), col("vf"),
        explode(slice(array_sort(array(dists: _*)), 1, nassign)).as("pl"))
      .select(col("neighbor_id"), col("vf"), col("pl.list_id").as("list_id"))
  }

  /** PRODUCTION k-NN graph builder — the trained, list-size-bounded
    * twin of [[knnGraphFixed]] (which needs caller-frozen centroids
    * and compares within ONE list per node). Three scale moves over
    * the fixed form:
    *
    *  1. Centroids TRAIN here: KMeans over a bounded sample
    *     ([[boundedTrainFraction]] — the FAISS rule, constant fit
    *     input at any corpus size), seeded and deterministic given
    *     the sample.
    *  2. MULTI-assignment ([[fixedAssignedMulti]]): each vector joins
    *     its `nassign` nearest lists, so two true neighbors that a
    *     single hard assignment would split across a list boundary
    *     still meet in some shared list — the recall knob that makes
    *     within-list construction viable on weak-structure data
    *     (recall-specced ≥0.9 at sf0.1). Candidate volume is
    *     Σ|list|² over the inflated lists (≈ nassign² × the hard
    *     assignment's bound) — still never N².
    *  3. The oversized-list Rademacher sub-bucket guard
    *     ([[knnGraphCore]]): a mega-list (boilerplate cloud) is
    *     sub-partitioned so the pair join's biggest block is
    *     ~|list|/2^`subPlanes`, the q45/SemDeDup skew discipline.
    *
    * Output = [[knnGraphFixed]]'s shape: DIRECTED (vec_id,
    * neighbor_id, score_fp, rank 1..k) edges, exact integer dot
    * ranking, duplicate pairs from overlapping lists collapsed before
    * ranking. Consumers ([[knnDensity]], D4 selection,
    * [[beamSearchFixed]]) take it unchanged. Hash-gating stays with
    * the fixed twin (q172) — KMeans training is float/RNG, so this
    * path is rows-only, the q121 clusterBalancedSample precedent.
    *
    * `refineRounds` > 0 applies that many [[nnDescentRound]] passes —
    * the NN-descent local join recovers cross-list true edges the
    * within-list candidate join cannot see, at Σ min(deg,
    * `maxDegree`)² candidate cost per round.
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nassign: Int = 3, seed: Long = 42L,
      trainSampleFraction: Double = -1.0, maxListSize: Long = 1L << 20,
      subPlanes: Int = 6, dim: Int = 64, refineRounds: Int = 0,
      maxDegree: Int = 64): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(nassign >= 1 && nassign <= nlist,
      s"nassign must be in [1, nlist=$nlist], got $nassign")
    require(refineRounds >= 0, s"refineRounds must be >= 0, got $refineRounds")
    val c = normalized(corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("v")))
      .withColumn("fv", array_to_vector(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = try {
      val frac =
        if (trainSampleFraction < 0) boundedTrainFraction(c.count(), nlist)
        else trainSampleFraction
      val trainSet =
        if (frac >= 1.0) c
        else c.sample(withReplacement = false, frac, seed)
      new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("fv")
        .setPredictionCol("__l").fit(trainSet)
        .clusterCenters.map(_.toArray.toSeq).toSeq
    } finally c.unpersist()
    val base = knnGraphCore(
      fixedAssignedMulti(corpus, idCol, vecCol, centroids, nassign),
      k, maxListSize, subPlanes, dim, dedupPairs = true)
    if (refineRounds == 0) base
    else {
      // NN-descent rounds recover cross-list edges the list-bounded
      // candidate join missed; each round's result re-persists and
      // the previous generation releases (base included)
      val vecs = fixedUnitVectors(corpus, idCol, vecCol)
      var cur = base
      for (_ <- 1 to refineRounds) {
        val next = nnDescentRound(cur, vecs, k, maxDegree)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count()
        cur.unpersist()
        cur = next
      }
      cur
    }
  }

  /** Fixed-point unit vectors `(id, vf)` — the similarity-space
    * relation [[mmrRerank]] and caller-side compositions join against.
    */
  def fixedUnitVectors(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    unitized(df, idCol, vecCol).select(col("id"), fp(col("uv")).as("vf"))

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998) in the fixed hash-gateable form — the diversification pass
    * a RAG retrieval stack runs over its shortlist: pick the most
    * relevant candidate, then repeatedly the one maximizing
    * λ·relevance − (1−λ)·max-similarity-to-picked. All integer: λ is
    * the rational `lambdaNum/lambdaDen` and scores are compared as
    * `lambdaNum·rel_fp − (lambdaDen−lambdaNum)·maxsim_fp` (same
    * ordering, scaled by lambdaDen; ties break on neighbor id asc).
    *
    * `candidates`: (query_id, neighbor_id, score_fp) — a shortlist
    * per query ([[lshTopKFixed]]'s output shape). `vectors`: (id, vf)
    * from [[fixedUnitVectors]]. Returns (query_id, neighbor_id,
    * mmr_rank 1..k).
    *
    * Scale shape: `k` sequential distributed steps (inherent to MMR's
    * argmax dependency, the Bpe.train discipline) over a
    * shortlist-sized relation — per-query cost k·|shortlist|·|picked|
    * dots; the corpus is never touched after candidate generation.
    * Selected-set state checkpoints per step to cut lineage, and each
    * generation is RELEASED once the next materializes (the hitsFixed
    * discipline) — only the final selection's blocks survive the call,
    * released when the caller drops the returned frame's cache.
    */
  def mmrRerank(candidates: DataFrame, vectors: DataFrame, k: Int,
      lambdaNum: Long = 1L, lambdaDen: Long = 2L): DataFrame = {
    import org.apache.spark.sql.graftbridge.DatasetBridge
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda must be a fraction in [0,1]: $lambdaNum/$lambdaDen")
    val lamM = lambdaDen - lambdaNum
    val candCp = DatasetBridge.localCheckpointFresh(
      candidates.select(col("query_id"), col("neighbor_id"),
        col("score_fp").as("rel_fp"))
        .join(vectors.withColumnRenamed("id", "neighbor_id"),
          Seq("neighbor_id")))
    var selCp: DatasetBridge.FreshCheckpoint = null
    try {
      val cand = candCp.df
      val wRel = Window.partitionBy(col("query_id"))
        .orderBy(col("rel_fp").desc, col("neighbor_id"))
      selCp = DatasetBridge.localCheckpointFresh(cand
        .withColumn("rn", row_number().over(wRel)).filter(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("vf"),
          lit(1).as("mmr_rank")))
      var step = 2
      while (step <= k) {
        val selected = selCp.df
        val remaining = cand.join(
          selected.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        val ms = remaining.select(col("query_id"), col("neighbor_id"),
          col("vf"))
          .join(selected.select(col("query_id"), col("vf").as("svf")),
            Seq("query_id"))
          .groupBy(col("query_id"), col("neighbor_id"))
          .agg(max(dotFp(col("vf"), col("svf"))).as("ms_fp"))
        val wMmr = Window.partitionBy(col("query_id"))
          .orderBy(col("mmr_fp").desc, col("neighbor_id"))
        val pick = remaining.join(ms, Seq("query_id", "neighbor_id"))
          .withColumn("mmr_fp",
            lit(lambdaNum) * col("rel_fp") - lit(lamM) * col("ms_fp"))
          .withColumn("rn", row_number().over(wMmr))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("neighbor_id"), col("vf"),
            lit(step).as("mmr_rank"))
        val next = DatasetBridge.localCheckpointFresh(
          selected.unionByName(pick))
        selCp.release()
        selCp = next
        step += 1
      }
      selCp.df.select(col("query_id"), col("neighbor_id"), col("mmr_rank"))
    } catch { case t: Throwable =>
      if (selCp != null) selCp.release()
      throw t
    } finally candCp.release()
  }

  /** Graph-ANN beam search over a k-NN graph — the greedy best-first
    * probe of NSW/HNSW-class indexes (Malkov & Yashunin 2018's layer-0
    * walk), in the fixed hash-gateable form: start from `entryIds`
    * scored against each query, then `steps` times expand the current
    * frontier's graph neighbors, keep the `beam` best UNSEEN nodes per
    * query (exact integer dot, desc / node-id-asc tie-break), and
    * finally rank everything visited top-`k`. Deterministic end to
    * end — assignment-free, no RNG, no float accumulation — so the
    * whole result replays as `steps` unrolled SQL rounds (q184, the
    * q175 unrolled-loop oracle pattern).
    *
    * The graph is the caller's ([[knnGraphFixed]] gives within-list
    * edges — search then explores each entry's list; union in
    * long-range/cross-list edges for NSW-style reach: search semantics
    * are graph-agnostic). Self-matches are excluded when query and
    * node ids share a type (queries drawn from the corpus retrieve
    * neighbors, not themselves; disjoint external id spaces make the
    * filter inert — and on MISMATCHED types it is skipped entirely,
    * the bm25TopK cross-type null-comparison contract).
    *
    * Scale shape: per step, the frontier (|queries|·beam rows) joins
    * the graph on the node key and the resulting candidate set
    * (≤ |queries|·beam·kGraph rows) is BROADCAST into the corpus-sized
    * vector relation for scoring — the corpus is never shuffled, and
    * each step's shuffle is candidate-sized. State (visited) is
    * |queries|·(entries + beam·steps) rows, localCheckpointed per
    * generation (the mmrRerank loop-lineage rule). Total vector-scan
    * work is `steps` broadcast probes — the whole point vs exhaustive
    * scoring.
    */
  def beamSearchFixed(graph: DataFrame, vectors: DataFrame,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      entryIds: Seq[Long], beam: Int, steps: Int, k: Int): DataFrame = {
    require(entryIds.nonEmpty, "need at least one entry node")
    require(beam >= 1, s"beam must be >= 1, got $beam")
    require(steps >= 0, s"steps must be >= 0, got $steps")
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.graftbridge.DatasetBridge
    val sameIdType =
      queries.schema(qIdCol).dataType == vectors.schema("id").dataType
    def noSelf(df: DataFrame): DataFrame =
      if (sameIdType) df.filter(col("node") =!= col("query_id")) else df
    // the edge relation feeds every step — materialize once, release
    // before returning (every step's expansion is re-checkpointed)
    val gCp = DatasetBridge.localCheckpointFresh(
      graph.select(col("vec_id"), col("neighbor_id")))
    // null frontier handle = frontier IS visited (step 0) — tracked
    // separately so each generation releases once the next
    // materializes (the hitsFixed discipline); without the releases,
    // 2·steps checkpoint generations accumulate per call. Both handles
    // start null and materialize INSIDE the try, so a failure during
    // the initial visited build still releases gCp in the finally.
    var visitedCp: DatasetBridge.FreshCheckpoint = null
    var frontierCp: DatasetBridge.FreshCheckpoint = null
    try {
      val q = fixedUnitVectors(queries, qIdCol, qVecCol)
        .select(col("id").as("query_id"), col("vf").as("qf"))
      val entries = vectors.filter(col("id").isin(entryIds: _*))
        .select(col("id").as("node"), col("vf"))
      visitedCp = DatasetBridge.localCheckpointFresh(
        noSelf(q.crossJoin(broadcast(entries)))
          .select(col("query_id"), col("qf"), col("node"),
            dotFp(col("vf"), col("qf")).as("score_fp")))
      val wBeam = Window.partitionBy(col("query_id"))
        .orderBy(col("score_fp").desc, col("node"))
      for (_ <- 1 to steps) {
        val frontier = if (frontierCp == null) visitedCp.df else frontierCp.df
        val expand = noSelf(frontier
          .select(col("query_id"), col("qf"), col("node").as("vec_id"))
          .join(gCp.df, Seq("vec_id"))
          .select(col("query_id"), col("qf"), col("neighbor_id").as("node"))
          .dropDuplicates("query_id", "node"))
          .join(visitedCp.df.select(col("query_id"), col("node")),
            Seq("query_id", "node"), "left_anti")
        // candidates are frontier-sized — broadcast them into the
        // corpus-sized vector relation, never the other way round
        val scored = vectors.withColumnRenamed("id", "node")
          .join(broadcast(expand), Seq("node"))
          .select(col("query_id"), col("qf"), col("node"),
            dotFp(col("vf"), col("qf")).as("score_fp"))
        val nextFrontier = DatasetBridge.localCheckpointFresh(
          scored.withColumn("__rn", row_number().over(wBeam))
            .filter(col("__rn") <= beam).drop("__rn"))
        if (frontierCp != null) frontierCp.release()
        frontierCp = nextFrontier
        val nextVisited = DatasetBridge.localCheckpointFresh(
          visitedCp.df.unionByName(frontierCp.df))
        visitedCp.release()
        visitedCp = nextVisited
      }
      val wK = Window.partitionBy(col("query_id"))
        .orderBy(col("score_fp").desc, col("node"))
      visitedCp.df.withColumn("rank", row_number().over(wK).cast("int"))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("node").as("neighbor_id"),
          col("rank"), col("score_fp"))
      // final visited stays checkpointed — it backs the returned frame
    } catch { case t: Throwable =>
      if (visitedCp != null) visitedCp.release()
      throw t
    } finally {
      gCp.release()
      if (frontierCp != null) frontierCp.release()
    }
  }

  /** Per-dimension SQ8 quantization bounds over the UNIT-space corpus
    * — ONE aggregate (2·dim min/max expressions in a single pass), a
    * 2·dim-double artifact (the centroids/codebook class: train once,
    * freeze, ship with the plan). Null/short vectors contribute
    * nothing.
    */
  def sq8Bounds(df: DataFrame, idCol: String, vecCol: String,
      dim: Int): (Seq[Double], Seq[Double]) = {
    require(dim > 0, s"dim must be positive, got $dim")
    val u = unitized(df, idCol, vecCol)
    val aggs = (0 until dim).flatMap { i =>
      Seq(min(element_at(col("uv"), i + 1)).as(s"mn$i"),
        max(element_at(col("uv"), i + 1)).as(s"mx$i"))
    }
    val row = u.agg(aggs.head, aggs.tail: _*).head()
    ((0 until dim).map(i => row.getDouble(2 * i)),
      (0 until dim).map(i => row.getDouble(2 * i + 1)))
  }

  /** SQ8 scalar-quantized ANN (the FAISS SQ8 storage path — the
    * 4×-smaller alternative to full floats when PQ's distortion is
    * too much): corpus unit vectors stored as per-dimension 8-bit
    * codes under FROZEN `(mins, maxs)` bounds
    * (`code = clamp(floor((x−mn)·255/(mx−mn)), 0, 255)`; a degenerate
    * dimension with mx = mn codes to 0 and dequantizes back to mn),
    * queries kept FULL precision (asymmetric scoring, the FAISS ADC
    * convention — halves the quantization noise for free). Scoring
    * dequantizes on the fly and folds the dot SEQUENTIALLY
    * ([[graft.functions.VectorExpressions.dot]] — the left-assoc
    * chain that replays bit-for-bit as DuckDB's list_reduce), then
    * fixed-points, so the ranking hash-gates (q190).
    *
    * Scale shape: the brute-scan verifier form — codes scanned once,
    * probe-sized queries broadcast, rank under the group-limit
    * window. The production path at corpus scale composes the same
    * codes with the IVF list tables (store codes in the lists; same
    * probe join, 4× less IO) — the scoring expression here is that
    * path's kernel.
    */
  def sq8TopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      mins: Seq[Double], maxs: Seq[Double]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(mins.nonEmpty && mins.size == maxs.size,
      s"bounds disagree: ${mins.size} mins vs ${maxs.size} maxs")
    val c = unitized(corpus, idCol, vecCol).filter(col("uv").isNotNull)
      .select(col("id").as("neighbor_id"),
        sq8Codes(col("uv"), mins, maxs).as("codes"))
    val q = unitized(queries, qIdCol, qVecCol).filter(col("uv").isNotNull)
      .select(col("id").as("query_id"), col("uv").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score_fp", sq8ScoreFp(col("qv"), col("codes"), mins, maxs))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("score_fp"))
  }

  /** Clamp-floor SQ8 codes of a unit vector under frozen bounds —
    * degenerate mx==mn dims code to 0. */
  private[similarity] def sq8Codes(uv: Column, mins: Seq[Double],
      maxs: Seq[Double]): Column = {
    val minsL = array(mins.map(lit): _*)
    val spansL = array(mins.indices.map(i => lit(maxs(i) - mins(i))): _*)
    transform(uv, (x, i) => {
      val mn = element_at(minsL, (i + 1).cast("int"))
      val sp = element_at(spansL, (i + 1).cast("int"))
      when(sp === 0.0, lit(0))
        .otherwise(least(lit(255.0), greatest(lit(0.0),
          floor((x - mn) * lit(255.0) / sp))).cast("int"))
    })
  }

  /** Asymmetric SQ8 score: full-precision query unit vector dotted
    * (sequential fold) against the on-the-fly dequantized codes, then
    * 1e12 fixed-point. */
  private[similarity] def sq8ScoreFp(qv: Column, codes: Column,
      mins: Seq[Double], maxs: Seq[Double]): Column = {
    val minsL = array(mins.map(lit): _*)
    val spansL = array(mins.indices.map(i => lit(maxs(i) - mins(i))): _*)
    val dequant = transform(codes, (c, i) =>
      element_at(minsL, (i + 1).cast("int"))
        + c.cast("double") * element_at(spansL, (i + 1).cast("int"))
          / lit(255.0))
    floor(graft.functions.VectorExpressions.dot(qv, dequant) * lit(1e12))
      .cast("long")
  }

  /** IVF-SQ8 — the production composition the SQ8 scaladoc promises
    * (FAISS `IVFxx,SQ8`): corpus codes stored IN the inverted lists
    * (4× less list IO than full floats), queries probing their
    * `nprobe` nearest frozen centroids and scoring only those lists
    * with the asymmetric dequant dot. Assignment/probing are the
    * ivfTopKFixed kernels (left-assoc d², first-minimum tie-break);
    * scoring is [[sq8ScoreFp]] — deterministic end to end, so the
    * result hash-gates (q191). Scale shape = ivfTopKFixed's: one
    * corpus assignment pass, broadcast probe-sized query relation,
    * ~nprobe/nlist of the lists scanned per query.
    */
  def ivfSq8TopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      centroids: Seq[Seq[Double]], nprobe: Int,
      mins: Seq[Double], maxs: Seq[Double]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe must be in [1, ${centroids.size}], got $nprobe")
    require(mins.nonEmpty && mins.size == maxs.size,
      s"bounds disagree: ${mins.size} mins vs ${maxs.size} maxs")
    val F = graft.functions.FixedAnnExpressions
    val lists = unitized(corpus, idCol, vecCol).filter(col("uv").isNotNull)
      .select(col("id").as("neighbor_id"),
        sq8Codes(col("uv"), mins, maxs).as("codes"),
        graft.pipeline.Curation.assignFixedCentroids(col("uv"), centroids)
          .as("list_id"))
    val dists = centroids.indices.map { i =>
      struct(element_at(col("__d2"), i + 1).as("d2"),
        lit(i.toLong).as("list_id"))
    }
    val probed = unitized(queries, qIdCol, qVecCol)
      .filter(col("uv").isNotNull)
      .select(col("id"), col("uv"),
        F.centroidD2(col("uv"), centroids).as("__d2"))
      .select(col("id").as("query_id"), col("uv").as("qv"),
        posexplode(slice(array_sort(array(dists: _*)), 1, nprobe))
          .as(Seq("__p", "pl")))
      .select(col("query_id"), col("qv"), col("pl.list_id").as("list_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("neighbor_id"))
    lists.join(broadcast(probed), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score_fp", sq8ScoreFp(col("qv"), col("codes"), mins, maxs))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("score_fp"))
  }

  /** Hard-negative mining for contrastive training (the in-batch /
    * ANN-mined negatives recipe of DPR, Karpukhin et al. 2020 §4.2,
    * and SimCSE-class embedding training): from an ANN `shortlist`
    * (any producer — [[lshTopKFixed]], [[ivfTopKFixed]],
    * [[beamSearchFixed]]: anything shaped (query_id, neighbor_id,
    * rank, score_fp)), remove each anchor's KNOWN POSITIVES and
    * re-rank what remains top-`k` — the nearest non-matches are
    * exactly the negatives a contrastive loss learns most from.
    *
    * Scale shape: the shortlist is |anchors|·shortlistK rows and the
    * positives relation is training-pairs-sized — both corpus-scale,
    * so the anti-join is an honest (query, neighbor)-keyed shuffle
    * join (no broadcast hint: Catalyst broadcasts a small positives
    * side on its own); the re-rank window is the shortlist's own
    * WindowGroupLimit shape. Mine with `shortlistK > k + max
    * positives per anchor` or depleted anchors return fewer than `k`
    * rows (honest — not padded).
    */
  def hardNegatives(shortlist: DataFrame, positives: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pos = positives
      .select(col("query_id"), col("neighbor_id")).distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("neighbor_id"))
    shortlist.select(col("query_id"), col("neighbor_id"), col("score_fp"))
      .join(pos, Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("score_fp"))
  }

  /** kNN-density scoring over the [[knnGraphFixed]] edges — the
    * D4-class prototypicality signal (Tirumala et al. 2023: prune
    * off-distribution points after semantic dedup): `density_fp` =
    * floor(mean of a node's top-k neighbor dots), exact integers so
    * the verdict hash-gates. Nodes BELOW `outlierBelowFp` are the
    * off-distribution candidates (gibberish, wrong-modality noise,
    * embedding failures); isolated vectors — list −1 or alone in
    * their list — emit NO row and need a caller policy (they are
    * "unknown", not "dense"). Runs on the graph relation, so the
    * corpus pays the Σ|list|² join once for both dedup candidates and
    * density.
    */
  def knnDensity(graph: DataFrame, outlierBelowFp: Long): DataFrame =
    graph.groupBy(col("vec_id"))
      .agg(floor(sum(col("score_fp")) / count(lit(1))).cast("long")
        .as("density_fp"))
      .withColumn("is_outlier", col("density_fp") < outlierBelowFp)

  /** Hash-gateable LSH near-dup pairs: (id_a < id_b) sharing a
    * Rademacher-plane bucket in ≥1 table with exact integer dot ≥
    * `thresholdFp` (score_fp/1e12 ≈ cosine — pass cos·1e12). The
    * fixed twin of [[graft.dedup.Dedup.embeddingPairsLsh]].
    */
  def embeddingPairsLshFixed(
      embs: DataFrame, idCol: String, vecCol: String,
      thresholdFp: Long, tables: Int = 32, planes: Int = 4,
      dim: Int = 64): DataFrame = {
    val b = fixedBuckets(embs, idCol, vecCol, tables, planes, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = b.select(col("table"), col("bucket"),
      col("id").as("id_a"), col("vf").as("va"))
    val r = b.select(col("table"), col("bucket"),
      col("id").as("id_b"), col("vf").as("vb"))
    val out = l.join(r, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("score_fp", dotFp(col("va"), col("vb")))
      .filter(col("score_fp") >= thresholdFp)
      .select(col("id_a"), col("id_b"), col("score_fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    b.unpersist()
    out
  }

  /** Hash-gateable IVF ANN under frozen centroids: corpus rows assign
    * to their nearest centroid by the left-assoc double chain
    * ([[graft.pipeline.Curation.assignFixedCentroids]] — first-minimum
    * tie-break), queries probe their `nprobe` nearest lists, and only
    * those lists are ranked (exact integer dot, as in
    * [[lshTopKFixed]]). `centroids` must be in the same normalized
    * space as the vectors — pass unit vectors (e.g. normalized
    * first-nlist corpus embeddings).
    */
  def ivfTopKFixed(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, centroids: Seq[Seq[Double]], nprobe: Int = 4): DataFrame = {
    val c = fixedAssigned(corpus, idCol, vecCol, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = probeFixedLists(c, queries, qIdCol, qVecCol,
      centroids, k, nprobe)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    c.unpersist()
    out
  }

  /** Hash-gateable PQ ANN under frozen codebooks: corpus vectors encode
    * to their nearest codeword per subspace (left-assoc double chain,
    * first-minimum), queries score candidates by ADC dot-product table
    * lookups, ranked by the fixed-point ADC score. `codebooks(j)(c)` is
    * codeword c of subspace j (dsub doubles each), in the vectors'
    * normalized space. Every corpus row is scored — the compressed-scan
    * semantics (m byte-codes per row, no full vectors) — so this is
    * also the exact-verification twin for the shortlisting [[pqTopK]].
    */
  def pqTopKFixed(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.size
    val ks = codebooks.head.size
    val c = unitized(corpus, idCol, vecCol)
      .select(col("id").as("neighbor_id"), pqCodesFixed(codebooks).as("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = unitized(queries, qIdCol, qVecCol)
      .select(col("id").as("query_id"), pqQTableFixed(codebooks).as("qtable"))
    val out = pqProbeCodes(c, q, k, m, ks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    c.unpersist()
    out
  }

  /** Item-item cosine similarity top-k from a ratings relation (SURVEY
    * §7.2 P9): items as implicit vectors over the user dimension. The
    * classic co-occurrence formulation — pair items within each user's
    * ratings (one self-join on the user key), Σ r_a·r_b per pair, norms
    * per item, cosine = dot/√(na·nb). Never materializes item vectors;
    * skew from power users is the known hazard (cap or sample per-user
    * histories upstream at extreme scale).
    */
  /** IVF (inverted-file) ANN: KMeans coarse quantizer → corpus assigned
    * to its nearest centroid (the "inverted lists") → each query probes
    * its `nprobe` nearest centroids and exact-ranks only those lists.
    *
    * The scale path when LSH recall is too parameter-sensitive:
    * centroids train on a bounded sample (driver holds nlist·d floats,
    * nothing else), list assignment is one broadcast-KMeans pass over
    * the corpus scan, and the probe join touches ~nprobe/nlist of the
    * corpus per query. Deterministic via the KMeans seed.
    *
    * `trainSampleFraction` defaults to AUTO (−1): the quantizer fits
    * on at most ~[[TrainRowsPerCentroid]]·nlist sampled rows
    * ([[boundedTrainFraction]]) — the FAISS training rule (its docs
    * recommend 30–256 points per centroid; more adds fit cost, not
    * centroid quality). A whole-corpus KMeans default would silently
    * turn the one bounded stage into a corpus-scale iterative fit at
    * 100×. Pass 1.0 to force full-corpus training, or any explicit
    * fraction to override.
    */
  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      trainSampleFraction: Double = -1.0,
      // drop candidates whose id equals the query id (the usual "don't
      // return the query itself" semantics); pass false when query and
      // corpus ids live in DIFFERENT key spaces that may collide (e.g.
      // users querying an item catalog)
      excludeSelf: Boolean = true,
      // broadcast the probed (query, list) relation into the list join —
      // right for the small-query-set regime this method documents; pass
      // false when the query side is itself corpus-sized (e.g. all-users
      // recommendation) so the join shuffles by list_id instead of
      // broadcasting millions of query vectors
      broadcastProbes: Boolean = true): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    // L2-normalize before the quantizer: KMeans assigns by EUCLIDEAN
    // distance while probing/ranking use cosine — on unit vectors the
    // two orders agree (|a-b|² = 2-2cos), so a query probes the same
    // list its exact neighbors were assigned to. Cosine is
    // scale-invariant, so scores are unchanged.
    val c = normalized(corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("v")))
      .withColumn("fv", array_to_vector(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val frac =
      if (trainSampleFraction < 0) boundedTrainFraction(c.count(), nlist)
      else trainSampleFraction
    val trainSet =
      if (frac >= 1.0) c
      else c.sample(withReplacement = false, frac, seed)
    val km = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("fv")
      .setPredictionCol("list_id").fit(trainSet)

    // inverted lists: corpus row → its single nearest centroid
    val lists = km.transform(c).select(col("neighbor_id"), col("v"), col("list_id"))

    // centroids as a relation for the probe ranking
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = km.clusterCenters.zipWithIndex
      .map { case (ctr, i) => (i, ctr.toArray) }.toSeq
      .toDF("list_id", "centroid")

    // each query probes its nprobe nearest centroids (tiny cross join:
    // |queries| × nlist)
    val q = normalized(queries.select(col(qIdCol).as("query_id"),
      asDouble(col(qVecCol)).as("v")))
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
    val out = (if (excludeSelf)
      joined.filter(col("neighbor_id") =!= col("query_id")) else joined)
      .withColumn("cos_sim", cosine(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos_sim"), 4).as("cos_sim"))
      // eager persist + count, NOT localCheckpoint — see lshTopK: the
      // result must stay releasable via out.unpersist()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    c.unpersist()
    out
  }

  /** Product-quantization ANN: per-subspace KMeans codebooks compress
    * each corpus vector to `m` small codes; queries score candidates by
    * ADC table lookups (m array reads per candidate, no float math on
    * corpus vectors); the ADC shortlist (`overfetch·k`) is re-ranked
    * EXACTLY on the original vectors.
    *
    * This is the memory-compression scale path IVF doesn't cover: at
    * production parameters (m=16, ks=256) a 768-dim float corpus
    * shrinks 192× for the scoring pass — the scan that touches every
    * vector reads 16 bytes/row instead of 3 KB — while the exact
    * re-rank touches only `overfetch·k` full vectors per query.
    * Codebooks train on a bounded sample: `trainSampleFraction`
    * defaults to AUTO (−1) = [[boundedTrainFraction]](n, ks) — each
    * subspace KMeans has ks centroids, so the FAISS per-centroid
    * training budget applies with ks, not m·ks; the driver holds
    * m·ks·dsub doubles, nothing else. All three kernels
    * (encode / table build / score) are codegen'd expressions
    * ([[graft.functions.PqExpressions]]) — no interpreted HOFs in the
    * per-row path.
    */
  def pqTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, m: Int = 8, ks: Int = 16, seed: Long = 42L,
      trainSampleFraction: Double = -1.0, overfetch: Int = 4,
      fitTimeoutSec: Long = 3600L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    import graft.functions.PqExpressions

    // normalize first: ADC then approximates the dot product = cosine
    val c = normalized(corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dim = c.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m

    // per-subspace codebooks; each fit sees only the dsub-dim slices of
    // the (sampled) corpus. m sequential small fits — the classic PQ
    // training cost, bounded by the sample.
    val pqFrac =
      if (trainSampleFraction < 0) boundedTrainFraction(c.count(), ks)
      else trainSampleFraction
    val trainSet =
      if (pqFrac >= 1.0) c
      else c.sample(withReplacement = false, pqFrac, seed)
    val flat = trainPqCodebooks(trainSet, m, ks, dsub, seed, fitTimeoutSec,
      onFailure = () => c.unpersist())
    val cent = typedLit(flat.toSeq)

    // corpus → codes (the compressed representation; keep v only for
    // the final exact re-rank of the shortlist)
    val codes = c.withColumn("codes", PqExpressions.encode(col("v"), cent, m, ks))

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
    val out = shortlist
      .withColumn("cos_sim", cosine(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos_sim"), 4).as("cos_sim"))
      // eager persist + count, NOT localCheckpoint — see lshTopK: the
      // result must stay releasable via out.unpersist()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    c.unpersist()
    out
  }

  /** Fit the m per-subspace PQ codebooks over `trainSet` (a normalized
    * (…, v) relation) and return them flattened
    * ((j·ks + ci)·dsub + d indexing). The m fits are independent —
    * submitted as concurrent driver-thread jobs under one cancellable
    * group with a FINITE await: an executor loss or hung fit surfaces
    * as an exception on the caller's thread, never a permanent hang.
    * `onFailure` runs before the rethrow (callers release their
    * caches there). Shared by [[pqTopK]] and
    * [[PqIndex.build]].
    */
  private[similarity] def trainPqCodebooks(trainSet: DataFrame, m: Int,
      ks: Int, dsub: Int, seed: Long, fitTimeoutSec: Long,
      onFailure: () => Unit): Array[Double] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val flat = new Array[Double](m * ks * dsub)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = trainSet.sparkSession.sparkContext
    val fitGroup = s"graft-pq-codebooks-$seed-${System.identityHashCode(flat)}"
    val fits = (0 until m).map { j =>
      Future {
        sc.setJobGroup(fitGroup, s"pq codebook fit subspace $j",
          interruptOnCancel = true)
        try {
          val km = new KMeans().setK(ks).setSeed(seed + j).setFeaturesCol("fv")
            .fit(trainSet.select(
              array_to_vector(slice(col("v"), j * dsub + 1, dsub)).as("fv")))
          (j, km.clusterCenters)
        } finally sc.clearJobGroup()
      }
    }
    val fitted =
      try Await.result(Future.sequence(fits), Duration(fitTimeoutSec, "s"))
      catch {
        case e: Throwable =>
          // a timed-out or failed fit leaves sibling jobs running — kill
          // the whole group and release caller state before rethrowing
          sc.cancelJobGroup(fitGroup)
          onFailure()
          throw new RuntimeException(
            s"PQ codebook training failed or timed out (${fitTimeoutSec}s): $e", e)
      }
    fitted.foreach {
      case (j, centers) =>
        // fewer-than-ks centers (low-entropy subspace) would leave
        // zero-filled phantom centroids that silently corrupt encoding
        // and ADC scores — fail loudly; callers lower ks instead
        require(centers.length == ks,
          s"subspace $j: KMeans returned ${centers.length} of $ks centers — " +
            "reduce ks for this corpus")
        for ((ctr, ci) <- centers.zipWithIndex; d <- 0 until dsub)
          flat((j * ks + ci) * dsub + d) = ctr(d)
    }
    flat
  }

  /** [[itemItemTopKManaged]] without the release handle — the cached
    * intermediates (the capped ratings feeding both self-join sides,
    * the per-item norms) are left to LRU eviction: fine for one-shot
    * jobs, a slow leak in a long-lived session that recomputes
    * similarities repeatedly (use the managed form there — the
    * `curateCorpusManaged` discipline).
    */
  def itemItemTopK(ratings: DataFrame, k: Int,
      maxUserHistory: Int = 1000,
      normsBroadcastBytes: Long = 10L << 20,
      nItemsHint: Long = -1L): DataFrame =
    itemItemTopKManaged(ratings, k, maxUserHistory, normsBroadcastBytes,
      nItemsHint)._1

  /** Item-item cosine top-k with a RELEASE HANDLE for the two cached
    * intermediates: call the handle once the returned plan has been
    * materialized. `nItemsHint` ≥ 0 supplies the distinct-item count
    * and skips the gate's probe job (the `AnnIndex.statsHint`
    * precedent) — note the probe also materializes the norms cache, so
    * hinted callers pay that lazily on first use instead.
    */
  def itemItemTopKManaged(ratings: DataFrame, k: Int,
      maxUserHistory: Int = 1000,
      normsBroadcastBytes: Long = 10L << 20,
      nItemsHint: Long = -1L): (DataFrame, () => Unit) = {
    // Skew guard — ON BY DEFAULT: the pair generation is quadratic in
    // per-user degree, so one power user with 10⁶ ratings creates 10¹²
    // pairs. Cap each user's history at the maxUserHistory most recent
    // ratings (recency order when a `time` column exists, deterministic
    // item tie-break) before pairing — the standard mitigation (AQE
    // skew-join splits the shuffle, but can't shrink the pair count
    // itself). 1000 caps any user at ~5·10⁵ pairs while keeping far
    // more history than item-item cosine needs; pass Int.MaxValue for
    // the exact uncapped verifier.
    val capped =
      if (maxUserHistory == Int.MaxValue) ratings
      else {
        val order =
          if (ratings.columns.contains("time")) Seq(col("time").desc, col("item"))
          else Seq(col("item"))
        val w = Window.partitionBy(col("user")).orderBy(order: _*)
        ratings.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxUserHistory).drop("__rn")
      }
    // persisted: feeds the self-join (both sides) and the norms agg;
    // released by the returned handle
    val r = capped.select(col("user"), col("item"), col("rating"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Fixed-point (floor·10⁶ → exact integer sum) dot products and
    // norms: double sums are order-dependent under shuffle, so scores
    // (and hence top-k ranks near ties) would vary run-to-run; this
    // keeps them bitwise-reproducible at any parallelism. Accumulation
    // is a plain LONG (codegen'd adds, not Decimal objects): per-row
    // scaled products are ≤ 25·10⁶ for 5-star ratings, so overflow
    // needs > 3·10¹¹ co-rating rows on ONE item pair — beyond any real
    // corpus (the global fsum keeps DECIMAL(38,0) where row values are
    // unbounded).
    def fsum(c: Column): Column =
      (sum(floor(c * lit(1e6)).cast("long")) / lit(1e6)).cast("double")
    // persisted: feeds BOTH sides of the norm join (and the size
    // probe below) — one aggregation over the cached ratings, reused;
    // released by the returned handle
    val norms = r.groupBy("item")
      .agg(fsum(col("rating") * col("rating")).as("norm_sq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = r.as("l").join(r.as("r"),
      col("l.user") === col("r.user") && col("l.item") < col("r.item"))
      .groupBy(col("l.item").as("item_a"), col("r.item").as("item_b"))
      .agg(fsum(col("l.rating") * col("r.rating")).as("dot"))
    val sym = pairs.unionAll(pairs.select(col("item_b").as("item_a"),
      col("item_a").as("item_b"), col("dot")))
    val w = Window.partitionBy(col("item_a"))
      .orderBy(col("cos_sim").desc, col("item_b"))
    // norms is one row per item — broadcast it so the (much larger)
    // pair relation is never shuffled for these two joins, but only
    // while it FITS: |items| at 100 TB can be 10⁸–10⁹, where a forced
    // broadcast OOMs the driver and a shuffle join is fine (the
    // Encoding size-gated idiom). ~24 bytes/row: long key + double
    // norm + row overhead.
    val nItems = if (nItemsHint >= 0L) nItemsHint else norms.count()
    val gated: DataFrame => DataFrame =
      if (nItems * 24L <= normsBroadcastBytes) df => broadcast(df)
      else df => df
    val out = sym
      .join(gated(norms.withColumnRenamed("item", "item_a")
        .withColumnRenamed("norm_sq", "na")), "item_a")
      .join(gated(norms.withColumnRenamed("item", "item_b")
        .withColumnRenamed("norm_sq", "nb")), "item_b")
      .withColumn("cos_sim", col("dot") / sqrt(col("na") * col("nb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("item_a"), col("item_b"), col("rank"),
        round(col("cos_sim"), 6).as("cos_sim"))
    (out, () => { norms.unpersist(); r.unpersist(); () })
  }
}
