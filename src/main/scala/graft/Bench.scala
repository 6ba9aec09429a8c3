package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Headliners cover every operator family at its production
  * configuration: scan/ETL, dedup (exact + windowed + MinHash), aggs,
  * joins (broadcast + multiway), windows, serving/eval, ALS training,
  * text profiling, ANN, streaming. A session-warmup query runs first so
  * codegen/JIT cost isn't attributed to the first headliner.
  */
object Bench {

  val headline: Seq[String] = Seq(
    "q01_project_filter",
    "q03_dedup_keeplast",
    "q09_csv_roundtrip",
    "q10_tpch_q1",
    "q13_join_broadcast",
    "q14_join_multiway",
    "q17_window_topk",
    "q19_global_topk",
    "q25_bias_serve_eval",
    "q30_mllib_als_eval",
    "q34_funk_svd_k30",
    "q35_als_gd_k30",
    "q40_text_profile",
    "q43_minhash_neardup",
    "q47_ann_bruteforce",
    "q49_item_item_sim",
    "q55_stream_window_agg",
    "q61_sessionize",
    "q67_range_join",
    // round-6 surface, heaviest first: substring dedup (3 corpus
    // shuffles), paragraph dedup (2 + reassembly), trained-BPE counts
    // (2 jobs/round × 6 training rounds + the count scan), and the
    // bucketed-table streaming near-dup (per-trigger O(batch) probes)
    "q97_paragraph_dedup",
    "q99_substring_dedup",
    "q103_bpe_token_count",
    "q95_stream_neardup",
    // round-7 surface: the quality gate is the round's heaviest new
    // map pass (4 regex/HOF features per doc) and stands in for the
    // whole map-only family (q110/q115 share the shape); importance
    // resampling is the round's heaviest new SHUFFLE op (gram explode
    // + two bucket aggs + per-doc sum)
    "q113_quality_score",
    "q117_importance_resample",
    // round-9 surface: domain cap (WindowGroupLimit window), trained
    // cluster balance (KMeans fit + assign + rebalance), domain
    // mixture (canon chain + rate broadcast). The full-composition
    // q123 is NOT a headliner: its cost is the sum of stages already
    // measured here, and at min-of-3 it would dominate the total with
    // no new signal (correctness-gated at every sf instead).
    "q116_domain_cap",
    "q121_cluster_balance",
    "q122_domain_mixture",
    // round-10 surface: the fixed-plane LSH twin (stands in for the
    // whole fixed-ANN family — same bucket-join plan shape), the
    // Count-Min sketch (the heaviest portable-sketch pass: depth×|rows|
    // explode + one register shuffle), and the 5-iteration PageRank
    // (the iterative-join loop with per-iteration checkpoint cuts)
    "q48b_ann_lsh_fixed",
    "q127_cm_sketch",
    "q133_pagerank_fixed",
    // round-10-late surface: WordPiece = the heaviest new text op
    // (vocab train's double candidate explode + the greedy codegen
    // kernel over the dict-encoded corpus); domain PageRank = the PSL
    // canon chain feeding the checkpointed iterative loop. q138/q139
    // are compositions of stages measured here (the q123 rule).
    "q136_wordpiece",
    "q137_domain_pagerank",
    // round-12 surface: BM25 retrieval — the corpus (doc, token)
    // shuffle + broadcast query-term probes + WindowGroupLimit top-k.
    // The q154 audit is a composition of this and the q119 gram
    // machinery, and q155 a cross-join verifier (the q123 rule: no
    // headline slot for compositions/verifiers).
    "q153_bm25_topk",
    // round-12-late surface: SemDeDup — the within-cluster pair join
    // over fixed-point unit vectors (Σ|c|² candidate bound) is a new
    // operator shape, not a composition. q169/q170 are its streaming
    // twin and curation composition (the q123 rule: no slots).
    "q168_semantic_dedup",
    // round-12-late surface: HTML extraction — the heaviest new
    // map-only pass (a dozen regex rewrites per document, the whole
    // planted page body). q180 is its stateless streaming twin, q177
    // an artifact lifecycle over q153's measured scoring, and q176 a
    // broadcast probe over the q168 kernel (no slots, the q123 rule).
    "q179_html_extract",
    // round-13 surface: the NN-descent local join (undirected
    // adjacency cap + co-member pair join + merge re-rank) is the
    // round's one genuinely new heavy shape — q193/q194 compose the
    // measured KMeans-fit (q121) and pair-join (q168) stages, q197
    // the measured Viterbi kernel (q136-class), q195 the measured
    // q169 fold behind a watermark buffer, and q198/q199 are
    // sub-second map/window passes (the q123 no-slot rule).
    "q196_nn_descent_round",
    // round-13-late surface: the two genuinely new heavy shapes —
    // large-star/small-star CC (alternating star rounds over the
    // checkpointed edge relation, an iterative shape distinct from
    // the PageRank loop) and span corruption (hash span selection +
    // gaps-and-islands interval union + TWO ordered per-doc
    // reassemblies). q203/q207 are single map+broadcast passes,
    // q205/q206/q208/q210 map-only or nShards-row aggs, q209 a
    // composition of q208's projection and the q47 refine shape, and
    // q211 two capped count-aggs + a map pass (the q123 no-slot rule).
    "q202_dup_clusters",
    "q204_span_corrupt",
    // round-14 continuation: the two genuinely new heavy shapes of the
    // intake-cleanup family — the C4 line filter (per-line regex +
    // nested HOF word counts over the planted multi-line corpus) and
    // the NFC normalization kernel (per-string JDK normalizer call,
    // the archetype of a codegen'd string kernel on the hottest map
    // pass). The rest of the continuation surface gets no slots by the
    // q123 rule: q233/q236/q242 are twins, q234 composes the measured
    // q168 assignment kernel + a window, q235/q241 are single regex
    // map passes (q113's family), q238 is a lifecycle, q239 folds the
    // measured q97 election, q240 is 3× the unslotted q205 shape.
    "q232_c4_line_filter",
    "q237_nfc_normalize",
    // round-15 surface: the winnow-join span report is the one
    // genuinely new heavy shape (two winnow fingerprint passes at
    // k=20 + the capped fp equi-join + the pair group-by). q250/q252/
    // q253/q254/q255 are compositions or twins of stages measured
    // elsewhere (the q123 no-slot rule).
    "q251_winnow_matches",
    // round-16 surface: the within-corpus MOSS self-report is the one
    // genuinely new heavy shape (corpus fp SELF-join under the
    // document-frequency cap — no benchmark side to broadcast, the
    // cap is the only thing between this and all-pairs). q260–q262
    // are q257's surgery with the raw kernel, q263/q265/q266 are
    // index-sized or map+broadcast passes (the q123 no-slot rule).
    "q264_winnow_self_matches",
    // round-17 surface: the raw-coordinate self-report is the one
    // genuinely new heavy shape (the raw kernel's inline-normalize
    // replay + alignment map on top of q264's capped pairing). q272
    // folds the same pairing at end of ingest (twin rule).
    "q271_winnow_self_matches_raw",
    // round-18 (optimization round): the contamination-routing family
    // joins the headliners so the single-kernel winnowRoute reshape —
    // and any future regression of it — is adjudicated by the bench
    // rather than only by ad-hoc timing. q273 is the flagship routing
    // operator; q276 its per-source audit rollup (one extra group agg
    // + corpus key join on top of the same routed relation). Added
    // per the r17 verdict's "no bench entry for the new flagship"
    // item — entries are ADDED, never renamed/removed (driver
    // contract).
    "q273_winnow_route",
    "q276_winnow_route_report")
  // round-14 first-half surface kept NO new slots — q217/q218 fold the
  // measured q202 star kernel, q219 composes measured curation +
  // manifest stages, q220 composes measured gate kernels (the q123
  // no-slot rule) — so the workload stayed identical to round 13 for
  // adjudicating the r13 q34/q35 drift (done: host-wide, see TODO.md).

  /** The q95 harness WITHOUT its operator: identical staging (two
    * single-file parquet batches, staggered mtimes), identical
    * maxFilesPerTrigger=1 file stream, a foreachBatch that only counts
    * — everything q95 pays except the dedup probe/append.
    */
  private def streamHarnessOnly(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val docs = graft.io.Tables.documents(spark, sfDir).select("doc_id", "text")
    val mid = docs.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0)
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_bench_harness").toString
    docs.filter(col("doc_id") < mid).coalesce(1).write.parquet(s"$scratch/b1")
    docs.filter(col("doc_id") >= mid).coalesce(1).write.parquet(s"$scratch/b2")
    val in = new java.io.File(s"$scratch/in"); in.mkdirs()
    val now = System.currentTimeMillis()
    Seq("b1", "b2").zipWithIndex.foreach { case (b, i) =>
      val part = new java.io.File(s"$scratch/$b").listFiles()
        .filter(f => f.getName.endsWith(".parquet")).head
      val dst = new java.io.File(in, f"batch_$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(now - (1 - i) * 60000L)
    }
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(in.toString)
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.count(); () }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Tokenize the corpus under a 32k-entry merge table through the
    * codegen replay kernel with an EMPTY vocabulary (every word OOV →
    * full skip-jump replay per occurrence) — the rehearsal for real
    * tokenizer merge-table scale.
    */
  private[graft] def bpe32kMerges: Seq[graft.text.Bpe.Merge] = {
    val live = Seq(
      ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
      ("e", "r"), ("o", "n"), ("r", "e"), ("o", "r"), ("e", "n"),
      ("a", "t"), ("e", "s"), ("o", "u"), ("in", "g"), ("t", "o"),
      ("i", "s"), ("o", "f"), ("i", "t"), ("a", "l"), ("a", "s"))
    val filler = (1 to (32768 - live.size)).map(k => (s"zz$k", s"qq$k"))
    (live ++ filler).zipWithIndex
      .map { case ((l, r), k) => graft.text.Bpe.Merge(k + 1, l, r, 1L) }
  }

  private[graft] def emptyVocab(spark: SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("word", StringType),
        StructField("syms", ArrayType(StringType)))))
  }

  /** Dictionary-encoded replay variant (the non-default arm of the
    * A/B since the interleaved re-measure noted on
    * [[graft.text.Bpe.tokenCountWithMerges]]; bench key kept stable).
    */
  private[graft] def bpe32kTokenize(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    graft.text.Bpe.tokenCountWithMergesDict(
      graft.io.Tables.documents(spark, sfDir), "doc_id", "text",
      emptyVocab(spark), bpe32kMerges)
      .agg(sum(col("n_bpe_tokens"))).collect()
    ()
  }

  /** Per-occurrence A/B twin of [[bpe32kTokenize]] — keeps the
    * default-vs-variant comparison measurable after the dict promotion.
    */
  private[graft] def bpe32kTokenizePerOcc(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    graft.text.Bpe.tokenCountWithMergesPerOcc(
      graft.io.Tables.documents(spark, sfDir), "doc_id", "text",
      emptyVocab(spark), bpe32kMerges)
      .agg(sum(col("n_bpe_tokens"))).collect()
    ()
  }

  // ---- scale-credible slots (r19, the r18 verdict's item 2) --------
  //
  // At sf0.1 every headliner is 0.1–6 s and dominated by fixed
  // per-query overhead, so the driver's 8-vs-32-core ratios sit at ≈1
  // and the bench cannot demonstrate §2 (shuffle/parallelism) wins.
  // These slots re-run the shuffle- and kernel-heavy operator shapes
  // (q202's star-CC loop, q273's routing kernel, q281's family-cap
  // rank) over a DETERMINISTIC R-fold replication of the same
  // `$SPARK_GRAFT_SF_DIR` inputs — each replica's ids shifted into a
  // disjoint range — sized so the operator, not the trigger overhead,
  // owns the wall-clock. Everything is derived fresh from the parquet
  // inputs on every rep (no caching across runs); replication factors
  // are constants of the BENCH WORKLOAD (like bpe32k's 32k merge
  // table), not tuning knobs, and the timed action is the noop sink
  // (guide §1.4) so column pruning cannot hollow out the rank/assembly
  // columns a count() would drop.
  private val scaleShift = 1000000000000L

  // spread BEFORE the explode: the sf parquet inputs are one file, so
  // without this every slot's replication (and the kernel work above
  // it) rides a 1-task scan stage and no core count helps — measured
  // as a single 4.6 s task owning the route slot. The exchange carries
  // 1× the bytes (pre-explode) and the multiplication happens in
  // defaultParallelism×2 parallel tasks; defaultParallelism follows
  // local[$SPARK_GRAFT_CPUS], so the spread adapts to the driver's
  // core count instead of hard-coding either machine shape.
  private def spread(df: org.apache.spark.sql.DataFrame,
      key: String): org.apache.spark.sql.DataFrame =
    df.repartition(
      df.sparkSession.sparkContext.defaultParallelism * 2,
      org.apache.spark.sql.functions.col(key))

  private def replicate(df: org.apache.spark.sql.DataFrame,
      idCols: Seq[String], reps: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val shifted = idCols.foldLeft(
      spread(df, idCols.head)
        .withColumn("__rep", explode(sequence(lit(0L), lit(reps - 1L))))) {
      (d, c) => d.withColumn(c, col(c) + col("__rep") * lit(scaleShift))
    }
    shifted.drop("__rep")
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** q202's connected-components loop (clustersStar) over an
    * R-replicated deterministic edge relation: per corpus doc one
    * (doc_id, doc_id div 2) tree edge — a MAP-ONLY derivation, so the
    * star rounds (the iterative join+agg shuffle shape whose scaling
    * the sf-sized q202 cannot show), not the pair source, own the
    * slot; a MinHash-derived pair source was measured to dominate the
    * slot with kernel CPU instead. Each replica shifts BOTH endpoints
    * into its own id range — a forest of R deep trees (depth
    * ~log₂ max(doc_id), the adversarial shape for star rounds).
    * Broadcasts are off for the slot: at sf0.1 the 128-replica forest
    * (~640k pairs, ~10.2 MB at 16 B per pair) fits the default
    * threshold, where clustersStar would finish on the driver instead.
    */
  private[graft] def scaleCc(spark: SparkSession, sfDir: String, reps: Int): Unit = {
    import org.apache.spark.sql.functions._
    val edges = graft.io.Tables.documents(spark, sfDir)
      .select(col("doc_id"))
      .filter(col("doc_id") >= 2)
      .select(col("doc_id").as("id_a"),
        (col("doc_id") / 2).cast("long").as("id_b"))
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try noop(graft.dedup.Dedup.clustersStar(
      replicate(edges, Seq("id_a", "id_b"), reps)))
    finally spark.conf.set(threshold, was)
  }

  /** q273's contamination routing over an R-replicated corpus against
    * the unreplicated benchmark fixture: the winnow kernel + broadcast
    * probe + per-doc aggregation + surgery assembly at R× the corpus,
    * the CPU-parallel shape for the core-scaling ratio.
    */
  private[graft] def scaleRoute(spark: SparkSession, sfDir: String, reps: Int): Unit =
    noop(graft.dedup.Dedup.winnowRoute(
      replicate(graft.io.Tables.documents(spark, sfDir)
        .select("doc_id", "text"), Seq("doc_id"), reps),
      "doc_id", "text",
      SparkEntry.winnowRouteBench(spark, sfDir), "bench_id", "text",
      cutFloor = 0.05, dropFloor = 0.4,
      k = 20, w = 8, minSharedFps = 2, maxBenchFpFreq = 64L))

  /** q281's exact family-cap rank over an R-replicated roster with a
    * PLANTED mega-family (≈70 % of all rows in one cluster, the
    * boilerplate-template skew case the r18 reshape targets): the
    * parallel range-sort + bounded windows + offset roll at a row
    * count where the sort, not the trigger, is the cost.
    */
  private[graft] def scaleCap(spark: SparkSession, sfDir: String, reps: Int): Unit = {
    import org.apache.spark.sql.functions._
    val base = replicate(graft.io.Tables.documents(spark, sfDir)
      .select("doc_id"), Seq("doc_id"), reps)
    val labels = base.select(col("doc_id"),
      when(pmod(xxhash64(col("doc_id")), lit(10L)) < 7, lit(0L))
        .otherwise(pmod(xxhash64(col("doc_id")), lit(1000L)) + lit(1L))
        .as("cluster_id"))
    noop(graft.dedup.Dedup.winnowFamilyCapFromLabels(base, labels,
      capPerFamily = 2))
  }

  /** Deterministic fixed-point factor states over the ratings relation
    * (the q31b construction: u = i = [n, Σr/10⁶, Σr²/10⁶], i_bias the
    * fixed-point mean) — the serving bench scores the SERVING operators
    * under frozen, training-free states so the metric moves only when
    * serving machinery moves, never with trainer RNG/float drift.
    */
  private[graft] def servingStates(spark: SparkSession, sfDir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val r = graft.io.Tables.ratingsFromEvents(spark, sfDir)
    def fsum(c: org.apache.spark.sql.Column) =
      (sum(floor(c * 1e6).cast(
        org.apache.spark.sql.types.DecimalType(38, 0))) / 1e6).cast("double")
    def state(key: String) = r.groupBy(key).agg(
      count(lit(1)).cast("double").as("c"),
      fsum(col("rating")).as("s1"),
      fsum(col("rating") * col("rating")).as("s2"))
    val users = state("user")
      .select(col("user"), array(col("c"), col("s1"), col("s2")).as("u_factors"))
    val items = state("item")
      .select(col("item"), array(col("c"), col("s1"), col("s2")).as("i_factors"),
        (col("s1") / col("c")).as("i_bias"))
    (users, items)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // typed-UDAF aggregates (minhash/simhash/gradients) should stay
      // hash-based for realistic group counts, not fall back to
      // sort-based at 128 keys
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm-up pass at the smallest scale factor: JIT + codegen +
    // interpreted-expression classloading dominate first execution
    // (measured ~12s of a 16s first minhash run), and a throughput
    // benchmark should measure the operator, not JVM warmup.
    val warmDir = {
      val w = "/root/testdata/sf0.001"
      if (new java.io.File(w).isDirectory) w else sfDir
    }
    headline.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).count()
      catch { case _: Throwable => () }
    }

    // steady-state throughput: min over repeated runs (run-to-run
    // variance from GC/cache pressure at local[32] is ±50% on the
    // heavier queries; min-of-N is the standard estimator). Uniform
    // min-of-3 for EVERYTHING measured — headliners AND the x_ probes
    // (a single-shot probe spent three rounds of verdicts adjudicating
    // 15-30% drift) — raised to min-of-5 for the trainer-class
    // headliners, whose epoch loops are the BASELINE.md comparison
    // units and the repeated drift-forensics target. Per-rep values
    // are retained and emitted under "rep_values" so an outlier is
    // visible as one bad rep, not a mystery to re-measure next round.
    //
    // SELF-ADJUDICATION (the r14 verdict's top item): an ambient-CPU
    // probe (a fixed data-independent 200M-row xxhash64 fold across
    // all cores) runs immediately BEFORE every rep of every metric,
    // and each rep is emitted twice — raw ("rep_values") and
    // ambient-normalized ("rep_values_norm", raw · cal/ambient): a
    // rep taken while the host is 2× loaded has ambient ≈ 2·cal and
    // is scaled down accordingly. The calibration constant is the
    // quiet-session probe floor, so normalized values are comparable
    // ACROSS rounds without re-litigating host load. Raw stays the
    // headline number; norm is the adjudication channel.
    // CAL BOUNDARY (round 17): re-floored 0.134 → 0.091 after the
    // round-14 constant sat ~1.3× above the floor observed on two
    // quiet round-16 sessions (0.084–0.106 s; see BASELINE.md's
    // calibration-provenance note) — normalized values from r17 on
    // start a NEW comparison baseline and are not comparable to
    // r14–r16 norms (compare raw across that boundary).
    val reps = 3
    val trainerReps = 5
    val trainerClass = Set("q34_funk_svd_k30", "q35_als_gd_k30")
    val ambientCalSec = 0.091
    def ambientProbe(): Double = {
      import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
      val t0 = System.nanoTime()
      // xor fold, not sum: 200M summed hashes overflow a long under
      // ANSI arithmetic (the first smoke run recorded -1.0 for this)
      spark.range(0L, 200000000L, 1L, 32)
        .select(bit_xor(xxhash64(col("id")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    ambientProbe() // JIT/codegen warm-up for the probe itself
    val repValues = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val repAmbient = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    def timeReps(label: String)(body: => Unit): Seq[Double] = {
      val n = if (trainerClass(label)) trainerReps else reps
      val measured = (1 to n).flatMap { _ =>
        // GC pressure left by the previous run is the main source of
        // run-to-run variance at local[32]; start each rep clean
        System.gc()
        val amb = ambientProbe()
        val t0 = System.nanoTime()
        try { body; Some(((System.nanoTime() - t0) / 1e9, amb)) }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $label failed: $e")
            None // a failure must not masquerade as a fast run
        }
      }
      repValues(label) = measured.map(_._1)
      repAmbient(label) = measured.map(_._2)
      measured.map(_._1)
    }
    def minOr(times: Seq[Double]): Double =
      if (times.nonEmpty) times.min else -1.0
    // normalized rep: raw scaled by how much QUIETER the calibration
    // machine was than this rep's ambient sample (ambient below cal —
    // a faster host — symmetrically scales up)
    def normReps(label: String): Seq[Double] =
      repValues.getOrElse(label, Nil).zip(repAmbient.getOrElse(label, Nil))
        .map { case (t, a) => if (a > 0) t * (ambientCalSec / a) else t }
    val results = headline.map { name =>
      val fn = SparkEntry.queries(name)
      name -> minOr(timeReps(name)(fn(spark, sfDir).count()))
    }
    // Derived sec/epoch figures (the BASELINE.md comparison units:
    // reference FunkSVD 9.47 s/epoch, ALS 14.39 s/epoch) — extra keys
    // inside the queries map per the driver contract; excluded from
    // the total, which sums only measured queries. SENTINEL-GUARDED:
    // a failed probe records -1.0, and dividing the sentinel by the
    // epoch count would masquerade as a (negative) measurement.
    def perEpoch(key: String, epochs: Int): Double =
      results.toMap.get(key).filter(_ > 0).map(_ / epochs).getOrElse(-1.0)
    // q95 harness/operator split: the micro-batch file-stream harness
    // (staging writes + two triggers + memory collect, NO dedup) is
    // measured by itself so the index-probe operator's true cost is
    // separable — q95's headline seconds are dominated by harness
    // overhead at sf0.1, which would otherwise mask operator
    // regressions.
    val q95Harness = minOr(timeReps("x_q95_harness_sec") {
      streamHarnessOnly(spark, sfDir) })
    val q95Total = results.toMap.getOrElse("q95_stream_neardup", -1.0)
    val q95Operator =
      if (q95Total > 0 && q95Harness > 0) math.max(0.0, q95Total - q95Harness)
      else -1.0
    // 32k-merge BPE rehearsal: tokenize the corpus under a
    // tokenizer-scale merge table (a handful of live merges + filler
    // to 32k — the skip-jump kernel's cost is O(applied) per word, so
    // filler exercises exactly the table-size-independence claim;
    // analysis cost is O(1) in |merges| by construction).
    // default (dict-encoded since round 10) vs per-occurrence A/B:
    // the pair of numbers records which shape wins at this corpus
    val bpe32k = minOr(timeReps("x_bpe32k_tokenize_sec") {
      bpe32kTokenize(spark, sfDir) })
    val bpe32kPerOcc = minOr(timeReps("x_bpe32k_perocc_sec") {
      bpe32kTokenizePerOcc(spark, sfDir) })
    // scale-credible slots (see the r19 block above): operator shapes
    // at R× the sf inputs so the low-vs-high core ratio measures §2
    // wins. Factors calibrated at sf0.1 so each slot is operator-
    // dominated (~6–15 s at local[32]) without bloating the bench:
    // route-64 measured 9.6 s at 32 cores vs 19.5 s at 8 (ratio 2.0 —
    // the kernel+probe compute scales); cc-128 and cap-1024 are
    // checkpoint/shuffle-bandwidth-bound in local mode (ratio ≈1,
    // memory not cores — documented in OPTIMIZATION_r19.md), kept as
    // operator-scale regression slots for the loop and the rank.
    val scaleCcSec = minOr(timeReps("x_scale_cc_sec") {
      scaleCc(spark, sfDir, reps = 128) })
    val scaleRouteSec = minOr(timeReps("x_scale_route_sec") {
      scaleRoute(spark, sfDir, reps = 64) })
    val scaleCapSec = minOr(timeReps("x_scale_cap_sec") {
      scaleCap(spark, sfDir, reps = 1024) })
    // serving path: the ANN-shortlist top-N recommender (the q31
    // production path) under frozen deterministic states — latency
    // min-of-3 plus recall@5 vs the exact cross-join verifier, so a
    // serving regression (speed OR quality) surfaces in BENCH diffs
    // rather than only in specs
    val (servingSec, servingRecallPct) = {
      import org.apache.spark.sql.functions.col
      import graft.recommender.AlsRecommender
      val (users, items) = servingStates(spark, sfDir)
      val u = users.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val i = items.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        u.count(); i.count()
        def ann() = AlsRecommender.topNAnn(u, i, n = 5,
          nlist = 16, nprobe = 8, seed = 42L)
        val sec = minOr(timeReps("x_serving_ann_sec")(ann().count()))
        val recall = try {
          val exact = AlsRecommender.topNExact(u, i, 5)
            .select(col("user"), col("item"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val nExact = exact.count()
          val hit = ann().select(col("user"), col("item"))
            .join(exact, Seq("user", "item"), "left_semi").count()
          exact.unpersist()
          if (nExact > 0) 100.0 * hit.toDouble / nExact else -1.0
        } catch { case e: Throwable =>
          System.err.println(s"[bench] serving recall failed: $e"); -1.0 }
        (sec, recall)
      } finally { u.unpersist(); i.unpersist() }
    }
    // ambient machine reference: the r13→r14 verdict cycle spent two
    // rounds adjudicating a +26-42% drift that turned out to be
    // HOST-WIDE (median r14/r12 ratio 1.42 over 42 metrics, with the
    // flagged trainers sitting exactly at the median). The probe now
    // interleaves with every rep (see timeReps); this summary value is
    // the min over ALL interleaved samples — the session's quietest
    // observed machine state, directly comparable to ambientCalSec.
    val ambient = {
      val all = repAmbient.values.flatten
      if (all.nonEmpty) all.min else -1.0
    }
    val derived = Seq(
      "x_ambient_ref_sec" -> ambient,
      "x_ambient_cal_sec" -> ambientCalSec,
      "x_funk_svd_sec_per_epoch" -> perEpoch("q34_funk_svd_k30", 6),
      "x_als_gd_sec_per_epoch" -> perEpoch("q35_als_gd_k30", 6),
      "x_q95_harness_sec" -> q95Harness,
      "x_q95_operator_sec" -> q95Operator,
      "x_bpe32k_tokenize_sec" -> bpe32k,
      "x_bpe32k_perocc_sec" -> bpe32kPerOcc,
      "x_scale_cc_sec" -> scaleCcSec,
      "x_scale_route_sec" -> scaleRouteSec,
      "x_scale_cap_sec" -> scaleCapSec,
      "x_serving_ann_sec" -> servingSec,
      "x_serving_recall_pct" -> servingRecallPct)
    val qs = (results ++ derived).map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    def repMap(m: scala.collection.Map[String, Seq[Double]]): String =
      m.map { case (k, ts) =>
        "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val rv = repMap(repValues)
    val ra = repMap(repAmbient)
    val rvn = repMap(scala.collection.mutable.LinkedHashMap.from(
      repValues.keys.map(k => k -> normReps(k))))
    // normalized headline map + total: min over ambient-normalized
    // reps — the cross-round comparison channel (raw stays headline)
    val normResults = results.map { case (k, _) => k -> minOr(normReps(k)) }
    val qsn = normResults.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalNorm = normResults.map(_._2).sum
    // reps = the default; trainer-class metrics run reps_trainer (the
    // per-metric truth is rep_values' array lengths — the metadata
    // must not contradict it)
    val fullJson =
      f"""{"metric":"total","value":$total%.3f,"value_norm":$totalNorm%.3f,"unit":"sec","reps":$reps,"reps_trainer":$trainerReps,"queries":$qs,"queries_norm":$qsn,"rep_values":$rv,"rep_values_norm":$rvn,"rep_ambient":$ra,"sf":"$sfDir"}"""
    println(fullJson)
    // The driver's record keeps only a bounded TAIL of stdout, and the
    // full JSON (rep arrays for 50+ metrics) outgrew it two rounds in a
    // row — BENCH_r14/r15.json carry `parsed: null` and no per-query
    // data. Two durability channels:
    //  1. the full JSON is written to BENCH_FULL.json in the working
    //     directory (the repo root under sbt), so the complete record
    //     survives regardless of capture windows;
    //  2. a COMPACT line — totals, per-query raw mins, the ambient
    //     calibration constant, and a pointer to the file; NO rep
    //     arrays and NO per-query norm map (those live in the file) —
    //     prints LAST so a line-anchored scan of any recent-tail
    //     window finds one parseable record.
    try {
      val out = java.nio.file.Paths.get("BENCH_FULL.json")
      java.nio.file.Files.write(out,
        (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: $e") }
    println(f"""{"metric":"total","value":$total%.3f,"value_norm":$totalNorm%.3f,"unit":"sec","reps":$reps,"reps_trainer":$trainerReps,"x_ambient_cal_sec":$ambientCalSec%.3f,"compact":true,"full":"BENCH_FULL.json","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
