package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Rating

class AnnSpec extends SparkSpec {
  import spark.implicits._

  test("bruteForceTopK ranks by cosine with deterministic tie-break") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" === 1L)
    val got = Ann.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got === Seq(2L, 3L, 4L)) // by descending cosine to (1,0)
  }

  test("knnGraphFixed ranks list-mates by exact dot; no cross-list edges, no -1 rows") {
    // two well-separated unit-space lists along axes 0 and 1
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val corpus = Seq(
      (1L, Array(1.0f, 0.1f)),   // list 0
      (2L, Array(1.0f, 0.2f)),   // list 0
      (3L, Array(1.0f, 0.05f)),  // list 0
      (10L, Array(0.1f, 1.0f)),  // list 1
      (11L, Array(0.2f, 1.0f)),  // list 1
      (20L, null.asInstanceOf[Array[Float]])) // list -1: no rows
      .toDF("vec_id", "embedding")
    val g = Ann.knnGraphFixed(corpus, "vec_id", "embedding", k = 2,
      centroids = cents)
    val rows = g.select("vec_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // directed edges stay within the list; node 1's nearest list-mate
    // is 3 (cos to (1,.1): 3 beats 2), node 10's is 11
    assert(rows.map(_._1) === Set(1L, 2L, 3L, 10L, 11L))
    assert(rows.filter(_._1 == 1L).map(r => (r._2, r._3)) ===
      Set((3L, 1), (2L, 2)))
    assert(rows.filter(_._1 == 10L) === Set((10L, 11L, 1)))
    assert(rows.filter(_._1 == 11L) === Set((11L, 10L, 1)))
    // no edge crosses lists, nothing references the null vector
    val lists = Map(1L -> 0, 2L -> 0, 3L -> 0, 10L -> 1, 11L -> 1)
    rows.foreach { case (a, b, _) => assert(lists(a) === lists(b)) }
    assert(!rows.exists(r => r._1 == 20L || r._2 == 20L))
  }

  test("knnGraph (trained): recall@10 >= 0.9 vs brute at sf0.1; guarded plan; consumer-ready") {
    assume(new java.io.File("/root/testdata/sf0.1/embeddings.parquet").exists())
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val g = Ann.knnGraph(e, "vec_id", "embedding", k = 10,
      nlist = 8, nassign = 3)
    try {
      // candidate generation must be the (list, sub) equi-join — never
      // a cartesian (the q48b plan contract)
      val p = g.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"cartesian in knnGraph:\n$p")
      // graph recall: true top-10 (brute over the FULL corpus) found
      // among each probe node's edges — near-uniform embeddings are
      // the hard case; multi-assignment is what makes this reachable
      val probes = e.filter($"vec_id" < 20)
      val brute = Ann.bruteForceTopK(e, "vec_id", "embedding", probes,
        "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val edges = g.filter($"vec_id" < 20)
        .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val recall = (brute & edges).size.toDouble / brute.size
      assert(recall >= 0.9, s"trained kNN-graph recall@10: $recall")
      // duplicate pairs from overlapping lists are collapsed: ranks
      // are dense 1..k per node and (vec_id, neighbor_id) unique
      val byNode = g.select("vec_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().groupBy(_._1)
      byNode.values.foreach { rs =>
        assert(rs.map(_._2).distinct.length === rs.length)
        assert(rs.map(_._3).sorted.toSeq === (1 to rs.length))
      }
      // the graph feeds the existing consumers unchanged
      assert(Ann.knnDensity(g, outlierBelowFp = Long.MinValue).count() > 0)
    } finally g.unpersist()
  }

  test("knnGraph core: the oversized-list guard only narrows, never invents edges") {
    // one tight cloud, ONE frozen centroid → a single mega-list (the
    // guard machinery is shared by the trained and fixed builders, so
    // drive it through the fixed path — no KMeans, fully
    // deterministic). The guard sub-partitions the list, so guarded
    // edges must stay same-list pairs (sub-bucketing can only miss
    // pairs) and remain nonempty at this density.
    val corpus = (0 until 64).map { i =>
      val t = i.toDouble / 64 * 0.2
      (i.toLong, Array(math.cos(t).toFloat, math.sin(t).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0.0))
    val unguarded = Ann.knnGraphFixed(corpus, "vec_id", "embedding",
      k = 3, cents)
    val guarded = Ann.knnGraphFixed(corpus, "vec_id", "embedding",
      k = 3, cents, maxListSize = 8, subPlanes = 2, dim = 2)
    try {
      val u = unguarded.select("vec_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      val gd = guarded.select("vec_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      assert(gd.nonEmpty)
      // every guarded edge is a true same-list pair (all pairs here);
      // it may RANK differently than unguarded (fewer candidates per
      // node), but can never invent a pair
      assert(gd.subsetOf(
        (for (a <- 0L until 64L; b <- 0L until 64L if a != b)
          yield (a, b)).toSet))
      // every node still found neighbors within its sub-bucket or got
      // dropped — no node gained MORE than k edges
      gd.groupBy(_._1).values.foreach(es => assert(es.size <= 3))
      assert(u.groupBy(_._1).size === 64) // unguarded covers all nodes
    } finally { unguarded.unpersist(); guarded.unpersist() }
  }

  test("nnDescentRound: a neighbor's neighbor becomes an edge; cap bounds the local join") {
    // a—b—c on one arc, k=1 base graph: a→b, b→c (c is b's closest),
    // c→b. a and c are NOT adjacent — but both sit in b's undirected
    // neighborhood, so one local-join round must surface a—c via b
    val corpus = Seq(
      (1L, Array(1.0f, 0.05f)),   // a
      (2L, Array(1.0f, 0.15f)),   // b — between a and c
      (3L, Array(1.0f, 0.25f)))   // c
      .toDF("vec_id", "embedding")
    val vecs = Ann.fixedUnitVectors(corpus, "vec_id", "embedding")
    val base = Ann.knnGraphFixed(corpus, "vec_id", "embedding", k = 1,
      centroids = Seq(Seq(1.0, 0.0)))
    try {
      val baseEdges = base.select("vec_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      assert(baseEdges === Set((1L, 2L), (2L, 3L), (3L, 2L)))
      // k=2 over the k=1 base: a and c co-occur in b's neighborhood,
      // so both directions of a—c appear
      val refined = Ann.nnDescentRound(base, vecs, k = 2)
        .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
      assert(refined.contains((1L, 3L)) && refined.contains((3L, 1L)))
      // base edges survive the merge (still among each node's top-2)
      assert(baseEdges.subsetOf(refined))
      // maxDegree=1 caps b's member list to its single best co-member
      // (c — the higher dot) — the a—c discovery disappears, and the
      // cap can only narrow, never invent
      val capped = Ann.nnDescentRound(base, vecs, k = 2, maxDegree = 1)
        .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
      assert(!capped.contains((1L, 3L)))
      assert(capped.subsetOf(refined))
    } finally base.unpersist()
  }

  test("knnGraph refineRounds: NN-descent recovers cross-list edges (recall rises)") {
    // NOTE a structural fact this test pins: refinement over a
    // SINGLE-assignment graph is a no-op (each within-list component
    // is closed under 2-hops, and every same-list pair was already
    // ranked) — overlap (nassign >= 2) is what gives the local join
    // cross-clustering material, exactly like NN-descent's random
    // initialization.
    assume(new java.io.File("/root/testdata/sf0.1/embeddings.parquet").exists())
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val noop = Ann.knnGraph(e, "vec_id", "embedding", k = 10,
      nlist = 8, nassign = 1, refineRounds = 1)
    val single = Ann.knnGraph(e, "vec_id", "embedding", k = 10,
      nlist = 8, nassign = 1)
    val weak = Ann.knnGraph(e, "vec_id", "embedding", k = 10,
      nlist = 8, nassign = 2)
    val refined = Ann.knnGraph(e, "vec_id", "embedding", k = 10,
      nlist = 8, nassign = 2, refineRounds = 2)
    try {
      def edges(g: org.apache.spark.sql.DataFrame) =
        g.filter($"vec_id" < 20)
          .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
      // the no-op fact itself
      assert(edges(noop) === edges(single))
      val probes = e.filter($"vec_id" < 20)
      val brute = Ann.bruteForceTopK(e, "vec_id", "embedding", probes,
        "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      def recall(g: org.apache.spark.sql.DataFrame) =
        (brute & edges(g)).size.toDouble / brute.size
      val (rw, rr) = (recall(weak), recall(refined))
      assert(rr > rw, s"refinement did not improve recall: $rw -> $rr")
    } finally {
      noop.unpersist(); single.unpersist()
      weak.unpersist(); refined.unpersist()
    }
  }

  test("knnDensity floors negative means and skips isolated vectors") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),    // list 0: its 2 mates are near-opposite
      (2L, Array(0.6f, -0.8f)),   // list 0 (closer to c0 than c1)
      (3L, Array(0.9f, 0.3f)),    // list 0
      (10L, Array(0.1f, 1.0f)))   // list 1: ALONE → no graph row, no density row
    .toDF("vec_id", "embedding")
    val g = Ann.knnGraphFixed(corpus, "vec_id", "embedding", k = 2, cents)
    val d = Ann.knnDensity(g, outlierBelowFp = 0L)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // Verify against the floored-double-division contract directly:
    g.select("vec_id", "score_fp").as[(Long, Long)].collect()
      .groupBy(_._1).foreach { case (id, rows) =>
        val exp = math.floor(rows.map(_._2).sum.toDouble / rows.size).toLong
        assert(d(id)._1 === exp, s"node $id")
      }
    assert(!d.contains(10L)) // isolated: unknown, not dense
    // a node whose mean is negative floors DOWNWARD (not toward zero)
    val neg = Ann.knnDensity(
      Ann.knnGraphFixed(Seq(
        (1L, Array(1.0f, 0.0f)), (2L, Array(-0.8f, 0.59f)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding", 2,
        Seq(Seq(0.0, 0.0))),
      outlierBelowFp = 0L).as[(Long, Long, Boolean)].collect()
    neg.foreach { case (_, dens, out) => assert(dens < 0 && out) }
    // floor, not truncate: density of the exact dot (odd value) halves
    assert(neg.map(_._2).toSet.size === 1) // symmetric pair, same mean
  }

  test("mmrRerank diversifies: near-duplicate of the top pick loses to an orthogonal doc") {
    // query along axis 0; A≈B both highly relevant and mutually
    // near-identical, C moderately relevant but orthogonal-ish.
    // Pure relevance top-2 = (A, B); MMR λ=1/2 picks A then C.
    val emb = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),  // the query itself
      (1L, Array(0.99f, 0.14f, 0.0f)),  // A
      (2L, Array(0.98f, 0.199f, 0.0f)), // B ≈ A
      (3L, Array(0.7f, 0.0f, 0.71f)))   // C: less relevant, diverse
      .toDF("vec_id", "embedding")
    val vecs = Ann.fixedUnitVectors(emb, "vec_id", "embedding")
    val qv = vecs.filter($"id" === 100L).select($"vf".as("qf"))
    val cand = vecs.filter($"id" =!= 100L).crossJoin(qv)
      .select(lit(100L).as("query_id"), $"id".as("neighbor_id"),
        expr("aggregate(zip_with(vf, qf, (a, b) -> a * b), 0L, (s, x) -> s + x)")
          .as("score_fp"))
    val relOrder = cand.orderBy($"score_fp".desc)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(relOrder.take(2) === Seq(1L, 2L)) // the fixture's premise
    val mmr = Ann.mmrRerank(cand, vecs, k = 3)
      .orderBy("mmr_rank").select("neighbor_id").as[Long].collect().toSeq
    assert(mmr === Seq(1L, 3L, 2L))
    // k beyond the candidate count just stops producing ranks
    val over = Ann.mmrRerank(cand, vecs, k = 9)
    assert(over.count() === 3L)
  }

  test("lshTopK achieves high recall@10 against brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val brute = Ann.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      10, tables = 16, planes = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall@10 too low: $recall")
  }

  test("ivfTopK achieves high recall@10 against brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val brute = Ann.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      10, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall@10 too low: $recall")
  }

  test("AUTO trainSampleFraction bounds the quantizer fit (FAISS sample rule)") {
    // the fraction math: the KMeans input is capped at 256·nlist rows
    // at ANY corpus size — constant fit cost under 100× growth
    assert(Ann.boundedTrainFraction(0L, 16) === 1.0)
    assert(Ann.boundedTrainFraction(4096L, 16) === 1.0) // exactly at budget
    assert(Ann.boundedTrainFraction(1L << 30, 16)
      === (256.0 * 16) / (1L << 30).toDouble)
    val n = 100_000_000_000L // a 10¹¹-row corpus still fits 16k rows
    assert(math.abs(Ann.boundedTrainFraction(n, 64) * n - 256.0 * 64) < 1e-6)
    // under ACTIVE sampling (n=2000 > 256·nlist=1024 at nlist=4) the
    // sampled-fit quantizer still reaches brute recall — sampling
    // changes which centroids KMeans finds, not list coverage
    assume(new java.io.File("/root/testdata/sf0.1/embeddings.parquet").exists())
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    assert(Ann.boundedTrainFraction(e.count(), 4) < 1.0) // sampling is ON
    val brute = Ann.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id",
      "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      10, nlist = 4, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"sampled-fit IVF recall@10 too low: $recall")
  }

  test("pqTopK achieves high recall@10 against brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val brute = Ann.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Ann.pqTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      10, m = 8, ks = 16, overfetch = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.6, s"PQ recall@10 too low: $recall")
  }

  test("IvfIndex: probe-after-build matches ivfTopK exactly (same seed)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val name = s"graft_ivf_${System.nanoTime()}"
    try {
      IvfIndex.build(e, "vec_id", "embedding", name, nlist = 8)
      val got = IvfIndex.probe(spark, name, q, "vec_id", "embedding",
        k = 10, nprobe = 4)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
        .as[(Long, Long, Int, Double)].collect().toSet
      val direct = Ann.ivfTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        10, nlist = 8, nprobe = 4)
      val want = direct.select("query_id", "neighbor_id", "rank", "cos_sim")
        .as[(Long, Long, Int, Double)].collect().toSet
      direct.unpersist()
      assert(got === want)
    } finally IvfIndex.drop(spark, name)
  }

  test("IvfIndex: append-only refresh assigns like the quantizer; probe sees both halves") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val name = s"graft_ivf_r_${System.nanoTime()}"
    try {
      IvfIndex.build(e.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        name, nlist = 8)
      IvfIndex.refresh(e.filter($"vec_id" % 2 === 1), "vec_id", "embedding", name)
      // every corpus row indexed exactly once
      assert(spark.table(s"${name}_lists").count() === e.count())
      // refresh used the SAME assignment rule as the built lists: a
      // refreshed row's list equals what km-style argmin gives — check
      // by re-refreshing the even half into a scratch index and
      // comparing against the built assignments
      val built = spark.table(s"${name}_lists")
        .filter($"neighbor_id" % 2 === 0)
        .select("neighbor_id", "list_id").as[(Long, Int)].collect().toMap
      val name2 = name + "b"
      try {
        spark.sql(s"CREATE TABLE ${name2}_centroids AS SELECT * FROM ${name}_centroids")
        spark.table(s"${name}_lists").limit(0)
          .write.bucketBy(16, "list_id").sortBy("list_id")
          .format("parquet").saveAsTable(s"${name2}_lists")
        IvfIndex.refresh(e.filter($"vec_id" % 2 === 0), "vec_id", "embedding", name2)
        val refreshed = spark.table(s"${name2}_lists")
          .select("neighbor_id", "list_id").as[(Long, Int)].collect().toMap
        assert(refreshed === built,
          "refresh assignment diverges from the quantizer's list assignment")
      } finally IvfIndex.drop(spark, name2)
      // probing the refreshed artifact reaches neighbors from BOTH halves
      val got = IvfIndex.probe(spark, name, q, "vec_id", "embedding",
        k = 10, nprobe = 4)
        .select("neighbor_id").as[Long].collect().toSet
      assert(got.exists(_ % 2 == 0) && got.exists(_ % 2 == 1))
      val brute = Ann.bruteForceTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val probed = IvfIndex.probe(spark, name, q, "vec_id", "embedding",
        k = 10, nprobe = 4)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val recall = (brute & probed).size.toDouble / brute.size
      assert(recall >= 0.6, s"refreshed-index recall@10 too low: $recall")
    } finally IvfIndex.drop(spark, name)
  }

  test("IvfIndex.rebuild retrains and swaps; probe reflects the new corpus") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val name = s"graft_ivf_rb_${System.nanoTime()}"
    try {
      IvfIndex.build(e.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        name, nlist = 8)
      assert(spark.table(s"${name}_lists")
        .filter($"neighbor_id" % 2 === 1).count() === 0)
      IvfIndex.rebuild(e, "vec_id", "embedding", name, nlist = 8)
      // swapped artifact covers the FULL corpus, temp tables are gone
      assert(spark.table(s"${name}_lists").count() === e.count())
      assert(swapLeftovers(name).isEmpty)
      val got = IvfIndex.probe(spark, name, e.filter($"vec_id" < 3),
        "vec_id", "embedding", k = 5, nprobe = 4)
      assert(got.count() > 0)
    } finally IvfIndex.drop(spark, name)
  }

  test("PqIndex.rebuild retrains and swaps; probe reflects the new corpus") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val name = s"graft_pq_rb_${System.nanoTime()}"
    try {
      PqIndex.build(e.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        name, m = 8, ks = 16)
      assert(spark.table(s"${name}_codes")
        .filter($"neighbor_id" % 2 === 1).count() === 0)
      PqIndex.rebuild(e, "vec_id", "embedding", name, m = 8, ks = 16)
      // swapped artifact covers the FULL corpus, temp tables are gone
      assert(spark.table(s"${name}_codes").select("neighbor_id").distinct()
        .count() === e.count())
      assert(spark.table(s"${name}_codes").count() === e.count())
      assert(swapLeftovers(name).isEmpty)
      val got = PqIndex.probe(spark, name, e.filter($"vec_id" < 3),
        "vec_id", "embedding", k = 5)
      assert(got.count() === 15L)
    } finally PqIndex.drop(spark, name)
  }

  test("PqIndex: probe-after-build matches pqTopK exactly (same seed)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val name = s"graft_pq_${System.nanoTime()}"
    try {
      PqIndex.build(e, "vec_id", "embedding", name, m = 8, ks = 16)
      val got = PqIndex.probe(spark, name, q, "vec_id", "embedding",
        k = 10, overfetch = 4)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
        .as[(Long, Long, Int, Double)].collect().toSet
      val direct = Ann.pqTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        10, m = 8, ks = 16, overfetch = 4)
      val want = direct.select("query_id", "neighbor_id", "rank", "cos_sim")
        .as[(Long, Long, Int, Double)].collect().toSet
      direct.unpersist()
      assert(got === want)
    } finally PqIndex.drop(spark, name)
  }

  test("PqIndex: append-only refresh encodes under frozen codebooks; probe sees both halves") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val name = s"graft_pq_r_${System.nanoTime()}"
    try {
      PqIndex.build(e.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        name, m = 8, ks = 16)
      PqIndex.refresh(e.filter($"vec_id" % 2 === 1), "vec_id", "embedding", name)
      assert(spark.table(s"${name}_codes").count() === e.count())
      val got = PqIndex.probe(spark, name, q, "vec_id", "embedding",
        k = 10, overfetch = 4)
        .select("neighbor_id").as[Long].collect().toSet
      assert(got.exists(_ % 2 == 0) && got.exists(_ % 2 == 1))
      val brute = Ann.bruteForceTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      // codebooks trained on HALF the (tiny) sf0.001 corpus quantize
      // more coarsely than the full-corpus fit the pqTopK recall test
      // uses — compensate with a deeper ADC shortlist, the standard
      // recall knob, rather than weakening the bar
      val probed = PqIndex.probe(spark, name, q, "vec_id", "embedding",
        k = 10, overfetch = 8)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val recall = (brute & probed).size.toDouble / brute.size
      assert(recall >= 0.6, s"refreshed PQ index recall@10 too low: $recall")
    } finally PqIndex.drop(spark, name)
  }

  test("registered ANN configs reach recall@10 >= 0.9 at sf0.1") {
    // the synthetic embeddings are near-uniform (weak neighbor
    // structure — the hard case for ANN), so this validates the
    // REGISTERED q48/q52/q78 parameters against the bigger corpus:
    // measured 1.0 / 0.91 / 0.96 when the configs were chosen
    assume(new java.io.File("/root/testdata/sf0.1/embeddings.parquet").exists())
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val brute = Ann.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(s: Set[(Long, Long)]) = (brute & s).size.toDouble / brute.size
    val lsh = Ann.lshTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      10, tables = 32, planes = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(recall(lsh) >= 0.9, s"LSH sf0.1 recall: ${recall(lsh)}")
    val ivf = Ann.ivfTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      10, nlist = 16, nprobe = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(recall(ivf) >= 0.9, s"IVF sf0.1 recall: ${recall(ivf)}")
    val pq = Ann.pqTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      10, m = 16, ks = 16, overfetch = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(recall(pq) >= 0.9, s"PQ sf0.1 recall: ${recall(pq)}")
    // probe-after-reload of the PERSISTED index at the same registered
    // config (build half + refresh half = the q108 lifecycle)
    val name = s"graft_ivf_sf01_${System.nanoTime()}"
    try {
      IvfIndex.build(e.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        name, nlist = 16)
      IvfIndex.refresh(e.filter($"vec_id" % 2 === 1), "vec_id", "embedding", name)
      val idx = IvfIndex.probe(spark, name, q, "vec_id", "embedding",
        k = 10, nprobe = 10)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      assert(recall(idx) >= 0.9, s"IVF index sf0.1 recall: ${recall(idx)}")
    } finally IvfIndex.drop(spark, name)
  }

  test("pq ADC score approximates the true dot product on the shortlist") {
    // hand-check the kernels: identical vectors must ADC-score near the
    // exact dot product when each subspace has a near-exact centroid
    import graft.functions.PqExpressions
    val vecs = Seq(
      (1L, Array.fill(8)(1.0)), (2L, Array.fill(8)(-1.0)),
      (3L, Array.tabulate(8)(i => if (i < 4) 1.0 else -1.0)))
      .toDF("id", "v")
    // codebook: 2 subspaces x 2 centroids x 4 dims (flat layout):
    // subspace centroids are all-ones and all-minus-ones
    val flat = (Seq.fill(4)(1.0) ++ Seq.fill(4)(-1.0)) ++
      (Seq.fill(4)(1.0) ++ Seq.fill(4)(-1.0))
    val cent = typedLit(flat)
    val out = vecs
      .withColumn("codes", PqExpressions.encode(col("v"), cent, 2, 2))
      .withColumn("qtable", PqExpressions.adcTable(col("v"), cent, 2, 2))
      .withColumn("self_adc", PqExpressions.adcScore(col("codes"), col("qtable"), 2))
      .select("id", "codes", "self_adc")
      .as[(Long, Seq[Int], Double)].collect().sortBy(_._1).toSeq
    assert(out.map(_._2) === Seq(Seq(0, 0), Seq(1, 1), Seq(0, 1)))
    // centroids are exact copies of the subvectors → ADC self-score
    // equals the exact self dot product (8.0)
    assert(out.map(_._3).forall(s => math.abs(s - 8.0) < 1e-12))
  }

  test("embeddingPairsLsh finds planted colinear pairs") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Array(2.0f, 0.0f, 1.0f, 0.4f)), // colinear with 1
      (3L, Array(0.0f, 1.0f, -0.5f, 0.7f))).toDF("vec_id", "embedding")
    val pairs = graft.dedup.Dedup.embeddingPairsLsh(e, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("lsh signatures are deterministic across invocations") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    val a = Ann.lshBuckets(e, "vec_id", "embedding", tables = 2, planes = 8)
      .select("id", "table", "bucket").as[(Long, Int, Long)].collect().toSet
    val b = Ann.lshBuckets(e, "vec_id", "embedding", tables = 2, planes = 8)
      .select("id", "table", "bucket").as[(Long, Int, Long)].collect().toSet
    assert(a === b)
  }

  test("pqTopK surfaces a failing codebook fit as an exception, not a hang") {
    // 4-row corpus cannot yield ks=16 centers — the fit's center-count
    // check must propagate through the concurrent-fit machinery
    val tiny = Seq(
      (1L, Array.fill(8)(1.0f)), (2L, Array.fill(8)(-1.0f)),
      (3L, Array.tabulate(8)(_.toFloat)), (4L, Array.tabulate(8)(i => -i.toFloat)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Ann.pqTopK(tiny, "vec_id", "embedding",
        tiny.filter($"vec_id" === 1L), "vec_id", "embedding",
        k = 2, m = 2, ks = 16)
    }
    assert(e.getMessage.contains("centers"), s"unexpected error: $e")
  }

  test("pqTopK fit timeout surfaces as an exception, not a hang") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val err = intercept[RuntimeException] {
      Ann.pqTopK(e, "vec_id", "embedding",
        e.filter($"vec_id" < 3), "vec_id", "embedding",
        k = 2, m = 2, ks = 4, fitTimeoutSec = 0L)
    }
    assert(err.getMessage.contains("timed out"), s"unexpected error: $err")
  }

  test("approximate topK results are releasable (no permanent block leak)") {
    import org.apache.spark.storage.StorageLevel
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val q = e.filter($"vec_id" < 3)
    val out = Ann.lshTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      k = 5, tables = 4, planes = 4)
    assert(out.storageLevel != StorageLevel.NONE) // materialized + cached
    out.unpersist(blocking = true)
    assert(out.storageLevel == StorageLevel.NONE) // and fully releasable
  }

  test("default history cap does not change top-k of unrelated items") {
    // base corpus: i1/i2 co-rated identically, i3 off to the side
    val base = Seq(
      Rating("u1", "i1", 2.0, 1L), Rating("u1", "i2", 2.0, 2L),
      Rating("u2", "i1", 3.0, 3L), Rating("u2", "i2", 3.0, 4L),
      Rating("u2", "i3", 1.0, 5L), Rating("u3", "i3", 5.0, 6L)).toDF
    // planted power user: 2500 ratings (over the 1000 cap) on items
    // disjoint from the base catalog, unique times
    val power = spark.range(2500).select(
      lit("power").as("user"),
      concat(lit("p"), col("id")).as("item"),
      lit(4.0).as("rating"),
      (col("id") + 100L).as("time"))
    def baseTopK(r: org.apache.spark.sql.DataFrame): Map[(String, String), Int] =
      Ann.itemItemTopK(r, k = 2) // default cap engaged
        .filter($"item_a".startsWith("i") && $"item_b".startsWith("i"))
        .select("item_a", "item_b", "rank").as[(String, String, Int)]
        .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(baseTopK(base.unionAll(power)) === baseTopK(base))
  }

  test("itemItemTopK: the norms broadcast is size-gated, not forced") {
    val r = Seq(
      Rating("u1", "i1", 2.0, 1L), Rating("u1", "i2", 2.0, 1L),
      Rating("u2", "i1", 3.0, 1L), Rating("u2", "i2", 3.0, 1L)).toDF
    def executedPlan(thresholdBytes: Long): String = {
      val df = Ann.itemItemTopK(r, k = 2,
        normsBroadcastBytes = thresholdBytes)
      df.count()
      df.queryExecution.executedPlan.toString
    }
    // auto-broadcast off for the plan assertions: Catalyst/AQE would
    // broadcast the tiny test relation on its own stats and mask the
    // gate — only the explicit hint may broadcast here
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // norms fits the default 10 MB gate → broadcast-hash joined
      assert(executedPlan(10L << 20).contains("BroadcastHashJoin"),
        "under-threshold norms should broadcast")
      // a 0-byte gate models the 10⁹-item catalog: the hint must
      // degrade to a shuffle join, never a forced driver broadcast
      val big = executedPlan(0L)
      assert(!big.contains("BroadcastHashJoin"),
        s"over-threshold norms must not broadcast:\n$big")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // verdicts must agree regardless of the join strategy
    val a = Ann.itemItemTopK(r, k = 2).collect().toSet
    val b = Ann.itemItemTopK(r, k = 2, normsBroadcastBytes = 0L)
      .collect().toSet
    assert(a === b)
  }

  test("itemItemTopKManaged: release drops both caches; nItemsHint agrees") {
    // distinct fixture from the size-gate test above: the CacheManager
    // dedupes persists by logical plan, so an identical ratings frame
    // would alias that test's still-cached intermediates
    val r = Seq(
      Rating("u7", "j1", 2.5, 1L), Rating("u7", "j2", 2.5, 1L),
      Rating("u8", "j1", 3.5, 1L), Rating("u8", "j2", 3.5, 1L)).toDF
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (df, release) = Ann.itemItemTopKManaged(r, k = 2)
    val got = df.collect().toSet
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "the capped ratings / norms caches should be live before release")
    release()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "release() must unpersist every cache the operator pinned")
    // hint path: same verdicts, probe job skipped (2 distinct items)
    val (hinted, release2) = Ann.itemItemTopKManaged(r, k = 2,
      nItemsHint = 2L)
    try assert(hinted.collect().toSet === got)
    finally release2()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("itemItemTopK computes cosine over co-rating vectors") {
    // i1 and i2 rated identically by u1,u2 → cosine 1; i3 orthogonal-ish
    val r = Seq(
      Rating("u1", "i1", 2.0, 1L), Rating("u1", "i2", 2.0, 1L),
      Rating("u2", "i1", 3.0, 1L), Rating("u2", "i2", 3.0, 1L),
      Rating("u3", "i3", 5.0, 1L)).toDF
    val got = Ann.itemItemTopK(r, k = 2)
      .select("item_a", "item_b", "cos_sim").as[(String, String, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(math.abs(got(("i1", "i2")) - 1.0) < 1e-9)
    assert(math.abs(got(("i2", "i1")) - 1.0) < 1e-9)
    assert(!got.keySet.exists(p => p._1 == "i3" || p._2 == "i3"))
  }

  /** 10 unit vectors spread 0°..90° (ids 0..9) + an explicit CHAIN
    * graph i↔i+1 — the fixture where greedy hops matter: a query at
    * 90° entered at node 0 is only reachable by walking the chain.
    */
  private def chainFixture = {
    def ang(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val nodes = (0 to 9).map(i => (i.toLong, ang(i * 10.0)))
    val vectors = Ann.fixedUnitVectors(nodes.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val edges = (0 until 9).flatMap(i =>
      Seq((i.toLong, (i + 1).toLong), ((i + 1).toLong, i.toLong)))
      .toDF("vec_id", "neighbor_id")
    val query = Seq((100L, ang(90.0))).toDF("vec_id", "embedding")
    (edges, vectors, query)
  }

  test("beamSearchFixed walks the chain: step budget bounds the reach") {
    val (edges, vectors, query) = chainFixture
    def best(steps: Int): Long =
      Ann.beamSearchFixed(edges, vectors, query, "vec_id", "embedding",
        entryIds = Seq(0L), beam = 1, steps = steps, k = 1)
        .head().getLong(1)
    // 2 expansions from node 0 reach node 2 at best; 9 reach the target
    assert(best(2) === 2L)
    assert(best(9) === 9L)
    // steps=0 degenerates to entry scoring only
    assert(best(0) === 0L)
  }

  test("sq8TopK: high recall vs brute force; degenerate dims and self-exclusion hold") {
    // 120 deterministic 4-dim vectors on a 2-sphere; dim 3 is ZERO in
    // every vector (zero survives unitization exactly) — the
    // degenerate mx == mn bound must code to 0 and dequantize back
    // without NaN (a 0/0 span would poison every dot)
    def v(i: Int): Array[Float] = {
      val a = (i % 12) * 0.5
      val b = (i % 7) * 0.8
      Array((math.cos(a) * math.cos(b)).toFloat,
        (math.cos(a) * math.sin(b)).toFloat, math.sin(a).toFloat, 0.0f)
    }
    val corpus = (0 until 120).map(i => (i.toLong, v(i))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 8)
    val (mins, maxs) = Ann.sq8Bounds(corpus, "vec_id", "embedding", 4)
    assert(mins.size === 4 && maxs(3) === 0.0 && mins(3) === 0.0)
    val sq = Ann.sq8TopK(corpus, "vec_id", "embedding", queries,
      "vec_id", "embedding", k = 10, mins, maxs)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(sq.forall(p => p._1 != p._2), "self-match leaked")
    val exact = Ann.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val sqBy = sq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.count(p => sqBy(p._1).contains(p._2)).toDouble /
      exact.length
    assert(recall >= 0.8, s"SQ8 recall@10 too low: $recall")
    intercept[IllegalArgumentException] {
      Ann.sq8TopK(corpus, "vec_id", "embedding", queries, "vec_id",
        "embedding", k = 10, mins, maxs.init)
    }
  }

  test("ivfSq8TopK: equals sq8TopK when every list is probed; candidates shrink under nprobe") {
    def v(i: Int): Array[Float] = {
      val a = (i % 12) * 0.5
      val b = (i % 7) * 0.8
      Array((math.cos(a) * math.cos(b)).toFloat,
        (math.cos(a) * math.sin(b)).toFloat, math.sin(a).toFloat, 0.0f)
    }
    val corpus = (0 until 120).map(i => (i.toLong, v(i))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 6)
    val (mins, maxs) = Ann.sq8Bounds(corpus, "vec_id", "embedding", 4)
    // 4 well-separated unit centroids
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(-1.0, 0.0, 0.0, 0.0))
    def run(np: Int) = Ann.ivfSq8TopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10, cents, np, mins, maxs)
      .as[(Long, Long, Int, Long)].collect().toSet
    // probing EVERY list = the exhaustive SQ8 scan
    val full = Ann.sq8TopK(corpus, "vec_id", "embedding", queries,
      "vec_id", "embedding", k = 10, mins, maxs)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(run(4) === full)
    // nprobe=1 scans fewer candidates, but any pair it shares with the
    // exhaustive result carries the IDENTICAL score (same kernel)
    val narrow = run(1)
    assert(narrow.nonEmpty && narrow.size <= full.size)
    val fullScores = full.map(r => (r._1, r._2) -> r._4).toMap
    assert(narrow.forall(r =>
      fullScores.get((r._1, r._2)).forall(_ == r._4)))
  }

  test("hardNegatives drops known positives and re-closes the ranks") {
    val shortlist = Seq(
      (1L, 10L, 1, 900L), (1L, 11L, 2, 800L), (1L, 12L, 3, 700L),
      (1L, 13L, 4, 600L),
      (2L, 20L, 1, 900L), (2L, 21L, 2, 800L))
      .toDF("query_id", "neighbor_id", "rank", "score_fp")
    val positives = Seq((1L, 10L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val got = Ann.hardNegatives(shortlist, positives, k = 2)
      .as[(Long, Long, Int, Long)].collect().toSet
    // anchor 1: 10 and 12 removed, 11/13 re-rank 1/2;
    // anchor 2: fully depleted — honest empty, not padded
    assert(got === Set((1L, 11L, 1, 800L), (1L, 13L, 2, 600L)))
    intercept[IllegalArgumentException] {
      Ann.hardNegatives(shortlist, positives, k = 0)
    }
  }

  test("beamSearchFixed: visited ranking, self-exclusion, and cross-type skip") {
    val (edges, vectors, query) = chainFixture
    // k > |visited|: every visited node comes back, ranked by dot desc
    val all = Ann.beamSearchFixed(edges, vectors, query, "vec_id",
      "embedding", entryIds = Seq(0L), beam = 1, steps = 3, k = 10)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(all === Seq(3L, 2L, 1L, 0L)) // monotone chain toward 90°
    // a query DRAWN from the corpus never retrieves itself
    val self = (0 to 9).map(i => {
      val r = math.toRadians(i * 10.0)
      (i.toLong, Array(math.cos(r).toFloat, math.sin(r).toFloat))
    }).toDF("vec_id", "embedding").filter($"vec_id" === 5L)
    // entry at 4: node 5 is a DIRECT neighbor, reachable in one hop —
    // only the self-exclusion keeps it out of the result
    val got = Ann.beamSearchFixed(edges, vectors, self, "vec_id",
      "embedding", entryIds = Seq(4L), beam = 2, steps = 2, k = 10)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!got.contains(5L) && got.nonEmpty)
    // string-typed external query ids: exclusion skipped, rows survive
    val ext = Seq(("qA", Array(0.0f, 1.0f))).toDF("qid", "embedding")
    val extGot = Ann.beamSearchFixed(edges, vectors, ext, "qid",
      "embedding", entryIds = Seq(0L), beam = 1, steps = 9, k = 1)
    assert(extGot.count() === 1L)
    // degenerate configs fail loudly
    intercept[IllegalArgumentException] {
      Ann.beamSearchFixed(edges, vectors, query, "vec_id", "embedding",
        entryIds = Seq.empty, beam = 1, steps = 1, k = 1)
    }
    intercept[IllegalArgumentException] {
      Ann.beamSearchFixed(edges, vectors, query, "vec_id", "embedding",
        entryIds = Seq(0L), beam = 0, steps = 1, k = 1)
    }
  }
}
