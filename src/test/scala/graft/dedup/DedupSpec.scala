package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "THE QUICK  BROWN fox jumps over the lazy dog near the river bank today"), // = 1 modulo case/ws
    (3L, "a completely different document about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (5L, "yet another unrelated text mentioning neither foxes nor dogs at all ok"))

  test("lshParamsFor: the S-curve optimum moves with the threshold and respects the budget") {
    // the (b, r) optimum under a permutation budget: low thresholds
    // want many bands of few rows (catch low-similarity pairs), high
    // thresholds the reverse — the standard MMDS §3.4 behavior
    val (bLo, rLo) = graft.dedup.Dedup.lshParamsFor(0.3, numPerm = 64)
    val (bHi, rHi) = graft.dedup.Dedup.lshParamsFor(0.9, numPerm = 64)
    assert(bLo * rLo <= 64 && bHi * rHi <= 64)
    assert(bLo > bHi, s"low-threshold bands $bLo should exceed $bHi")
    assert(rLo < rHi, s"low-threshold rows $rLo should be under $rHi")
    // the registered q43 configuration (16×4 under 64 perms) sits at
    // the curve's sweet spot for its 0.7-class threshold: the tuned
    // answer must give a threshold s* = (1/b)^(1/r) near 0.7, where
    // s* is the S-curve's steepest point
    val (b7, r7) = graft.dedup.Dedup.lshParamsFor(0.7, numPerm = 64)
    val sStar = math.pow(1.0 / b7, 1.0 / r7)
    assert(math.abs(sStar - 0.7) < 0.15, s"s* = $sStar for ($b7, $r7)")
    // weights steer the trade: an FN-heavy objective lowers s*
    // (catches more), an FP-heavy one raises it
    val (bFn, rFn) = graft.dedup.Dedup.lshParamsFor(0.7, 64,
      fpWeight = 0.1, fnWeight = 0.9)
    val (bFp, rFp) = graft.dedup.Dedup.lshParamsFor(0.7, 64,
      fpWeight = 0.9, fnWeight = 0.1)
    assert(math.pow(1.0 / bFn, 1.0 / rFn)
      <= math.pow(1.0 / bFp, 1.0 / rFp))
  }

  test("exactGroups collapses case/whitespace variants; min id survives") {
    val g = Dedup.exactGroups(base.toDF("doc_id", "text"), "doc_id", "text")
    assert(g.count() === 4)
    val dup = g.filter($"n_copies" === 2).select("keep_id").as[Long].collect()
    assert(dup.toSeq === Seq(1L))
  }

  test("exactSurvivors keeps exactly one row per content key") {
    val s = Dedup.exactSurvivors(base.toDF("doc_id", "text"), "doc_id", "text")
    assert(s.count() === 4)
    assert(s.filter($"doc_id" === 2L).count() === 0)
  }

  test("exactGroupsByPriority: best source wins over min id; id breaks ties") {
    val docs = Seq(
      (1L, "shared content here words words words", 2L), // crawl copy, low id
      (9L, "shared content here words words words", 1L), // curated mirror, HIGH id
      (3L, "only one copy of this text exists ok", 2L),
      (4L, "tie class content duplicated same prio", 2L),
      (5L, "tie class content duplicated same prio", 2L))
      .toDF("doc_id", "text", "prio")
    val g = Dedup.exactGroupsByPriority(docs, "doc_id", "text", col("prio"))
      .select("n_copies", "keep_id", "keep_priority")
      .as[(Long, Long, Long)].collect().toSet
    assert(g === Set(
      (2L, 9L, 1L), // priority 1 beats the lower-id priority-2 copy
      (1L, 3L, 2L),
      (2L, 4L, 2L))) // same priority -> min id
  }

  test("paragraphDedup drops cross-doc repeated lines keep-first, keeps structure") {
    val docs = Seq(
      (10L, "unique alpha line\nShared Boilerplate Footer\nunique beta line"),
      // same footer modulo case/whitespace → dropped here (doc 10 owns it)
      (20L, "another body line\nshared  BOILERPLATE   footer\n\nlast line"),
      // a doc that is ENTIRELY cross-corpus dups → text becomes empty
      (30L, "unique alpha line\nshared boilerplate footer"))
      .toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got(0) === ((10L,
      "unique alpha line\nShared Boilerplate Footer\nunique beta line", 3L, 0L)))
    // doc 20 keeps its unique lines AND the empty structural line
    assert(got(1) === ((20L, "another body line\n\nlast line", 3L, 1L)))
    // doc 30: both lines owned by doc 10 → empty text, still present
    assert(got(2) === ((30L, "", 0L, 2L)))
  }

  test("paragraphDedup dedups repeats WITHIN one doc too, keeps first occurrence") {
    val docs = Seq((1L, "same line\nmiddle\nsame line")).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().head
    assert(got === ((1L, "same line\nmiddle", 2L, 1L)))
  }

  test("substringDedup removes later copies of a shared span, keeps the first") {
    val span = (1 to 6).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha one two $span tail1 tail2"),
      // same 6-token span mid-document → those 6 tokens removed here
      (2L, s"beta $span omega"),
      (3L, "gamma entirely unrelated words only here")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", windowTokens = 6)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got(0) === ((1L, s"alpha one two $span tail1 tail2", 11L, 0L)))
    assert(got(1) === ((2L, "beta omega", 2L, 6L)))
    assert(got(2) === ((3L, "gamma entirely unrelated words only here", 6L, 0L)))
  }

  test("substringDedup covers overlapping duplicated windows as one span") {
    // doc 2 repeats an 8-token run: three overlapping 6-grams all dup
    // → the full 8 tokens are removed, not just one window
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run padding1 padding2"),
      (2L, s"x1 x2 $run y1 y2")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", windowTokens = 6)
      .filter($"doc_id" === 2L)
      .as[(Long, String, Long, Long)].collect().head
    assert(got === ((2L, "x1 x2 y1 y2", 4L, 8L)))
  }

  test("substringDedup dedups self-repetition within one doc") {
    val s6 = (1 to 6).map(i => s"s$i").mkString(" ")
    val docs = Seq((1L, s"$s6 middle $s6")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", windowTokens = 6)
      .as[(Long, String, Long, Long)].collect().head
    assert(got === ((1L, s"$s6 middle", 7L, 6L)))
  }

  test("substringDedup: oversized docs bypass dedup, bounded and flagless") {
    val span = (1 to 6).map(i => s"shared$i").mkString(" ")
    // a doc over the token bound shares a span with doc 1 — it must
    // pass through UNCHANGED (no dedup, no owner claims) while the
    // normal pair still dedups exactly as without the giant
    val giant = ((1 to 3000).map(i => s"g$i") :+ span).mkString(" ")
    val docs = Seq(
      (1L, s"alpha one two $span tail1 tail2"),
      (2L, s"beta $span omega"),
      (3L, giant)).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text",
      windowTokens = 6, maxDocTokens = 1000)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got(0) === ((1L, s"alpha one two $span tail1 tail2", 11L, 0L)))
    assert(got(1) === ((2L, "beta omega", 2L, 6L)))
    // giant passes through verbatim, zero removed — predictable
    // degradation, never an OOM'd stage
    assert(got(2) === ((3L, giant, 3006L, 0L)))
  }

  test("null-text docs stay present: paragraphDedup and substringDedup") {
    val docs = Seq[(java.lang.Long, String)]((1L, "real line"), (2L, null))
      .toDF("doc_id", "text")
    val para = Dedup.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(para === Seq((1L, "real line", 1L, 0L), (2L, "", 1L, 0L)))
    val sub = Dedup.substringDedup(docs, "doc_id", "text", windowTokens = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(sub === Seq((1L, "real line", 2L, 0L), (2L, "", 0L, 0L)))
  }

  test("property: paragraphDedup matches a sequential reference on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // few distinct lines (plus empties and case/whitespace variants) →
    // dense cross- and within-doc collisions
    val lineGen = Gen.oneOf(
      "alpha beta", "ALPHA  beta", "gamma", " ", "", "delta eps", "gamma ")
    val docGen = Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, lineGen).map(_.mkString("\n")))
    val corpusGen = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, docGen))

    def reference(docs: Seq[(Long, String)]): Seq[(Long, String, Long, Long)] = {
      val seen = scala.collection.mutable.Set.empty[String]
      docs.sortBy(_._1).map { case (id, t) =>
        val lines = t.split(java.util.regex.Pattern.quote("\n"), -1)
        val kept = lines.filter { l =>
          val norm = l.replaceAll("\\s+", " ").trim.toLowerCase
          norm.isEmpty || seen.add(norm)
        }
        (id, kept.mkString("\n"), kept.length.toLong,
          (lines.length - kept.length).toLong)
      }
    }

    (0 until 6).foreach { i =>
      corpusGen(Gen.Parameters.default, Seed(55L + i)).foreach { texts =>
        val docs = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }
        val got = Dedup.paragraphDedup(docs.toDF("doc_id", "text"), "doc_id", "text")
          .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
        assert(got === reference(docs), s"corpus: $docs")
      }
    }
  }

  test("property: substringDedup matches a sequential reference on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val w = 4
    // tiny alphabet + short docs → dense window collisions, overlap
    // runs, self-repetition: every edge of the coverage rules
    val docGen = Gen.chooseNum(0, 25)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("p", "q", "r")).map(_.mkString(" ")))
    val corpusGen = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, docGen))

    def reference(docs: Seq[(Long, String)]): Seq[(Long, String, Long, Long)] = {
      val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").filter(_.nonEmpty).toVector }.toMap
      val occ = scala.collection.mutable.Map.empty[String, List[(Long, Int)]]
      for ((id, ws) <- toks.toSeq.sortBy(_._1); i <- 1 to ws.size - w + 1)
        occ.updateWith(ws.slice(i - 1, i - 1 + w).mkString(" "))(
          o => Some(o.getOrElse(Nil) :+ ((id, i))))
      val cov = scala.collection.mutable.Map.empty[Long, Set[Int]].withDefaultValue(Set.empty)
      for ((_, os) <- occ if os.size > 1; owner = os.min; (id, p) <- os if (id, p) != owner)
        cov(id) = cov(id) ++ (p until p + w)
      docs.map { case (id, _) =>
        val ws = toks(id)
        val kept = ws.zipWithIndex.collect { case (t, j) if !cov(id).contains(j + 1) => t }
        (id, kept.mkString(" "), kept.size.toLong, (ws.size - kept.size).toLong)
      }
    }

    (0 until 6).foreach { i =>
      corpusGen(Gen.Parameters.default, Seed(77L + i)).foreach { texts =>
        val docs = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }
        val got = Dedup.substringDedup(docs.toDF("doc_id", "text"),
          "doc_id", "text", windowTokens = w)
          .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
        assert(got === reference(docs), s"corpus: $docs")
      }
    }
  }

  test("property: coveredPositions == brute-force union on random span sets") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the substring family only feeds fixed-length unique-start spans;
    // this pins the helper's FULL contract — variable lengths,
    // duplicates, same-start ties, overlaps, adjacency — for any
    // future consumer
    val spanGen = for {
      doc <- Gen.chooseNum(1L, 4L)
      start <- Gen.chooseNum(1, 30)
      len <- Gen.chooseNum(1, 8)
    } yield (doc, start, start + len - 1)
    val setGen = Gen.chooseNum(1, 25).flatMap(n => Gen.listOfN(n, spanGen))
    (0 until 8).foreach { i =>
      setGen(Gen.Parameters.default, Seed(4242L + i)).foreach { spans =>
        val want = spans.flatMap { case (d, a, b) => (a to b).map(d -> _) }.toSet
        val got = Dedup.coveredPositions(spans.toDF("doc_id", "start", "end"))
          .as[(Long, Int)].collect()
        assert(got.length === got.toSet.size, s"duplicate positions: $spans")
        assert(got.toSet === want, s"spans: $spans")
      }
    }
  }

  test("substringDedup coverage shuffle scales with duplicate occurrences, not ×w") {
    val w = 40
    // 30 identical 120-token docs: 29 non-owner docs × 81 gram
    // positions = 2349 duplicate occurrences. The per-position explode
    // this spec guards against shuffled 2349 × 40 = 93,960 coverage
    // rows into its distinct; interval-coalesced spans shuffle 2349
    // span rows + one merged interval per doc. Assert the ENTIRE job's
    // shuffle writes stay under half the old coverage stage alone —
    // a ratio against the explosion factor, not a plan-shape absolute.
    val text = (1 to 120).map(i => s"tok$i").mkString(" ")
    val docs = (1 to 30).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val (got, shape) = shapeOf {
      Dedup.substringDedup(docs, "doc_id", "text", windowTokens = w)
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    }
    val shuffleRecords = shape.shuffleRecordsWritten
    // correctness unchanged: doc 1 owns everything, docs 2..30 empty
    assert(got.head === ((1L, text, 120L, 0L)))
    assert(got.tail.forall { case (_, t, k, d) => t == "" && k == 0L && d == 120L })
    val dupOccurrences = 29L * (120 - (w - 1))
    assert(shuffleRecords < dupOccurrences * w / 2,
      s"job shuffled $shuffleRecords records — ×w coverage " +
        s"explosion regression (old shape: >${dupOccurrences * w} in " +
        "the coverage distinct alone)")
  }

  test("jaccard of word shingles: identical=1, disjoint=0") {
    val df = Seq((
      Seq("a b c", "b c d"),
      Seq("a b c", "b c d"),
      Seq("x y z"))).toDF("s1", "s2", "s3")
    val r = df.select(
      Dedup.jaccard($"s1", $"s2").as("same"),
      Dedup.jaccard($"s1", $"s3").as("disjoint")).as[(Double, Double)].head()
    assert(r._1 === 1.0 && r._2 === 0.0)
  }

  test("minHashPairs finds the planted near-dup pair and not unrelated docs") {
    val pairs = Dedup.minHashPairs(base.toDF("doc_id", "text"), "doc_id", "text",
      shingleK = 3, bands = 16, rowsPerBand = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // exact dup modulo normalization
    assert(pairs.contains((1L, 4L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) })
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(5L) })
  }

  test("simHash is identical for normalized-equal docs; near for near-dups") {
    val sigs = base.toDF("doc_id", "text")
      .select($"doc_id", Dedup.simHash64($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) === sigs(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(4L)) <= 8)
    assert(hamming(sigs(1L), sigs(3L)) > 8)
  }

  test("simHashPairs returns hamming-bounded candidate pairs") {
    val pairs = Dedup.simHashPairs(base.toDF("doc_id", "text"), "doc_id", "text",
      maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))
  }

  test("embeddingPairs flags scaled copies (cosine 1) above threshold") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f, 0.0f)), // colinear with 1
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(e, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  /** Min-label connected components, the reference [[Dedup.clustersStar]]
    * is checked against: each round every node adopts the smallest label
    * among itself and its neighbors, so it converges in O(component
    * diameter) rounds. (id, cluster_id = component min) for every id in
    * an edge.
    */
  private def clusters(pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionAll(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .localCheckpoint()
    var labels = edges.groupBy(col("a").as("id"))
      .agg(least(min(col("b")), first(col("a"))).as("cluster_id"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      assert(rounds < 20, "min-label propagation did not converge in 20 rounds")
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "b")
          .withColumnRenamed("cluster_id", "nb_label"), "b")
        .groupBy(col("a").as("id"))
        .agg(min(col("nb_label")).as("nb_min"))
      val next = labels.join(neighborLabels, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nb_min"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint()
      changed = next.as("n").join(labels.as("o"), "id")
        .filter(col("n.cluster_id") =!= col("o.cluster_id")).count()
      labels = next
      rounds += 1
    }
    labels
  }

  /** `f` with broadcasts off, so [[Dedup.clustersStar]] runs its star
    * rounds at any size instead of finishing on the driver.
    */
  private def withRounds[T](f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, was)
  }

  test("clustersStar's driver finish equals its star rounds") {
    def labels(pairs: Seq[(Long, Long)]): Map[Long, Long] =
      Dedup.clustersStar(pairs.toDF("id_a", "id_b")).as[(Long, Long)].collect().toMap
    def check(what: String, pairs: Seq[(Long, Long)]): Unit = {
      val (driver, d) = shapeOf(labels(pairs))
      val (rounds, r) = shapeOf(withRounds(labels(pairs)))
      assert(driver === rounds, what)
      assert(driver.size === pairs.flatMap(p => Seq(p._1, p._2)).distinct.size, what)
      assert(d.jobs <= r.jobs, s"$what: the driver finish ran ${d.jobs} jobs, " +
        s"the rounds ${r.jobs}")
    }
    val rnd = new scala.util.Random(29)
    for (g <- 1 to 3)
      check(s"random graph $g", Seq.fill(40 * g)(
        (rnd.nextInt(30 * g).toLong, rnd.nextInt(30 * g).toLong)))
    check("300-node chain", (0L until 299L).map(i => (i, i + 1)))
    check("stars", (1L to 20L).map(i => (100L, 100L + i)) ++
      (1L to 5L).map(i => (7L + i, 7L)))
    check("self-loop-only ids", Seq((1L, 2L), (5L, 5L), (9L, 9L), (9L, 9L)))
    check("duplicate and reversed pairs",
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L), (8L, 6L), (6L, 8L)))
    // a null id leaves the labeling to the rounds, (null, null) row included
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("id_a", "id_b")
    assert(Dedup.clustersStar(withNull).collect().toSet ===
      withRounds(Dedup.clustersStar(withNull).collect().toSet))
  }

  test("clusters finds connected components with min-id labels") {
    // components: {1,2,3,4} (chain), {10,11}, singletons absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("clustersStar matches clusters on mixed component shapes") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L), // star
      (30L, 31L), (31L, 32L), (32L, 30L), // triangle
      (40L, 40L))                         // self-loop only -> singleton
      .toDF("id_a", "id_b")
    def star = Dedup.clustersStar(pairs).as[(Long, Long)].collect().toMap
    val naive = clusters(pairs).as[(Long, Long)].collect().toMap
    // the driver finish and the star rounds
    for (got <- Seq(star, withRounds(star))) {
      assert(got === naive + (40L -> 40L)) // naive drops self-loop-only ids
      assert(got(4L) === 1L && got(23L) === 20L && got(32L) === 30L)
    }
  }

  test("property: clustersStar == brute-force union-find on random graphs") {
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 3) {
      val n = 60
      val edges = (1 to 90).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // driver-side union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> {
          // component min = min over member ids sharing the root
          val r = find(id.toInt)
          edges.flatMap(e => Seq(e._1, e._2)).filter(x => find(x.toInt) == r).min
        }).toMap
      def got = Dedup.clustersStar(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got === expect, "driver finish")
      assert(withRounds(got) === expect, "star rounds")
    }
  }

  test("clustersStar converges on a 300-node path in few rounds (naive cannot)") {
    // a chain component has diameter 299: min-label propagation needs
    // ~299 rounds; the star rounds square the reach per pass
    val pairs = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = withRounds(Dedup.clustersStar(pairs, maxIterations = 12)
      .as[(Long, Long)].collect())
    assert(got.length === 300 && got.forall(_._2 === 0L))
  }

  test("clustersStar: empty pairs yield an empty labeling") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clustersStar(pairs).count() === 0L)
  }

  test("clustersStarIncremental == full recompute over the pair union") {
    val rnd = new scala.util.Random(41)
    val n = 50
    val oldPairs = (1 to 40)
      .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val newPairs = (1 to 25) // overlaps old ids AND introduces new ones
      .map(_ => (rnd.nextInt(2 * n).toLong, rnd.nextInt(2 * n).toLong))
    def check(what: String): Unit = {
      val labels = Dedup.clustersStar(oldPairs.toDF("id_a", "id_b"))
      val inc = Dedup.clustersStarIncremental(labels,
          newPairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      val full = Dedup.clustersStar((oldPairs ++ newPairs).toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(inc === full, what)
    }
    check("driver finish")
    withRounds(check("star rounds"))
    // a merging pair actually merges: all members share the new min
    val merged = Dedup.clustersStarIncremental(
      Seq((10L, 10L), (20L, 20L), (30L, 30L)).toDF("id", "cluster_id")
        .select(col("id"), col("cluster_id")),
      Seq((10L, 20L), (20L, 30L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(merged === Map(10L -> 10L, 20L -> 10L, 30L -> 10L))
  }

  test("clusterSurvivors keeps min id per cluster plus all unpaired docs") {
    val docs = (1L to 6L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val surv = Dedup.clusterSurvivors(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(surv === Seq(1L, 3L, 5L, 6L))
  }

  test("clusterSurvivors routes through star CC: a 300-node chain " +
    "component resolves within the default round budget") {
    // min-label propagation needs ~299 rounds here and would return an
    // UPPER approximation under any sane cap — the star routing is what
    // makes pathological component shapes safe for the batch pipelines
    val docs = ((0L to 299L) :+ 1000L).map(i => (i, s"d$i"))
      .toDF("doc_id", "text")
    val pairs = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val surv = withRounds(Dedup.clusterSurvivors(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq)
    assert(surv === Seq(0L, 1000L))
  }

  test("incremental labels fold: shuffle volume is a small multiple of " +
    "labels+batch, not the full recompute's round ladder") {
    // a 2000-node path costs clustersStar ~11 O(log² n) rounds of
    // shuffles; folding a 2-pair batch into the RESULTING star forest
    // must converge in ~1-2 rounds — the whole point of the
    // incremental entry. Shuffle records are the observable proxy.
    val path = (0L until 1999L).map(i => (i, i + 1))
    withRounds {
      val (labels, full) = shapeOf {
        Dedup.clustersStar(path.toDF("id_a", "id_b")) // eager checkpoint
      }
      val (inc, fold) = shapeOf {
        Dedup.clustersStarIncremental(labels,
          Seq((1999L, 2000L), (2000L, 2001L)).toDF("id_a", "id_b"))
      }
      val (fullVol, foldVol) = (full.shuffleRecordsWritten, fold.shuffleRecordsWritten)
      val got = inc.as[(Long, Long)].collect()
      assert(got.length === 2002 && got.forall(_._2 === 0L))
      assert(foldVol < fullVol / 2,
        s"fold shuffled $foldVol records vs $fullVol for the recompute — " +
          "the incremental path is re-running the round ladder")
    }
  }

  test("clustersStar: an exhausted round budget still yields one " +
    "consistent row per id") {
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = withRounds(Dedup.clustersStar(pairs, maxIterations = 1)
      .as[(Long, Long)].collect())
    // not converged — but the labeling must be a function: one row per
    // id, label <= id (labels only ever move down toward the min)
    assert(got.length === 200)
    assert(got.map(_._1).distinct.length === 200)
    assert(got.forall { case (id, cl) => cl <= id })
  }

  test("containmentPairs: a quoted benchmark scores containment ~1 at " +
    "Jaccard ~0.5; unrelated docs never pair") {
    val body = (1 to 40).map(i => s"quote$i").mkString(" ")
    val extra = (1 to 40).map(i => s"extra$i").mkString(" ")
    val docs = Seq(
      (1L, s"$body $extra"),        // contains the benchmark verbatim
      (2L, (1 to 80).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq((100L, body)).toDF("bench_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        bench, "bench_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 100L)))
    assert(got.head._3 === 1.0) // every bench shingle appears in doc 1
    // the symmetric Jaccard of the same pair sits near 0.5 — the case
    // plain near-dup thresholds at 0.7 would MISS
    val j = Dedup.minHashPairs(
      docs.filter($"doc_id" === 1).unionByName(
        bench.toDF("doc_id", "text")),
      "doc_id", "text", threshold = 0.0)
      .as[(Long, Long, Double)].collect()
    assert(j.forall(_._3 < 0.6), s"jaccard unexpectedly high: ${j.toSeq}")
  }

  test("ngramJaccardPairs respects blocking") {
    val docs = Seq(
      (1L, "srcA", "one two three four five six seven"),
      (2L, "srcA", "one two three four five six eight"),
      (3L, "srcB", "one two three four five six seven") // same text, other block
    ).toDF("doc_id", "source", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L))) // (1,3) blocked apart despite jaccard 1
  }

  test("ngramJaccardPairs bounds a skewed block via banded candidates") {
    // one degenerate block far over the cap, with planted near-dup pairs;
    // a small block stays on the exact path alongside it
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    def doc(seed: Int): String =
      (0 until 12).map(j => vocab((seed * 7 + j * 5 + j * j) % vocab.length))
        .mkString(" ")
    val bigBlock = (0 until 60).map(i => (i.toLong, "big", doc(i)))
    // planted: 1000+i is a near-copy of doc i (one word appended)
    val planted = (0 until 3).map(i => (1000L + i, "big", doc(i) + " omega"))
    val smallBlock = Seq(
      (2000L, "small", "one two three four five six seven"),
      (2001L, "small", "one two three four five six seven eight"))
    val docs = (bigBlock ++ planted ++ smallBlock).toDF("doc_id", "source", "text")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.5, maxBlockSize = 100000)
      .as[(Long, Long, Double)].collect().toSet
    val guarded = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.5, maxBlockSize = 50) // big block (63) over cap
      .as[(Long, Long, Double)].collect().toSet
    // verify is exact → never false positives
    assert(guarded.subsetOf(exact))
    // planted high-jaccard pairs survive the banded path (recall at
    // j≈0.77 with threshold-0.5 banding is ≈1)
    for (i <- 0 until 3)
      assert(guarded.exists(p => p._1 == i.toLong && p._2 == 1000L + i),
        s"planted pair ($i, ${1000 + i}) missed by banded path")
    // the small block still runs exact
    assert(guarded.exists(p => p._1 == 2000L && p._2 == 2001L))
  }

  test("property: signature-agreement estimator tracks exact Jaccard within 3σ") {
    // σ = sqrt(j(1-j)/64) ≈ 0.06 worst case; 3σ = 0.19. Random doc
    // pairs across the overlap spectrum (shared prefix of varying
    // length + distinct tails).
    val rnd = new scala.util.Random(11)
    val docs = (0 until 20).map { i =>
      val shared = (0 until rnd.nextInt(40)).map(j => s"s$j")
      val own = (0 until 10 + rnd.nextInt(30)).map(j => s"d${i}x$j")
      (i.toLong, (shared ++ own).mkString(" "))
    }.toDF("doc_id", "text")
    val sh = docs.select($"doc_id",
      Dedup.wordShingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
    val withSig = sh.select($"doc_id", $"sh",
      graft.functions.MinHashExpressions.minhashSig($"sh", 64).as("sig"))
    val pairs = withSig.as("l").join(withSig.as("r"), $"l.doc_id" < $"r.doc_id")
      .select(
        Dedup.jaccard($"l.sh", $"r.sh").as("exact"),
        Dedup.estimatedJaccard($"l.sig", $"r.sig").as("est"))
      .as[(Double, Double)].collect()
    assert(pairs.length === 190)
    pairs.foreach { case (exact, est) =>
      assert(math.abs(exact - est) <= 0.19,
        s"estimator off by ${math.abs(exact - est)} at j=$exact")
    }
  }

  test("indexed near-dup: cross-batch dups drop, novel and short docs survive") {
    def doc(i: Int): String =
      (0 until 30).map(j => s"w${(i * 31 + j * 7) % 97}").mkString(" ")
    val corpus = (0 until 20).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val index = Dedup.bucketIndex(corpus, "doc_id", "text")
    // batch: 100 = near-copy of corpus doc 3 (one word appended),
    // 101 = novel, 102 = too short to shingle (k=5)
    val batch = Seq(
      (100L, doc(3) + " omega"),
      (101L, (0 until 30).map(j => s"z$j").mkString(" ")),
      (102L, "tiny doc")).toDF("doc_id", "text")
    val got = Dedup.dedupAgainstIndex(batch, index, "doc_id", "text")
      .select("doc_id", "dup_of").as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((100L, Some(3L)), (101L, None), (102L, None)))
    // an impossible threshold lets even the near-copy through
    val strict = Dedup.dedupAgainstIndex(batch, index, "doc_id", "text",
      threshold = 1.01)
    assert(strict.filter($"dup_of".isNotNull).count() === 0L)
    index.unpersist(); got
  }

  test("two-phase dedupBatchThenIndex: batch collapse first, then the index probe") {
    def doc(i: Int): String = (0 until 30).map(j => s"d${i}w$j").mkString(" ")
    val corpus = (0 until 5).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val index = Dedup.bucketIndex(corpus, "doc_id", "text")
    val batch = Seq(
      (100L, doc(100)),             // novel, batch owner of 101
      (101L, doc(100) + " omega"),  // batch-internal dup of 100
      (102L, doc(3) + " extra"),    // index dup of corpus doc 3
      (103L, doc(103))              // novel
    ).toDF("doc_id", "text")
    val got = Dedup.dedupBatchThenIndex(batch, index, "doc_id", "text")
      .select("doc_id", "dup_of").as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((100L, None), (101L, Some(100L)),
      (102L, Some(3L)), (103L, None)))
    index.unpersist()
  }

  test("indexed near-dup: updateIndex folds survivors in; owners are stable") {
    def doc(i: Int): String =
      (0 until 30).map(j => s"v${(i * 37 + j * 11) % 89}").mkString(" ")
    val corpus = (0 until 10).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val idx0 = Dedup.bucketIndex(corpus, "doc_id", "text")
    val batch1 = Seq((50L, (0 until 30).map(j => s"q$j").mkString(" ")))
      .toDF("doc_id", "text")
    val d1 = Dedup.dedupAgainstIndex(batch1, idx0, "doc_id", "text")
    assert(d1.filter($"dup_of".isNotNull).count() === 0L)
    val idx1 = Dedup.updateIndex(idx0, batch1, "doc_id", "text")
    // batch2: near-copy of batch1's survivor → caught by the UPDATED
    // index (not by idx0), proving the fold-in works
    val batch2 = Seq((60L, (0 until 30).map(j => s"q$j").mkString(" ") + " omega"))
      .toDF("doc_id", "text")
    assert(Dedup.dedupAgainstIndex(batch2, idx0, "doc_id", "text")
      .filter($"dup_of".isNotNull).count() === 0L)
    val d2 = Dedup.dedupAgainstIndex(batch2, idx1, "doc_id", "text")
      .select("doc_id", "dup_of").as[(Long, Option[Long])].collect().toSeq
    assert(d2 === Seq((60L, Some(50L))))
    // existing owners keep their buckets after the merge: every idx0
    // bucket key still maps to its idx0 owner
    val moved = idx1.as("n").join(idx0.as("o"),
      $"n.band" === $"o.band" && $"n.band_hash" === $"o.band_hash")
      .filter($"n.owner_id" =!= $"o.owner_id").count()
    assert(moved === 0L)
    Seq(idx0, idx1).foreach(_.unpersist())
  }

  test("self-matches fold is split-invariant: hulls from ANY corpus split union to the one-shot report") {
    // the q272 streaming claim, stated at the library level: per-(fp,
    // doc) hulls are doc-local, so hull tables computed over ANY
    // disjoint corpus split — not just ordered halves — union to the
    // same input, and the end-of-ingest cap+pairing fold equals the
    // one-shot report
    val shared = "every member of this little family carries this " +
      "exact boilerplate run of text through the fingerprint window"
    val docs = (0L until 30L).map { i =>
      val own = (0 until 12).map(j => s"w${i}x$j").mkString(" ")
      (i, if (i % 3 == 0) s"$own $shared" else own)
    }.toDF("doc_id", "text")
    val oneShot = Dedup.winnowSelfMatches(docs, "doc_id", "text",
      k = 20, w = 8, minSharedFps = 2, maxFpDocs = 64L)
    // three interleaved (non-contiguous) batches
    val parts = (0 until 3).map(r =>
      Dedup.winnowSelfHulls(docs.filter($"doc_id" % 3 === r),
        "doc_id", "text", 20, 8))
    val folded = Dedup.winnowSelfPairsFromHulls(
      parts.reduce(_ unionByName _), k = 20, minSharedFps = 2,
      maxFpDocs = 64L, raw = false)
    val key = (r: org.apache.spark.sql.Row) =>
      (0 until r.length).map(r.get).mkString("|")
    assert(folded.collect().map(key).sorted.toSeq ===
      oneShot.collect().map(key).sorted.toSeq)
    assert(oneShot.count() > 0L, "fixture planted no pairs")
  }
}
