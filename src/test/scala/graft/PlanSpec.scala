package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Plan-shape regression tests: the scale properties SCALE.md claims
  * (pushdown, pruning, broadcast, top-k pushdown) asserted against the
  * actual physical plans, so a refactor that silently loses one fails
  * CI instead of only showing up at 100 TB.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("q01: filter and projection reach the parquet scan") {
    val p = plan("q01_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
      "l_quantity:double,l_extendedprice:double>"), s"columns not pruned:\n$p")
  }

  test("q13: dimension join broadcasts, fact side never shuffles pre-agg") {
    val p = plan("q13_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("q14: all four dimension joins broadcast") {
    val p = plan("q14_join_multiway")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 4, s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
  }

  test("q17: per-key top-k applies WindowGroupLimit pushdown") {
    val p = plan("q17_window_topk")
    assert(p.contains("WindowGroupLimit"), s"rank-limit not pushed:\n$p")
  }

  test("q19: global top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q19_global_topk")
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
  }

  test("q25: serving pipeline keeps fact scans shuffle-free (broadcast state)") {
    val df = SparkEntry.queries("q25_bias_serve_eval")(spark, dir)
    df.collect()
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e
    }
    // only the two bias aggregations shuffle; the predict joins are
    // broadcasts and the final metric agg is a partial+final pair
    assert(shuffles.size <= 3,
      s"too many exchanges (${shuffles.size}) in serving plan")
  }

  test("q36: approximate stats plan at constant memory (single agg pair)") {
    val p = plan("q36_approx_stats")
    assert(!p.contains("Expand"), s"approx stats should not expand rows:\n$p")
  }

  // AQE wraps the plan in AdaptiveSparkPlanExec (a leaf until executed),
  // so exchanges are counted in the plan text, not via collect().
  private def exchangeCount(name: String): Int =
    "Exchange ".r.findAllIn(plan(name)).size

  test("q61: both session windows + final agg share ONE shuffle on user_id") {
    // lag-window, running-sum-window and the session aggregate all key
    // on user_id; a second exchange would mean the shared partitioning
    // was lost
    val n = exchangeCount("q61_sessionize")
    assert(n === 1, s"expected 1 exchange, got $n:\n${plan("q61_sessionize")}")
  }

  test("q63: explicit-domain pivot shuffles only pre-aggregated rows") {
    // Spark plans pivot as two aggregations: count by (user, type),
    // then pivotfirst by user. Both exchanges carry partial-aggregated
    // rows (≤ users×types), never fact rows — that, plus no distinct
    // domain-discovery job (the domain is explicit), is the scale claim.
    val p = plan("q63_pivot")
    val n = "Exchange ".r.findAllIn(p).size
    assert(n <= 2, s"pivot should shuffle at most twice, got $n:\n$p")
    assert("partial_count|partial_pivotfirst".r.findAllIn(p).size === 2,
      s"exchanges must be map-side combined:\n$p")
  }

  test("q67: band join broadcasts the band table (no shuffled nested loop)") {
    val p = plan("q67_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("q74: upsert is one shuffle with WindowGroupLimit pushed below it") {
    val p = plan("q74_upsert_merge")
    val n = "Exchange ".r.findAllIn(p).size
    assert(n === 1, s"upsert should shuffle exactly once, got $n:\n$p")
    // the rank-1 filter prunes per-key rows BEFORE the exchange too
    // (partial WindowGroupLimit), so duplicate-heavy batches shrink
    // map-side
    assert("WindowGroupLimit".r.findAllIn(p).size === 2,
      s"expected partial+final WindowGroupLimit:\n$p")
  }

  test("q75: decontamination is a broadcast anti-join, corpus unshuffled") {
    val p = plan("q75_decontaminate")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined, s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle:\n$p")
  }

  test("q76: sequence packing shuffles once, keyed by shard") {
    val n = exchangeCount("q76_sequence_pack")
    assert(n === 1, s"expected 1 exchange, got $n:\n${plan("q76_sequence_pack")}")
  }

  test("q84: token chunking is map-only — zero exchanges") {
    val n = exchangeCount("q84_chunk_tokens")
    assert(n === 0, s"expected 0 exchanges, got $n:\n${plan("q84_chunk_tokens")}")
  }

  test("q87: repetition profile is map-only — zero exchanges") {
    val n = exchangeCount("q87_repetition")
    assert(n === 0, s"expected 0 exchanges, got $n:\n${plan("q87_repetition")}")
  }

  test("q88: mixture sampling broadcasts the rate table; corpus rows never shuffle") {
    val p = plan("q88_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), s"rate table not broadcast:\n$p")
    // the only exchanges allowed are the tiny |groups|-row aggregations
    // feeding the rate table (and their broadcast), never a corpus-sized
    // repartition: no SortMergeJoin or shuffled join of documents
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$p")
  }

  test("q89: PII redaction is map-only — zero exchanges") {
    val n = exchangeCount("q89_redact_pii")
    assert(n === 0, s"expected 0 exchanges, got $n:\n${plan("q89_redact_pii")}")
  }


  test("q110: URL canonicalization is map-only — zero exchanges") {
    val n = exchangeCount("q110_url_canonicalize")
    assert(n === 0, s"expected 0 exchanges, got $n:\n${plan("q110_url_canonicalize")}")
  }

  test("q111: URL dedup is one map-side-combinable shuffle of (url, id) pairs") {
    val p = plan("q111_url_dedup")
    val n = exchangeCount("q111_url_dedup")
    assert(n === 1, s"expected 1 exchange, got $n:\n$p")
    assert(p.contains("partial_min") || p.contains("partial"),
      s"owner election must partial-aggregate map-side:\n$p")
  }

  test("q113: quality scoring is map-only — zero exchanges") {
    val n = exchangeCount("q113_quality_score")
    assert(n === 0, s"expected 0 exchanges, got $n:\n${plan("q113_quality_score")}")
  }

  test("q156: Gopher rule gates are map-only — zero exchanges") {
    val n = exchangeCount("q156_gopher_gates")
    assert(n === 0, s"expected 0 exchanges, got $n:\n${plan("q156_gopher_gates")}")
  }

  test("q110b: PSL domain extraction stays map-only — zero exchanges") {
    // the whole PSL rule snapshot rides the plan as InSet literals;
    // a refactor that turns it into a lookup JOIN would show up here
    val n = exchangeCount("q110b_url_canonicalize_psl")
    assert(n === 0, s"expected 0 exchanges, got $n:\n${plan("q110b_url_canonicalize_psl")}")
  }

  test("q116b: PSL-mode domain cap keeps the WindowGroupLimit rewrite") {
    val p = plan("q116b_domain_cap_psl")
    assert(p.contains("WindowGroupLimit"), s"cap-limit not pushed:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
  }

  test("q141: quality-ranked domain top-k keeps the WindowGroupLimit rewrite") {
    val p = plan("q141_domain_topk")
    assert(p.contains("WindowGroupLimit"), s"top-k limit not pushed:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
  }

  test("q121b: fixed-centroid assignment is map-side; no data-row shuffle joins") {
    // assignment is one expression on the scan; the only exchanges
    // belong to the |clusters|-key count agg + the singleton sqrt-sum
    // behind the rate table, and the rate join back is a broadcast
    val df = SparkEntry.queries("q121b_cluster_balance_fixed")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(shuffles.size <= 3,
      s"too many exchanges (${shuffles.size}):\n$p")
  }

  test("q115: shuffle-shard assignment is map-only — zero exchanges") {
    val n = exchangeCount("q115_shuffle_shards")
    assert(n === 0, s"expected 0 exchanges, got $n:\n${plan("q115_shuffle_shards")}")
  }

  test("q86: n-gram decontamination broadcasts the benchmark grams, anti-joins hit ids") {
    val p = plan("q86_ngram_decontaminate")
    // the gram probe against the benchmark must be a broadcast join —
    // corpus gram rows never shuffle for it
    assert(p.contains("BroadcastHashJoin"), s"gram probe not broadcast:\n$p")
    assert("Join .*LeftAnti".r.findFirstIn(p).isDefined, s"no anti join:\n$p")
  }

  test("q125/q127/q128: sketches shuffle only pre-aggregated register rows") {
    // every portable sketch must be a partial (map-side) aggregation
    // followed by ONE exchange of ≤ register-count rows — never a
    // shuffle of raw keys
    for ((name, partial) <- Seq(
        "q125_hll_registers" -> "partial_max",
        "q127_cm_sketch" -> "partial_count",
        "q128_hist_registers" -> "partial_count")) {
      val df = SparkEntry.queries(name)(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains(partial), s"$name: no map-side combine:\n$p")
      // string-count, not a ShuffleExchangeLike collect: AQE wraps the
      // un-executed plan and hides the exchanges from tree collects
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(shuffles === 1,
        s"$name: expected 1 exchange, got $shuffles:\n$p")
    }
  }

  test("gated encode: small dims broadcast, oversized dims degrade to shuffle joins") {
    import spark.implicits._
    val r = Seq(("u1", "i1", 5.0), ("u2", "i2", 3.0))
      .toDF("user", "item", "rating")
    // the trainers' encode: dims of ~50 B each, under the default cap
    val fits = graft.encode.Encoding.keyed(r)
    val small = fits.encode(r).queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(small).size === 2,
      s"small dims must be broadcast-hinted:\n$small")
    // kill auto-broadcast so only the (absent) hint could broadcast:
    // over-cap estimates must degrade to shuffle joins — the 100 TB
    // posture (SURVEY §1.3), never a forced driver-side build
    val auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val over = graft.encode.Encoding.keyed(r, capBytes = 0L)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = over.encode(r).queryExecution.executedPlan.toString
      assert(!big.contains("BroadcastHashJoin"),
        s"oversized dim must not carry a broadcast hint:\n$big")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
      Seq(fits, over).foreach { k => k.release(); k.userDim.release(); k.itemDim.release() }
    }
  }

  test("no unconditional broadcast of a dimension-cardinality table in fit paths") {
    // the fit paths must gate EVERY dim/bias/state broadcast by
    // estimated bytes; this greps the sources for the raw pattern so a
    // future refactor cannot silently reintroduce the hint.
    val fitFiles = Seq(
      "src/main/scala/graft/encode/Encoding.scala",
      "src/main/scala/graft/recommender/AlsRecommender.scala",
      "src/main/scala/graft/recommender/GdMf.scala",
      "src/main/scala/graft/recommender/BprMf.scala",
      "src/main/scala/graft/recommender/FusedEpoch.scala",
      "src/main/scala/graft/prep/Prep.scala")
    for (f <- fitFiles) {
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)))
      // every broadcast( call in these files must sit on a line with an
      // inline size gate (`if (<estimate>) broadcast(...) else ...`);
      // the one allowed raw use is the documented quadratic VERIFIER
      // crossJoin in AlsRecommender.topNExact (explicitly not the
      // production path — recommendForAllUsersAnn is)
      val lines = src.linesIterator.zipWithIndex.filter {
        case (l, _) => l.contains("broadcast(") && !l.trim.startsWith("*") &&
          !l.trim.startsWith("//") && !l.contains("if (") &&
          !l.contains("crossJoin(broadcast(")
      }.toList
      assert(lines.isEmpty,
        s"$f has ungated broadcast() hints: ${lines.map { case (l, i) => s"${i + 1}: ${l.trim}" }.mkString("; ")}")
    }
  }

  test("no trainer builds its own dims or stats: the keyed set-up is Encoding.keyed") {
    // the dims, the probe and the stats of every trainer come from one
    // function; this greps the recommender sources so a trainer cannot
    // grow its own copy again
    val dir = java.nio.file.Paths.get("src/main/scala/graft/recommender")
    val files = {
      val s = java.nio.file.Files.list(dir)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".scala")) finally s.close()
    }
    assert(files.size >= 3, s"no trainer sources under $dir")
    val banned = Seq("dimensionAuto(", "approx_count_distinct(", "Encoding.ratingStats(")
    val hits = for {
      f <- files
      (l, i) <- new String(java.nio.file.Files.readAllBytes(f)).linesIterator.zipWithIndex
      b <- banned if l.contains(b)
    } yield s"${f.getFileName}:${i + 1}: ${l.trim}"
    assert(hits.isEmpty, s"trainer-side set-up: ${hits.mkString("; ")}")
  }

  test("q48b: fixed-LSH candidates come from a bucket equi-join, never a cartesian") {
    val df = SparkEntry.queries("q48b_ann_lsh_fixed")(spark, dir)
    try {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"cartesian in fixed LSH:\n$p")
      // the one nested-loop join Spark may emit is the final k-limit; the
      // candidate generation itself must be hash/sort-merge on (table,
      // bucket)
      assert(p.contains("Join") || p.contains("InMemory"), s"plan:\n$p")
    } finally df.unpersist()
  }

  test("q223/q225/q230: the map-only passes are exchange-free scans") {
    // chunking, the PAN audit, and winnowing all claim "rides the
    // ingest scan, zero shuffle" — assert no ShuffleExchange appears
    for (name <- Seq("q223_chunk_documents", "q225_credit_card_audit",
        "q230_winnow_fingerprints")) {
      val shuffles = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.collect {
          case e: ShuffleExchangeLike => e
        }
      assert(shuffles.isEmpty, s"$name shuffles: ${shuffles.size}")
    }
  }

  test("q229: containment candidates come from a band equi-join, never a cartesian") {
    val p = plan("q229_containment_pairs")
    assert(!p.contains("CartesianProduct"), s"cartesian in containment:\n$p")
  }

  test("q264: self-matches pair via the capped per-fp lists — one kernel pass, no join") {
    val df = SparkEntry.queries("q264_winnow_self_matches")(spark, dir)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    // the pairing is a map-side explode of bounded carrier lists — a
    // plan with ANY join node means the fps⨝fps self-join (and its
    // triple kernel recompute) crept back in
    assert(!p.contains("Join"), s"self-matches must not join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // exactly ONE WinnowSelect kernel scan feeds the whole plan
    assert("winnowselect".r.findAllIn(p.toLowerCase).size <= 1,
      s"kernel relation computed more than once:\n$p")
  }

  test("q232/q235/q237/q241: the intake-cleanup passes are exchange-free scans") {
    // C4 line filter, charset profile, NFC normalization, and
    // control-char sanitation all claim "map-only, zero shuffle" —
    // the whole cleanup family must ride the ingest scan
    for (name <- Seq("q232_c4_line_filter", "q235_charset_profile",
        "q237_nfc_normalize", "q241_sanitize_ctrl", "q243_intake_clean")) {
      val shuffles = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.collect {
          case e: ShuffleExchangeLike => e
        }
      assert(shuffles.isEmpty, s"$name shuffles: ${shuffles.size}")
    }
  }
}
