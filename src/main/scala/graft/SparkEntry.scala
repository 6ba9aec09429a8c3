package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.encode.Encoding
import graft.io.{Lake, RatingsIO, Tables}
import graft.pipeline.{Curation, Pipelines, Profiling}
import graft.prep.Prep
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.recommender.{AlsRecommender, Evaluator, GdMf, Serving}
import graft.similarity.Ann
import graft.streaming.StreamingPrep
import graft.text.{Quality, TextAnalysis, Urls}

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql` where
  * SQL-expressible) per implemented operator of SURVEY.md §2.
  *
  * Naming: q0x prep/ETL · q1x agg/join/window/set · q2x serving/eval ·
  * q3x recommenders · q4x LLM-data-pipeline ops · q5x streaming.
  */
object SparkEntry {

  /** Order-independent float aggregation. Double addition is not
    * associative, so `round(sum(doubleCol))` depends on partial-agg
    * order — nondeterministic run-to-run under shuffle, which the
    * driver's exact hash compare catches as a spurious mismatch (it
    * did once, in round 1, on the streaming windowed sum). Fixed-point
    * is the fix: `floor(x·10⁶)` is the identical IEEE multiply+floor
    * in Spark and DuckDB, and integer sums are exact and associative.
    * Accumulating the scaled longs as DECIMAL(38,0) keeps the sum
    * overflow-safe at any row count (100 TB posture), with no decimal
    * rounding involved anywhere (double→decimal CASTs are NOT safe:
    * Spark rounds the shortest string repr HALF_UP, DuckDB truncates;
    * the same shortest-repr trap rules out `round()`, which is why we
    * accept floor's downward bias of ≤ n·1e-6 per aggregate — the
    * contract here is engine/oracle self-consistency at 1e-6 tolerance,
    * not agreement with an infinitely-precise sum).
    */
  private val FpScale = 1e6
  private def fsum(c: Column): Column =
    sum(floor(c * lit(FpScale)).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .cast("double") / lit(FpScale)
  /** SQL-AVG semantics: denominator is the NON-NULL count of `c`
    * (matches `favgSql`'s `count(x)`); null-only groups yield null.
    */
  private def favg(c: Column): Column = fsum(c) / count(c)
  private def fsumSql(x: String): String =
    s"CAST(sum(CAST(floor(($x) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6"
  private def favgSql(x: String): String = s"${fsumSql(x)} / count($x)"

  /** Per-invocation-unique scratch directory for the sink+scan
    * roundtrip queries (q09/q24/q68/q73/q94/q96). The round-5 driver
    * gate recorded hash mismatches on q94/q96 that no clean-room rerun
    * reproduced; the shared-fixed-path design (keyed only by the
    * source-dir hash) allowed any concurrent or stale process to
    * overwrite a roundtrip dir inside another process's write→read
    * window. A fresh `createTempDirectory` per call closes that window
    * completely: nothing else can ever know the path. Dirs live under
    * java.io.tmpdir and are deleted recursively on JVM exit.
    */
  private def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_${prefix}_")
    // bounded, NOT eager-evicted: deleting the PREVIOUS dir at the next
    // invocation (round 5) raced a concurrent invocation of the same
    // query mid-read — the round-5 class of nondeterministic roundtrip
    // failures. Keeping the last N per prefix bounds a long-lived
    // session's disk (the unbounded append-only leak, round-7 ADVICE)
    // while a reader would have to lag N whole same-prefix invocations
    // behind the newest to lose its dir — drivers here run at most a
    // handful of invocations of one query concurrently (bench
    // min-of-3). Dirs are roundtrip-result-sized (MBs at gate scale);
    // the shutdown hook reclaims whatever remains at JVM exit.
    val evicted = scratchDirs.synchronized {
      val q = scratchDirs.getOrElseUpdate(
        prefix, scala.collection.mutable.Queue.empty[java.nio.file.Path])
      q.enqueue(d)
      if (q.size > ScratchRetainPerPrefix) Some(q.dequeue()) else None
    }
    // log eviction: a driver running MORE than the retention bound of
    // concurrent same-prefix invocations would otherwise silently
    // reintroduce the delete-under-reader race the bound exists to
    // prevent — make heavier concurrency detectable, and tunable via
    // -Dgraft.scratchRetainPerPrefix=N
    evicted.foreach { p =>
      System.err.println(s"[graft] scratch eviction for prefix '$prefix' " +
        s"(retain=$ScratchRetainPerPrefix; raise -Dgraft.scratchRetainPerPrefix " +
        "if invocations of this query overlap more deeply): deleting " + p)
      deleteRecursively(p) // I/O outside the lock
    }
    d.toString
  }
  private val ScratchRetainPerPrefix =
    sys.props.get("graft.scratchRetainPerPrefix").map(_.toInt).getOrElse(8)
  private val scratchDirs = scala.collection.mutable.Map
    .empty[String, scala.collection.mutable.Queue[java.nio.file.Path]]
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    scratchDirs.synchronized {
      scratchDirs.valuesIterator.foreach(_.foreach(deleteRecursively))
    }))
  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    try {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.forEach(c => deleteRecursively(c)) finally s.close()
      }
      Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () }
  }

  /** Ratings relation (user,item,rating,time) + unique event_id for
    * deterministic tie-breaks; see Tables.ratingsFromEvents.
    */
  private def ratings(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id").cast("string").as("user"),
      get_json_object(col("props"), "$.k").cast("long").cast("string").as("item"),
      col("value").as("rating"),
      unix_micros(col("ts")).as("time"),
      col("event_id"))

  /** The same relation as a DuckDB CTE — interpolated into every oracle. */
  private val ratingsCte: String =
    """WITH ratings AS (
      |  SELECT CAST(user_id AS VARCHAR) AS "user",
      |         CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR) AS item,
      |         value AS rating,
      |         epoch_us(ts) AS "time",
      |         event_id
      |  FROM events
      |)""".stripMargin

  // ---------------------------------------------------------------- q0x prep

  private def q01(s: SparkSession, dir: String): DataFrame =
    Prep.projectRename(
      Tables.lineitem(s, dir),
      Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"),
      Seq("okey", "pkey", "qty", "price"))
      .filter(col("qty") < 10)

  private def q02(s: SparkSession, dir: String): DataFrame =
    Prep.dedupExact(ratings(s, dir).drop("event_id"))

  private def q03(s: SparkSession, dir: String): DataFrame =
    Prep.dedupKeepLast(ratings(s, dir), Seq("user", "item"),
      Seq(col("time"), col("event_id")))
      .select("user", "item", "rating", "time")

  private def q04(s: SparkSession, dir: String): DataFrame =
    Prep.modSplit(ratings(s, dir), col("event_id"), 10, 7)._1
      .select("user", "item", "rating", "time")

  private def q05(s: SparkSession, dir: String): DataFrame =
    Prep.modSplit(ratings(s, dir), col("event_id"), 10, 7)._2
      .select("user", "item", "rating", "time")

  private def q06(s: SparkSession, dir: String): DataFrame =
    Encoding.dimension(ratings(s, dir), "user", "time", "u_id")

  private def q07(s: SparkSession, dir: String): DataFrame =
    ratings(s, dir).agg(
      count(lit(1)).as("n_ratings"),
      countDistinct(col("user")).as("n_users"),
      countDistinct(col("item")).as("n_items"),
      min(col("rating")).as("min_rating"),
      max(col("rating")).as("max_rating"),
      favg(col("rating")).as("mean_rating"))

  private def q08(s: SparkSession, dir: String): DataFrame = {
    val r = ratings(s, dir)
    // JSON field extraction (ETL scan surface, reference json-to-csv.py:7)
    r.select(col("event_id"), col("item").cast("long").as("k"))
  }

  /** Headerless-CSV sink + positional-schema scan roundtrip (reference
    * `json-to-csv.py:12` + `run_als.py:8`). Oracle is the identity: the
    * ratings relation itself.
    */
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${scratchDir("csv_roundtrip")}/data"
    RatingsIO.writeCsv(ratings(s, dir).select("user", "item", "rating", "time"), tmp)
    RatingsIO.readRatingsCsv(s, tmp)
  }

  /** NDJSON sink + the review-ETL scan (reference `json-to-csv.py:5-11`:
    * JSON-lines → project 4 of N fields → rename).
    */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${scratchDir("json_reviews")}/data"
    ratings(s, dir).select(
      col("user").as("reviewerID"),
      col("item").as("asin"),
      col("rating").as("overall"),
      col("time").as("unixReviewTime"),
      lit("noise").as("extraneousField"))
      .write.mode("overwrite").json(tmp)
    RatingsIO.readReviewsJson(s, tmp)
  }

  /** Full dictionary-encode join (SURVEY §2.4 row 1): ratings ⋈ userDim
    * ⋈ itemDim on natural keys, projecting dense ids.
    */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    val r = ratings(s, dir)
    Encoding.encode(r,
      Encoding.dimension(r, "user", "time", "u_id"),
      Encoding.dimension(r, "item", "time", "i_id"))
      .select("u_id", "i_id", "rating", "time")
  }

  // ------------------------------------------------------- q1x agg/join/win

  private def q10(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") < lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        fsum(col("l_quantity")).as("sum_qty"),
        fsum(col("l_extendedprice")).as("sum_price"),
        fsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        favg(col("l_quantity")).as("avg_qty"),
        favg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  private def q11(s: SparkSession, dir: String): DataFrame = {
    val r = ratings(s, dir)
    r.groupBy(col("user"))
      .agg(fsum(col("rating")).as("sum_rating"),
        count(lit(1)).as("n"),
        countDistinct(col("item")).as("n_items"))
  }

  private def q12(s: SparkSession, dir: String): DataFrame = {
    val r = ratings(s, dir)
    r.groupBy(col("item"))
      .agg(fsum(col("rating")).as("sum_rating"),
        count(lit(1)).as("n"))
  }

  private def q13(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        fsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))

  private def q14(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val reg = Tables.region(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(fsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  private def q15(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  private def q16(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 260000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  private def q17(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
  }

  private def q18(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("running_value",
        sum(floor(col("value") * lit(FpScale))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).over(w)
          .cast("double") / lit(FpScale))
      .select(col("event_id"), col("user_id"), col("running_value"))
  }

  /** Hierarchical aggregation (beyond the reference, which has no
    * grouping sets): ROLLUP over region→nation with grand total.
    */
  private def q28(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), fsum(col("c_acctbal")).as("sum_bal"))

  /** CUBE over order status × priority. */
  private def q29(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), fsum(col("o_totalprice")).as("sum_price"))

  /** Co-bucketed shuffle-free join (SCALE.md "Joins"): both sides are
    * written bucketed+sorted by the join key once, then the sort-merge
    * join reads co-bucketed files with NO exchange on either side
    * (asserted in BucketingSpec) — the pre-pay-the-shuffle pattern for
    * recurring fact-fact joins at scale.
    */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    // Table names are scoped to the source dir and created-if-absent so
    // a query run is side-effect-free after the first materialization
    // (no overwrite race between concurrent runs in one session).
    val scope = math.abs(dir.hashCode).toString
    val (ordersT, custT) = (s"graft_orders_bkt_$scope", s"graft_customer_bkt_$scope")
    graft.io.Bucketing.ensureBucketed(
      Tables.orders(s, dir), ordersT, "o_custkey", 8)
    graft.io.Bucketing.ensureBucketed(
      Tables.customer(s, dir), custT, "c_custkey", 8)
    s.table(ordersT)
      .join(s.table(custT), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), fsum(col("o_totalprice")).as("sum_price"))
  }

  /** As-of join (graft.joins.AsofJoin): each error event enriched with
    * the user's most recent purchase at-or-before the error. The right
    * side is pre-aggregated to one row per (user, time) so the match is
    * deterministic; oracle is DuckDB's native ASOF JOIN.
    */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("pt"))
      .agg(max(col("event_id")).as("p_id"))
    graft.joins.AsofJoin.asOf(errors, purchases,
      Seq("user_id"), "t", "pt", Seq("p_id"))
      .select("event_id", "user_id", "t", "p_id")
  }

  // ----------------------------------------------- q6x relational extensions

  /** Batch sessionization (gaps-and-islands): per-user sessions split at
    * 30-minute inactivity gaps — lag to mark session starts, running sum
    * to number them, one aggregate per session. Two window passes over
    * ONE shuffle on user_id (both windows share the partitioning); the
    * streaming twin is `StreamingPrep.sessionize`.
    */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val ev = Tables.events(s, dir).select(
      col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"))
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("t"), 1).over(wOrd)
    ev.withColumn("new_s",
        when(prev.isNull || col("t") - prev > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("t")) - min(col("t"))).as("duration_us"))
  }

  /** Window navigation feature-builder: per-user lag/lead features (the
    * delta-to-previous-value and time-since-previous-event columns every
    * event-sequence model trains on).
    */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("value"))
      .withColumn("value_delta", col("value") - lag(col("value"), 1).over(w))
      .withColumn("gap_us", col("t") - lag(col("t"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select("event_id", "user_id", "value_delta", "gap_us", "next_type")
  }

  /** Pivot: per-user event-type counts as columns. The type domain is
    * passed explicitly — at scale an implicit pivot would run a distinct
    * job over the fact table just to discover column names.
    */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    // pivot yields null for absent (user, type) groups; the relational
    // contract (and the oracle's conditional counts) is 0
    types.foldLeft(pivoted) { (df, t) =>
      df.withColumn(t, coalesce(col(t), lit(0L)))
    }
  }

  /** Exact per-group quantiles (median / p90) — sort-based `percentile`,
    * the exact companion to q36's approx sketches. Interpolation is the
    * standard (n-1)·p rule in both engines; per-group scalar math is
    * deterministic so round() is safe (SKILL gotchas).
    */
  private def q64(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5D)"), 6).as("median_value"),
        round(expr("percentile(value, 0.9D)"), 6).as("p90_value"),
        count(lit(1)).as("n"))

  /** GROUPING SETS beyond rollup/cube: the two single-dimension
    * marginals without the grand total or the full cross — the exact
    * aggregation lattice a reporting layer asks for.
    */
  private def q65(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), fsum(col("o_totalprice")).as("sum_price"))

  /** Skew-salted join at the gate: `Prep.saltedJoin` replicates the
    * build side `saltFactor` ways so a hot key's probe rows spread over
    * `saltFactor` tasks; the oracle is the PLAIN join — proving salting
    * is a pure physical rewrite with unchanged semantics.
    */
  private def q66(s: SparkSession, dir: String): DataFrame =
    Prep.saltedJoin(
      Tables.orders(s, dir),
      Tables.customer(s, dir).withColumnRenamed("c_custkey", "o_custkey"),
      "o_custkey", 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), fsum(col("o_totalprice")).as("sum_price"))

  /** Range (band) join: lineitem priced into static bands via a
    * broadcast non-equi join — the banding pattern behind histogram
    * features and price-tier rollups. The band table is tiny and
    * broadcast, so the non-equi condition never becomes a shuffled
    * nested loop.
    */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      (0, 0.0, 10000.0), (1, 10000.0, 20000.0), (2, 20000.0, 40000.0),
      (3, 40000.0, 70000.0), (4, 70000.0, 1.0e9))
      .toDF("band_id", "lo", "hi")
    Tables.lineitem(s, dir)
      .join(broadcast(bands),
        col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_lines"), fsum(col("l_extendedprice")).as("sum_price"))
  }

  /** ORC roundtrip (sink + scan): the q09 contract on the second
    * columnar lake format.
    */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${scratchDir("orc_roundtrip")}/data"
    RatingsIO.writeOrc(ratings(s, dir).select("user", "item", "rating", "time"), tmp)
    RatingsIO.readRatingsOrc(s, tmp)
  }

  /** Streaming native session windows (`session_window`): the
    * declarative twin of q61's batch gaps-and-islands — the oracle IS
    * gaps-and-islands with the window-end convention (end = last event
    * + gap; an exactly-gap-sized pause splits sessions).
    */
  private def q69(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      StreamingPrep.sessionWindowAgg(
        StreamingPrep.streamEvents(s, dir), "30 minutes"),
      outputMode = "complete")

  /** Quantile binning (feature discretization): NTILE deciles of value
    * within each event type — the bucketizer every tabular feature
    * pipeline ships. Deterministic via the total order (value, id).
    */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("decile", ntile(10).over(w))
  }

  /** Per-group z-score normalization with FIXED-POINT moments: stddev
    * of doubles is order-dependent under shuffle, so mean and variance
    * are derived from exact integer sums (fsum) — bitwise-reproducible
    * at any parallelism, same formula on the oracle side.
    */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val moments = ev.groupBy(col("event_type"))
      .agg(fsum(col("value")).as("s1"),
        fsum(col("value") * col("value")).as("s2"),
        count(lit(1)).as("n"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("sd",
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)))
      .select("event_type", "mean", "sd")
    ev.join(broadcast(moments), "event_type")
      .select(col("event_id"), col("event_type"),
        round((col("value") - col("mean")) / col("sd"), 6).as("z"))
  }

  /** TF-IDF over the documents table: token counts per doc × inverse
    * document frequency, top term per document. One explode + two
    * partial+final aggregations; idf join broadcasts the vocabulary.
    */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val docs = Tables.documents(s, dir)
    val nDocs = docs.count()
    val tokens = docs.select(col("doc_id"),
      explode(TextAnalysis.words(TextAnalysis.normalizeText(col("text")))).as("token"))
    val tf = tokens.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val idf = tokens.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .withColumn("idf", log(lit(nDocs.toDouble) / col("df")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    tf.join(broadcast(idf), "token")
      .withColumn("tfidf", round(col("tf") * col("idf"), 6).as("tfidf"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("token").as("top_term"), col("tfidf"))
  }

  /** Partitioned lake layout (write side of partition pruning): the
    * corpus lands partitioned by language; the read-back filter on
    * `lang` prunes directories before any I/O (`PartitionFilters` in
    * the scan — LakeSpec asserts it). Oracle is the equivalent filter
    * + agg over the unpartitioned source.
    */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${scratchDir("lake_docs")}/data"
    Lake.writePartitioned(
      Tables.documents(s, dir).select("doc_id", "text", "lang", "source", "n_chars"),
      tmp, Seq("lang"))
    Lake.read(s, tmp)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** Small-files compaction: the documents table written fragmented
    * (64 files), compacted back to target-sized files, then read and
    * aggregated — the oracle proves the rewrite is content-identical;
    * LakeSpec proves the file count actually shrinks.
    */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val base = scratchDir("compact")
    Tables.documents(s, dir).select("doc_id", "text", "lang", "n_chars")
      .repartition(64)
      .write.mode("overwrite").parquet(s"$base/frag")
    Lake.compact(s, s"$base/frag", s"$base/out")
    Lake.read(s, s"$base/out")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** Z-order clustered rewrite of events by (user_id, value): the
    * Morton-key sort + range-partitioned write, read back and
    * aggregated — oracle proves content identity; LakeSpec proves the
    * two-dimensional file-locality the layout exists for.
    */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val base = s"${scratchDir("zorder")}/data"
    Lake.zorderWrite(
      Tables.events(s, dir).select("event_id", "user_id", "event_type", "value"),
      base, "user_id", "value", nFiles = 8)
    Lake.read(s, base)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("user_id")).as("sum_users"),
        fsum(col("value")).as("sum_value"))
  }

  /** Paragraph-level exact dedup (C4/CCNet-style): the corpus word
    * stream chunked into deterministic 15-word "lines" (the synthetic
    * docs are single-line, so the chunking manufactures the multi-
    * paragraph structure real pages have — near-dup docs share whole
    * unchanged chunks, which is exactly the boilerplate-line case the
    * operator exists for), then every repeated normalized line across
    * the corpus is dropped keep-first and the docs reassembled.
    */
  /** The q97/q101 corpus: docs chunked into 15-word lines. */
  private def chunkedDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .withColumn("__ws", split(col("text"), " "))
      .withColumn("text", array_join(
        transform(
          sequence(lit(0), ((size(col("__ws")) - 1) / 15).cast("int")),
          i => array_join(slice(col("__ws"), i * 15 + 1, lit(15)), " ")),
        "\n"))
      .drop("__ws")

  private def q97(s: SparkSession, dir: String): DataFrame =
    Dedup.paragraphDedup(chunkedDocs(s, dir), "doc_id", "text")

  /** Streaming twin of q97: the chunked corpus lands as two file
    * micro-batches (doc_id midpoint split, ordered arrival), each
    * deduped within-batch then against the md5 line index of
    * everything admitted before. Ordered ingest makes the result
    * IDENTICAL to the batch operator, so this twin is hash-gated
    * against the same oracle — the exactness MinHash twins can't have.
    * Batch outputs land in a scratch parquet sink (never the driver).
    */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val docs = chunkedDocs(s, dir)
    val scratch = scratchDir("stream_paradedup")
    import org.apache.spark.sql.types._
    val stream = stageOrderedBatches(s, scratch,
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))),
      midpointHalves(docs))
    val tbl = s"graft_pd_idx_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = graft.streaming.StreamingParagraphDedup.start(
      stream, "doc_id", "text", indexTable = tbl) { (out, _) =>
      out.write.mode("append").parquet(s"$scratch/out")
    }
    try q.processAllAvailable()
    finally { q.stop(); s.sql(s"DROP TABLE IF EXISTS $tbl") }
    s.read.parquet(s"$scratch/out")
  }

  /** Exact substring dedup (Lee et al. 2022): every duplicated 20-token
    * span across the corpus is removed except its first occurrence —
    * span-level dedup across line boundaries, the mode paragraph
    * dedup can't express. 20 tokens (vs the paper's 50) because the
    * synthetic docs are 40–100 words.
    */
  private def q99(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(
      Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text",
      windowTokens = 20)

  /** CCNet-style head/middle/tail fluency tiers over the corpus-trained
    * bigram LM (q85's score, integer-floored per bigram, global ntile
    * with doc_id tie-break).
    */
  private def q100(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.fluencyBuckets(
      Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text",
      nBuckets = 3)

  /** The PRODUCTION fluency-tier path (what `curateCorpus`'s gate
    * uses): quantile thresholds + map-only assignment, no global sort
    * anywhere — q100's scale twin, registered so the driver exercises
    * it, not just the spec. Rows-only by construction (tie regions
    * shift with quantile estimation error); ≥ 90% agreement with
    * q100's oracle-green exact ntile is spec-enforced on this same
    * registry path (TextAnalysisSpec).
    */
  private def q107(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.fluencyBucketsAtScale(
      Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text",
      nBuckets = 3)

  /** The hash-gateable production fluency path: q107's map-only
    * threshold assignment with PORTABLE histogram-sketch quantiles
    * instead of Greenwald-Khanna — flips the scale form of the
    * fluency family from rows-only to oracle-green.
    */
  private def q107b(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.fluencyBucketsPortable(
      Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "text",
      nBuckets = 3)

  /** Streaming twin of q99: the raw corpus as two ordered file
    * micro-batches, each batch's 20-gram hashes deduped within-batch
    * then against the gram index of everything admitted before.
    * Ordered ingest = exact batch semantics → shares q99's oracle,
    * hash-gated.
    */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val scratch = scratchDir("stream_ssdedup")
    import org.apache.spark.sql.types._
    val stream = stageOrderedBatches(s, scratch,
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))),
      midpointHalves(docs))
    val tbl = s"graft_ss_idx_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = graft.streaming.StreamingSubstringDedup.start(
      stream, "doc_id", "text", indexTable = tbl, windowTokens = 20) { (out, _) =>
      out.write.mode("append").parquet(s"$scratch/out")
    }
    try q.processAllAvailable()
    finally { q.stop(); s.sql(s"DROP TABLE IF EXISTS $tbl") }
    s.read.parquet(s"$scratch/out")
  }

  /** BPE tokenizer training (Sennrich-style): 6 merge rounds over the
    * frequency-capped corpus vocabulary. The oracle replays training in
    * unrolled SQL — per round, the pair-count argmax plus a closed-form
    * greedy merge (run-parity islands stand in for the sequential
    * left-to-right fold, equivalent because overlapping-eligible
    * positions only arise in equal-symbol runs).
    */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    val (merges, vocab) = graft.text.Bpe.train(
      Tables.documents(s, dir).select("text"), "text", rounds = 6, maxVocab = 100)
    vocab.unpersist()
    import s.implicits._
    merges.map(m => (m.mergeNo, m.lhs, m.rhs, m.pairFreq))
      .toDF("merge_no", "lhs", "rhs", "pair_freq")
  }

  /** The q97/q101 oracle: the same 15-word chunking, normalization,
    * keep-first owner election and string_agg reassembly as the Spark
    * sides (batch operator and ordered-ingest streaming twin).
    */
  private val paragraphDedupSql: String =
    """WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
      |ch AS (
      |  SELECT doc_id,
      |         list_transform(range(0, (len(ws)-1)//15 + 1),
      |           i -> array_to_string(ws[i*15+1 : i*15+15], ' ')) AS paras
      |  FROM w),
      |p AS (
      |  SELECT doc_id, u.i AS para_no, u.p AS para
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(paras, (x, i) -> {'i': i, 'p': x})) AS u
      |        FROM ch)),
      |t AS (
      |  SELECT doc_id, para_no, para,
      |         trim(para) = '' AS is_empty,
      |         md5(lower(trim(regexp_replace(para, '\s+', ' ', 'g')))) AS k
      |  FROM p),
      |r AS (
      |  SELECT doc_id, para_no, para,
      |         CASE WHEN is_empty THEN TRUE
      |              ELSE row_number() OVER (PARTITION BY k
      |                     ORDER BY doc_id, para_no) = 1 END AS keep
      |  FROM t)
      |SELECT doc_id,
      |       coalesce(string_agg(CASE WHEN keep THEN para END,
      |                           chr(10) ORDER BY para_no), '') AS text,
      |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
      |FROM r GROUP BY doc_id""".stripMargin

  /** The q99/q102 oracle: rolling 20-gram hashes, keep-first owner
    * election, non-owner coverage, anti-join + ordered reassembly —
    * shared by the batch operator and the ordered-ingest streaming
    * twin.
    */
  private val substringDedupSql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |t AS (
      |  SELECT doc_id, pos, tok FROM (
      |    SELECT doc_id, u.i AS pos, u.t AS tok
      |    FROM (SELECT doc_id, unnest(list_transform(ws, (x, i) -> {'i': i, 't': x})) AS u
      |          FROM d))
      |  WHERE tok != ''),
      |g AS (
      |  SELECT doc_id, u.p AS pos, u.h AS h
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(ws) - 18),
      |            i -> {'p': i, 'h': md5(array_to_string(ws[i : i+19], ' '))})) AS u
      |        FROM d)),
      |o AS (
      |  SELECT h, doc_id AS od, pos AS op FROM (
      |    SELECT h, doc_id, pos, count(*) OVER (PARTITION BY h) AS c,
      |           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      |    FROM g) WHERE c > 1 AND rn = 1),
      |cov AS (
      |  SELECT DISTINCT doc_id, pos FROM (
      |    SELECT doc_id, unnest(range(pos, pos + 20)) AS pos
      |    FROM (SELECT g.doc_id, g.pos FROM g JOIN o ON g.h = o.h
      |          WHERE NOT (g.doc_id = o.od AND g.pos = o.op)))),
      |k AS (
      |  SELECT doc_id, pos, tok FROM t ANTI JOIN cov USING (doc_id, pos)),
      |r AS (
      |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
      |         CAST(count(*) AS BIGINT) AS n_tokens_kept
      |  FROM k GROUP BY doc_id)
      |SELECT d2.doc_id,
      |       coalesce(r.text, '') AS text,
      |       CAST(coalesce(r.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
      |       CAST(d2.total - coalesce(r.n_tokens_kept, 0) AS BIGINT) AS n_tokens_removed
      |FROM (SELECT doc_id, len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |        x -> x != '')) AS total FROM documents) d2
      |LEFT JOIN r USING (doc_id)""".stripMargin

  /** Surgical decontamination (q86's scenario, span-level remedy):
    * every tenth doc plays the benchmark; corpus docs KEEP everything
    * except verbatim 20-token benchmark spans — quoted passages are
    * excised, the quoting page survives (q86 drops it whole).
    */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    Curation.spanDecontaminate(
      docs, docs.filter(col("doc_id") % 10 === 3), "text", "doc_id", n = 20)
  }

  /** Streaming twin of q104: span excision against a STATIC benchmark
    * is per-document independent, so it runs exactly per micro-batch
    * (foreachBatch — the reassembly groupBy and coverage anti-join are
    * stream-derived self-joins Structured Streaming's append mode
    * can't express natively). Same oracle, hash-gated.
    */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val benchmark = docs.filter(col("doc_id") % 10 === 3)
    val scratch = scratchDir("stream_spandecon")
    docs.coalesce(2).write.parquet(s"$scratch/in")
    import org.apache.spark.sql.types._
    val stream = s.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$scratch/in")
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Curation.spanDecontaminate(batch, benchmark, "text", "doc_id", n = 20)
          .write.mode("append").parquet(s"$scratch/out")
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$scratch/out")
  }

  /** Real token counts under the q98-trained vocabulary: train 6
    * rounds (vocab cap 100), then count every doc's tokens via the
    * trained word→symbols lookup (OOV at character count). Train AND
    * count both hash-gated — the full tokenizer lifecycle at the
    * oracle gate.
    */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val (_, vocab) = graft.text.Bpe.train(docs, "text", rounds = 6, maxVocab = 100)
    try graft.text.Bpe.tokenCount(docs, "doc_id", "text", vocab)
      .localCheckpoint()
    finally vocab.unpersist()
  }

  /** The full tokenizer-REUSE lifecycle at 64 merge rounds: train on
    * half the corpus (doc_id % 2 = 0), persist the merge table as the
    * reloadable artifact, reload it, and tokenize a DISJOINT second
    * corpus (doc_id % 10 = 1) with exact OOV handling — unseen words
    * replay the loaded merges through the flat codegen kernel
    * ([[graft.functions.BpeReplay]]). 64 rounds is an order of
    * magnitude past where the old chained-fold form stalled Catalyst
    * analysis; the kernel's cost is O(1) in |merges| at plan time.
    */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val train = docs.filter(col("doc_id") % 2 === 0).select("text")
    val test = docs.filter(col("doc_id") % 10 === 1).select("doc_id", "text")
    val scratch = scratchDir("bpe_artifact")
    val (trained, vocab) = graft.text.Bpe.train(
      train, "text", rounds = 64, maxVocab = 100)
    try {
      graft.text.Bpe.saveMerges(s, trained, s"$scratch/merges")
      val merges = graft.text.Bpe.loadMerges(s, s"$scratch/merges")
      graft.text.Bpe.tokenCountWithMerges(test, "doc_id", "text", vocab, merges)
        .localCheckpoint()
    } finally vocab.unpersist()
  }

  /** The q104/q105 oracle: benchmark 20-gram hashes (doc_id %% 10 = 3),
    * ALL corpus occurrences covered, q99 reassembly tail — shared by
    * the batch operator and the per-batch-exact streaming twin.
    */
  private val spanDecontaminateSql: String =
    """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |bg AS (
        |  SELECT DISTINCT u.h AS h
        |  FROM (SELECT unnest(list_transform(range(1, len(ws) - 18),
        |          i -> {'h': md5(array_to_string(ws[i : i+19], ' '))})) AS u
        |        FROM d WHERE doc_id % 10 = 3)),
        |g AS (
        |  SELECT doc_id, u.p AS pos, u.h AS h
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(ws) - 18),
        |            i -> {'p': i, 'h': md5(array_to_string(ws[i : i+19], ' '))})) AS u
        |        FROM d)),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT g.doc_id, unnest(range(g.pos, g.pos + 20)) AS pos
        |    FROM g JOIN bg ON g.h = bg.h)),
        |t AS (
        |  SELECT doc_id, pos, tok FROM (
        |    SELECT doc_id, u.i AS pos, u.t AS tok
        |    FROM (SELECT doc_id, unnest(list_transform(ws, (x, i) -> {'i': i, 't': x})) AS u
        |          FROM d))
        |  WHERE tok != ''),
        |k AS (
        |  SELECT doc_id, pos, tok FROM t ANTI JOIN cov USING (doc_id, pos)),
        |r AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
        |         CAST(count(*) AS BIGINT) AS n_tokens_kept
        |  FROM k GROUP BY doc_id)
        |SELECT d2.doc_id,
        |       coalesce(r.text, '') AS text,
        |       CAST(coalesce(r.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
        |       CAST(d2.total - coalesce(r.n_tokens_kept, 0) AS BIGINT) AS n_tokens_removed
        |FROM (SELECT doc_id, len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x != '')) AS total FROM documents) d2
        |LEFT JOIN r USING (doc_id)""".stripMargin

  /** The q98 oracle: BPE training unrolled round-by-round in DuckDB SQL
    * (w = capped word frequencies; per round k: p=pair counts,
    * m=argmax, e/g/d=eligibility + greedy run-parity merge decisions,
    * rep=rebuilt symbol arrays). Validated against an independent
    * sequential-fold reference implementation on the real corpus.
    */
  private def bpeMergesSql(rounds: Int, maxVocab: Int): String =
    bpeCtes(rounds, maxVocab) + "\n" + (1 to rounds).map(k =>
      s"SELECT CAST($k AS INTEGER) AS merge_no, l AS lhs, r AS rhs, cnt AS pair_freq FROM m$k")
      .mkString("\nUNION ALL\n")

  /** The q103 oracle: the same training replay, then every word of
    * every doc looks up its trained symbol count (rep$rounds), OOV
    * words fall back to character count, wordless docs count 0 —
    * mirroring Bpe.tokenCount.
    */
  private def bpeTokenCountSql(rounds: Int, maxVocab: Int): String =
    bpeCtes(rounds, maxVocab) + s""",
      |wct AS (SELECT word, len(syms) AS n FROM rep$rounds),
      |dw AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id,
      |           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
      |    FROM documents)
      |  WHERE word != ''),
      |ct AS (
      |  SELECT dw.doc_id,
      |         CAST(sum(coalesce(wct.n, len(dw.word))) AS BIGINT) AS n_bpe_tokens
      |  FROM dw LEFT JOIN wct USING (word)
      |  GROUP BY dw.doc_id)
      |SELECT d.doc_id, CAST(coalesce(ct.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
      |FROM (SELECT doc_id FROM documents) d LEFT JOIN ct USING (doc_id)""".stripMargin

  /** Shared WITH-chain of the BPE training replay (w/rep0, then
    * p/m/e/g/d/rep per round) — terminal SELECTs differ per query.
    * `where` filters the training corpus (q106 trains on half the
    * docs); empty = whole table (q98/q103). Round boundaries (w, m$k,
    * rep$k) are MATERIALIZED: rep$j is referenced twice per round, and
    * DuckDB 1.0 inlines non-materialized CTEs — at 64 rounds that
    * inlining is exponential (observed as a file-handle explosion on
    * the documents scan long before memory).
    */
  private def bpeCtes(rounds: Int, maxVocab: Int, where: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH w AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
      |        FROM documents$where)
      |  WHERE word != ''
      |  GROUP BY word ORDER BY freq DESC, word LIMIT $maxVocab),
      |rep0 AS MATERIALIZED (
      |  SELECT word, freq,
      |         list_transform(range(1, len(word)+1), i -> word[i:i]) AS syms
      |  FROM w)""".stripMargin
    for (k <- 1 to rounds) {
      val j = k - 1
      sb ++= s""",
      |p$k AS (
      |  SELECT u.l AS l, u.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
      |  FROM (SELECT freq,
      |          unnest(list_transform(range(1, len(syms)), i -> {'l': syms[i], 'r': syms[i+1]})) AS u
      |        FROM rep$j)
      |  GROUP BY 1, 2),
      |m$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin
      sb ++= bpeApplyCtes(k, "")
    }
    sb.toString
  }

  /** One round of greedy merge APPLICATION (e/g/d/rep CTEs) against
    * the round's argmax m$k: eligibility + run-parity merge decisions
    * + rebuilt symbol arrays. `pfx` distinguishes the chain being
    * merged — "" = the training vocabulary, "b" = the second-corpus
    * replay chain of [[bpeSecondCorpusSql]] (same merges m$k, applied
    * to repb$j instead of rep$j).
    */
  private def bpeApplyCtes(k: Int, pfx: String): String = {
    val j = k - 1
    s""",
      |e$pfx$k AS (
      |  SELECT word, freq, u.i AS i, u.s AS s,
      |         coalesce(u.i < len(syms) AND u.s = m.l AND syms[u.i+1] = m.r, false) AS elig
      |  FROM (SELECT word, freq, syms,
      |          unnest(list_transform(syms, (x, i) -> {'i': i, 's': x})) AS u
      |        FROM rep$pfx$j)
      |       LEFT JOIN m$k m ON true),
      |g$pfx$k AS (
      |  SELECT *, CASE WHEN elig THEN i - row_number()
      |    OVER (PARTITION BY word, elig ORDER BY i) END AS grp
      |  FROM e$pfx$k),
      |d$pfx$k AS (
      |  SELECT *, elig AND (row_number()
      |    OVER (PARTITION BY word, elig, grp ORDER BY i) % 2 = 1) AS merged
      |  FROM g$pfx$k),
      |rep$pfx$k AS MATERIALIZED (
      |  SELECT word, freq, list(sym ORDER BY i) AS syms
      |  FROM (SELECT word, freq, i,
      |          CASE WHEN merged THEN s || lead(s) OVER (PARTITION BY word ORDER BY i)
      |               ELSE s END AS sym,
      |          coalesce(lag(merged) OVER (PARTITION BY word ORDER BY i), false) AS absorbed
      |        FROM d$pfx$k)
      |  WHERE NOT absorbed
      |  GROUP BY word, freq)""".stripMargin
  }

  /** The q106 oracle: train $rounds merges on HALF the corpus
    * (doc_id %% 2 = 0), then tokenize a disjoint SECOND corpus
    * (doc_id %% 10 = 1 — all odd ids) by replaying the trained merges
    * over EVERY test word from characters (repb chain). Replay of a
    * trained word reproduces its vocabulary decomposition (same
    * composition of greedy passes), so the uniform replay here equals
    * Spark's vocab-lookup-plus-OOV-replay split exactly — the real
    * tokenizer-reuse lifecycle, hash-gated at 64 rounds.
    */
  private def bpeSecondCorpusSql(rounds: Int, maxVocab: Int): String = {
    val testWhere = " WHERE doc_id % 10 = 1"
    val sb = new StringBuilder
    sb ++= bpeCtes(rounds, maxVocab, where = " WHERE doc_id % 2 = 0")
    sb ++= s""",
      |repb0 AS MATERIALIZED (
      |  SELECT word, CAST(1 AS BIGINT) AS freq,
      |         list_transform(range(1, len(word)+1), i -> word[i:i]) AS syms
      |  FROM (SELECT DISTINCT word FROM (
      |          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
      |          FROM documents$testWhere)
      |        WHERE word != ''))""".stripMargin
    for (k <- 1 to rounds) sb ++= bpeApplyCtes(k, "b")
    sb ++= s""",
      |wctb AS (SELECT word, len(syms) AS n FROM repb$rounds),
      |dwb AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id,
      |           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
      |    FROM documents$testWhere)
      |  WHERE word != ''),
      |ctb AS (
      |  SELECT dwb.doc_id, CAST(sum(wctb.n) AS BIGINT) AS n_bpe_tokens
      |  FROM dwb JOIN wctb USING (word)
      |  GROUP BY dwb.doc_id)
      |SELECT d.doc_id, CAST(coalesce(ctb.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
      |FROM (SELECT doc_id FROM documents$testWhere) d LEFT JOIN ctb USING (doc_id)""".stripMargin
    sb.toString
  }

  /** Stage each part as ONE parquet file with ascending mtimes under
    * `scratch` and return the `maxFilesPerTrigger=1` file stream over
    * them — the shared ordered-micro-batch harness of every streaming
    * gate query. Ordered arrival (oldest mtime first) is what lets
    * the streaming twins share their batch oracles; a change to this
    * staging scheme changes the ingest order of EVERY twin, which is
    * why it lives in one place.
    */
  private def stageOrderedBatches(s: SparkSession, scratch: String,
      schema: org.apache.spark.sql.types.StructType,
      parts: Seq[DataFrame]): DataFrame = {
    parts.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.parquet(s"$scratch/b$i")
    }
    val in = new java.io.File(s"$scratch/in"); in.mkdirs()
    val now = System.currentTimeMillis()
    parts.indices.foreach { i =>
      val part = new java.io.File(s"$scratch/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(in, f"batch_$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(now - (parts.size - 1 - i) * 60000L)
    }
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(in.toString)
  }

  /** The exact-median split the twins stream in as two halves. */
  private def midpointHalves(docs: DataFrame,
      idCol: String = "doc_id"): Seq[DataFrame] = {
    val mid = docs.stat.approxQuantile(idCol, Array(0.5), 0.0)(0)
    Seq(docs.filter(col(idCol) < mid), docs.filter(col(idCol) >= mid))
  }

  /** Continuous near-dup dedup: the documents corpus delivered as two
    * micro-batches (split at the id midpoint), each probing the LSH
    * index of everything admitted before it (StreamingDedup).
    * Hash-gated: ordered ingest + fixed permutation constants make the
    * verdicts a deterministic indexed probe, replayed in DuckDB by
    * [[graft.oracle.MinHashOracles.q95Sql]]; cross-batch semantics
    * additionally pinned in StreamingDedupSpec.
    */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // The corpus never touches the driver: each half lands as one
    // parquet file with staggered mtimes, and the file stream source
    // (maxFilesPerTrigger=1, oldest-first) delivers them as two
    // micro-batches — the same ingest shape a real continuously-
    // written landing directory has. Only the dedup VERDICTS (one
    // (id, dup_of) pair per doc) are collected, which is the query's
    // output surface, not the corpus.
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val stream = stageOrderedBatches(s, scratchDir("stream_neardup"),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))),
      midpointHalves(docs))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    // bucketed-table index (the scale path): per-batch shuffle is
    // O(batch), survivors append as new bucket files only
    val tbl = s"graft_sd_idx_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val run = graft.streaming.StreamingDedup.start(
      stream, "doc_id", "text", indexTable = Some(tbl)) { (v, _) =>
      buf ++= v.select(col("doc_id"), col("dup_of"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1))))
    }
    try run.query.processAllAvailable()
    finally { run.query.stop(); s.sql(s"DROP TABLE IF EXISTS $tbl") }
    import s.implicits._
    buf.toSeq.toDF("doc_id", "dup_of")
  }

  /** Incremental corpus refresh (keyed upsert): v2 revisions of every
    * third document plus a batch of brand-new ids merge into the v1
    * snapshot; highest version per doc_id wins. The fingerprint column
    * proves WHICH row survived, not just how many.
    */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val base = docs.withColumn("version", lit(1L))
    val revisions = docs.filter(col("doc_id") % 3 === 0)
      .withColumn("text", concat(col("text"), lit(" v2")))
      .withColumn("version", lit(2L))
    // fresh ids live in the negative range: natural doc_ids are
    // non-negative at ANY scale factor, so the synthetic batch can
    // never collide with a real id (an offset like +1e6 collides once
    // the corpus outgrows it, making the keep-last tie nondeterministic)
    val fresh = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", -(col("doc_id") + 1))
      .withColumn("version", lit(2L))
    Curation.upsert(base, revisions.unionByName(fresh), Seq("doc_id"), col("version"))
      .select(col("doc_id"), col("version"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
  }

  /** Benchmark decontamination: every tenth document — whitespace-
    * mangled, so only NORMALIZED fingerprints catch it — plays the
    * held-out eval set; the corpus anti-joins it away. Broadcast
    * anti-join: zero shuffle of corpus rows.
    */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val benchmark = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", regexp_replace(col("text"), " ", "  "))
    Curation.decontaminate(docs, benchmark, "text")
      .select("doc_id", "source")
  }

  /** N-gram-collision decontamination (GPT-3-style): every tenth doc
    * plays the benchmark; any corpus doc sharing a 13-gram with it —
    * including the benchmark docs themselves — is removed. The partial-
    * inclusion case (a benchmark string QUOTED inside a larger doc) is
    * unit-tested in CurationSpec.
    */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val benchmark = docs.filter(col("doc_id") % 10 === 3)
    Curation.ngramDecontaminate(docs, benchmark, "text", "doc_id", n = 13)
      .select("doc_id", "source")
  }

  /** Sequence packing: documents stream into fixed 2048-token training
    * sequences per language shard, in doc_id order; each doc gets the
    * sequence id + offset where it starts.
    */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .drop("text")
    Curation.packSequences(docs, "lang", "doc_id", col("n_tokens"), 2048)
  }

  /** Streaming decontamination: the q75 anti-join running on a document
    * STREAM against the static benchmark fingerprints — stateless
    * stream-static broadcast anti-join, so ingest-time filtering needs
    * no watermark and no state store; the oracle is the batch
    * equivalent.
    */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val benchmark = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      .withColumn("text", regexp_replace(col("text"), " ", "  "))
    val st = StreamingPrep.streamDocuments(s, dir)
    StreamingPrep.runToMemory(
      Curation.decontaminate(st, benchmark, "text").select("doc_id", "source"))
  }

  /** Streaming ingest profiling: q40's text-quality expressions applied
    * per micro-batch on the document stream — stateless (pure per-row
    * expressions), so profiling keeps up with any ingest rate; oracle
    * is the batch profile.
    */
  private def q79(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      TextAnalysis.profile(StreamingPrep.streamDocuments(s, dir), "text")
        .select("doc_id", "n_tokens", "n_bpe_tokens", "punct_ratio",
          "stop_ratio", "quality", "lang_pred"))

  /** Streaming twin of q88: mixture-sampling rates trained on the
    * corpus snapshot, broadcast into the ingest stream (stream-static
    * join + the same md5 inclusion hash) — admits the identical doc
    * set, so it shares q88's oracle.
    */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    // persist + materialize the |groups|-row rate table: a stream-static
    // join re-executes the static plan per micro-batch, which would
    // re-aggregate the whole corpus snapshot each batch otherwise
    val rates = Curation.mixtureRates(Tables.documents(s, dir), "lang", budget = 200)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rates.count()
    val out = StreamingPrep.runToMemory(
      Curation.applyMixtureRates(
        StreamingPrep.streamDocuments(s, dir), "lang", col("doc_id"), rates))
      .select("doc_id", "lang")
    rates.unpersist()
    out
  }

  /** Streaming twin of q89: the PII scrub is pure stateless column
    * expressions, so it rides a continuous-ingest stream unchanged —
    * same DuckDB oracle as the batch pass.
    */
  private def q91(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      TextAnalysis.redactPii(StreamingPrep.streamDocuments(s, dir), "doc_id", "text"))

  /** Table profiling (ANALYZE-style per-column stats) over lineitem's
    * numeric measures: all columns in one aggregation pass, fixed-point
    * mean.
    */
  private def q92(s: SparkSession, dir: String): DataFrame =
    Profiling.profileNumeric(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount"))

  /** Stratified eval-set carve-out: hold out hash-deterministic 10% of
    * `en` docs and 50% of the low-resource strata. Rows-only (xxhash64
    * has no DuckDB twin); split invariants proven in PrepSpec.
    */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    val (held, rest) = Prep.stratifiedSplit(
      Tables.documents(s, dir), "lang", col("doc_id"),
      Map("en" -> 0.1, "de" -> 0.3, "zh" -> 0.5), defaultFraction = 0.2)
    held.groupBy("lang").agg(count(lit(1)).as("n_held"))
      .join(rest.groupBy("lang").agg(count(lit(1)).as("n_rest")), Seq("lang"), "full_outer")
  }

  /** q80's ORACLE-CHECKABLE twin: the portable md5-prefix stratified
    * split, gated at row level — every (doc_id, lang) with its held
    * verdict hash-compares against DuckDB computing the identical
    * md5-prefix decision. The strongest possible check for a split:
    * not the sizes, the ASSIGNMENT.
    */
  private def q80b(s: SparkSession, dir: String): DataFrame = {
    val (held, rest) = Prep.stratifiedSplitPortable(
      Tables.documents(s, dir).select("doc_id", "lang"), "lang", col("doc_id"),
      Map("en" -> 0.1, "de" -> 0.3, "zh" -> 0.5), defaultFraction = 0.2)
    held.withColumn("held", lit(true))
      .unionByName(rest.withColumn("held", lit(false)))
  }

  /** Stateful streaming sequence packing: per-shard running token
    * counter via flatMapGroupsWithState — one long of state per shard;
    * oracle is the batch pack (q76).
    */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val st = StreamingPrep.streamDocuments(s, dir)
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .select("doc_id", "lang", "n_tokens")
    StreamingPrep.runToMemory(StreamingPrep.packSequences(st, 2048))
  }

  /** Event-time-ordered streaming sequence packing: the corpus arrives
    * as three DELIBERATELY interleaved micro-batches (doc_id mod 3) —
    * the arrival order q81's within-batch packer would get wrong — and
    * the watermark-buffered packer still reproduces the batch packer's
    * exact assignment (same oracle as q81, full hash match). A
    * far-future sentinel doc advances the watermark past every real id
    * so all shards drain; the sentinel itself stays unreleased in
    * state and is filtered defensively.
    */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val docs = Tables.documents(s, dir)
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .select("doc_id", "lang", "n_tokens")
    val tmp = java.nio.file.Files.createTempDirectory("graft_q83").toString
    for (r <- 0 until 3) {
      docs.filter(pmod(col("doc_id"), lit(3)) === r)
        .coalesce(1).write.parquet(s"$tmp/f$r.parquet")
    }
    // horizon sized from the data: the watermark must not overtake any
    // real id while earlier-id files are still arriving, at ANY scale
    // factor; the sentinel must then clear the whole horizon
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val delaySec = maxId + 2
    import s.implicits._
    Seq((maxId * 10 + delaySec + 10, "zz-sentinel", 0L))
      .toDF("doc_id", "lang", "n_tokens")
      .coalesce(1).write.parquet(s"$tmp/z_sentinel.parquet")
    // file source orders by (modTime, path); pin both so the sentinel
    // demonstrably arrives LAST (a first-arriving sentinel would fast-
    // forward the watermark and drop every real doc)
    val base = System.currentTimeMillis()
    val dirs = Seq("f0.parquet", "f1.parquet", "f2.parquet", "z_sentinel.parquet")
    dirs.zipWithIndex.foreach { case (d, i) =>
      val dd = new java.io.File(s"$tmp/$d")
      (dd.listFiles() :+ dd).foreach(_.setLastModified(base + i * 2000L))
    }
    val stream = s.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/*")
    StreamingPrep.runToMemory(
      StreamingPrep.packSequencesOrdered(stream, 2048, delay = s"$delaySec seconds"))
      .filter(col("lang") =!= "zz-sentinel")
      .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
  }

  /** End-to-end corpus curation in ONE declarative plan — the "whole
    * point" query: language + quality filter → benchmark
    * decontamination (broadcast anti-join) → exact content dedup
    * (keep lowest id per normalized fingerprint) → sequence packing
    * per source shard. Every step is a deterministic expression, so
    * the entire DAG is oracle-checkable; Catalyst fuses the scan-side
    * stages and corpus-sized data shuffles exactly twice (fingerprint
    * dedup — with WindowGroupLimit pushed below the exchange — and the
    * pack window); the only other exchange is the eval-set-sized
    * benchmark distinct feeding the broadcast.
    */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val docs = Tables.documents(s, dir)
    val profiled = docs
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("quality", round(TextAnalysis.qualityScore(col("text")), 6))
      .filter(col("lang") === "en" && col("quality") > 0.3)
    val benchmark = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", regexp_replace(col("text"), " ", "  "))
    val cleaned = Curation.decontaminate(profiled, benchmark, "text")
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val deduped = Prep.dedupKeepFirst(cleaned, Seq("fp"), Seq(col("doc_id")))
      .select("doc_id", "source", "n_tokens")
    Curation.packSequences(deduped, "source", "doc_id", col("n_tokens"), 1024)
      .select("doc_id", "source", "n_tokens", "seq_id", "seq_offset")
  }

  /** FULL-COMPOSITION curation gate: every opt-in `curateCorpus` stage
    * on at once — URL-dedup intake (planted recrawl pairs) → domain cap
    * → PII scrub → lang gate → quality + repetition + classifier gates
    * → paragraph dedup → exact fluency tiers → DSIR importance
    * resample → decontamination → exact dedup → lang-budget mixture →
    * sequence packing. The individual stages are each gated elsewhere;
    * THIS query gates their interaction (gate-order effects, column
    * threading, recomputed token counts) — where composition bugs
    * actually live. Fluency runs in exact-ntile form
    * (`fluencyExact = true`) so the whole chain stays hash-comparable;
    * the scale path keeps its rows-only twin in q107.
    */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("url", concat(lit("http://"), col("source"),
        expr("(doc_id div 2) % 5").cast("string"), lit(".com/d/"),
        expr("doc_id div 2").cast("string")))
    val benchmark = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      .select(regexp_replace(col("text"), " ", "  ").as("text"))
    val target = Tables.documents(s, dir).filter(col("doc_id") % 10 === 3)
      .select(col("text"))
    val (out, release) = Pipelines.curateCorpusManaged(docs, benchmark,
      Pipelines.CurationConfig(
        lang = Some("en"),
        minQuality = 0.3,
        maxTopWordRatio = 0.5,
        budget = Some(150L),
        seqLen = 1024,
        shardCol = "source",
        paragraphDedup = true,
        fluencyTiers = Some(3),
        fluencyExact = true,
        classifierWeights = Some(q113Weights),
        urlCol = Some("url"),
        domainCapN = Some(30),
        // 0.7e9 = "at least 70% as target-like as raw": the %10==3
        // target slice is small relative to the bucket smoothing
        // constant, so absolute affinities sit below 1e9 — the ratio
        // distribution is scale-invariant, making 0.7 a stable median
        // split at every sf
        importanceMinAffinityFp = 700000000L,
        importanceBuckets = 1 << 16),
      importanceTarget = Some(target))
    val res = out.select(col("doc_id"), col("source"), col("lang"),
      col("n_tokens"), col("seq_id"), col("seq_offset")).localCheckpoint()
    release()
    res
  }

  /** CONTINUOUS curation composition — the streaming face of q123's
    * chain under the frozen-model serving discipline: every per-doc
    * policy (classifier weights, DSIR counts, mixture rates,
    * benchmark fingerprints) is snapshot-trained batch-side, then the
    * document stream flows through scrub → lang/quality/repetition/
    * classifier gates → frozen importance gate → decontamination →
    * index-table exact dedup → frozen mixture → stateful packing, two
    * ordered micro-batches (doc_id-midpoint files, the q95 staging).
    * Ordered ingest makes the result IDENTICAL to the batch chain, so
    * the query hash-gates against a composed DuckDB oracle.
    */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val raw = Tables.documents(s, dir)
    val benchmark = raw.filter(col("doc_id") % 10 === 0)
      .select(regexp_replace(col("text"), " ", "  ").as("text"))
      .localCheckpoint()
    val model = Curation.trainImportanceModel(raw, "text",
      raw.filter(col("doc_id") % 10 === 3).select(col("text")), "text",
      buckets = 1 << 16)
    val rates = Curation.mixtureRates(raw, "lang", budget = 150)
      .localCheckpoint()
    // two ordered micro-batches split at the doc_id midpoint
    val docs = raw.select("doc_id", "text", "lang", "source")
    val scratch = scratchDir("stream_curation")
    val stream = stageOrderedBatches(s, scratch,
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType))),
      midpointHalves(docs))
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val buf = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, String, Long, Long, Long)]
    val q = graft.streaming.StreamingCuration.start(
      stream, "doc_id", benchmark,
      graft.streaming.StreamingCuration.FrozenConfig(
        lang = Some("en"),
        minQuality = 0.3,
        maxTopWordRatio = 0.5,
        classifierWeights = Some(q113Weights),
        // the frozen raw-corpus model centers differently from q123's
        // fluent-corpus one: target = a 10% slice of a 5-language
        // corpus, so the neutral affinity sits near (R+B)/(10·(T+B))
        // ≈ 0.17e9, not 1e9 — 0.175e9 is the observed median split
        // and, like q123's, the ratio distribution is scale-invariant
        importance = Some((model, 175000000L)),
        seqLen = 1024,
        shardCol = "source"),
      Some(rates),
      fpIndexTable = s"graft_sc_fp_$sfx",
      packStateTable = s"graft_sc_pack_$sfx") { (batch, _) =>
      buf ++= batch
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_tokens"), col("seq_id"), col("seq_offset"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
    }
    try q.processAllAvailable()
    finally {
      q.stop()
      s.sql(s"DROP TABLE IF EXISTS graft_sc_fp_$sfx")
      s.sql(s"DROP TABLE IF EXISTS graft_sc_pack_$sfx")
    }
    import s.implicits._
    buf.toSeq
      .toDF("doc_id", "source", "lang", "n_tokens", "seq_id", "seq_offset")
  }

  private def q19(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  private def q20(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_nationkey").cast("int").as("nkey"))
    val sup = Tables.supplier(s, dir).select(col("s_nationkey").cast("int").as("nkey"))
    c.intersect(sup)
  }

  private def q21(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey").as("key"))
    val highCust = Tables.orders(s, dir).filter(col("o_totalprice") > 260000)
      .select(col("o_custkey").as("key"))
    c.except(highCust)
  }

  private def q22(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"), lit("customer").as("side"))
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("key"), col("s_acctbal").as("bal"), lit("supplier").as("side"))
    c.unionAll(sup)
  }

  private def q23(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.select(
      col("l_orderkey"), col("l_linenumber"),
      abs(col("l_discount") - lit(0.05)).as("abs_d"),
      (col("l_quantity") * col("l_quantity")).as("qty_sq"),
      round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
      signum(col("l_discount") - lit(0.05)).as("sign_d"),
      Serving.clip(col("l_quantity"), 5.0, 45.0).as("clipped_qty"),
      col("l_quantity").cast("int").as("qty_int"))
  }

  // ----------------------------------------------------- q2x serving / eval

  /** Bias-model serving pipeline with the reference's exact cold-start
    * semantics (SURVEY §2.4, §7.1.3): deterministic split → global stats →
    * user/item bias → predict with clip, global-mean fallback for unknown
    * user/item → MAE/MSE/RMSE in one pass.
    */
  /** q25's serving relation (test rows + prediction), shared with the
    * q189 cohort-eval gate. */
  private def q25Pred(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = Prep.modSplit(ratings(s, dir), col("event_id"), 10, 7)
    // favg (not avg): meanR feeds every downstream prediction, so it
    // must be bitwise-reproducible across runs and engines.
    val st = train.agg(
      favg(col("rating")).as("mean_r"),
      min(col("rating")).as("min_r"),
      max(col("rating")).as("max_r")).head()
    val (meanR, minR, maxR) = (st.getDouble(0), st.getDouble(1), st.getDouble(2))
    val ub = train.groupBy("user").agg(favg(col("rating") - meanR).as("u_bias"))
    val ib = train.groupBy("item").agg(favg(col("rating") - meanR).as("i_bias"))
    val known = col("u_bias").isNotNull && col("i_bias").isNotNull
    val score = lit(meanR) + col("u_bias") + col("i_bias")
    test
      .join(broadcast(ub), Seq("user"), "left_outer")
      .join(broadcast(ib), Seq("item"), "left_outer")
      .withColumn("prediction",
        when(known, Serving.clip(score, minR, maxR)).otherwise(lit(meanR)))
  }

  private def q25(s: SparkSession, dir: String): DataFrame = {
    val pred = q25Pred(s, dir)
    val err = col("prediction") - col("rating")
    pred.agg(
      favg(abs(err)).as("mae"),
      favg(err * err).as("mse"),
      sqrt(favg(err * err)).as("rmse"))
  }

  /** Per-cohort serving eval
    * ([[graft.recommender.Evaluator.evaluateByDf]]): q25's prediction
    * relation sliced by train-side user-activity QUARTILE (exact
    * ntile over (count desc, user) — the established window-parity
    * surface); unseen test users keep a NULL tier and form their own
    * cold cohort.
    */
  private def q189(s: SparkSession, dir: String): DataFrame = {
    val (train, _) = Prep.modSplit(ratings(s, dir), col("event_id"), 10, 7)
    val tiers = train.groupBy("user").agg(count(lit(1)).as("__n"))
      .withColumn("tier", ntile(4).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__n").desc, col("user"))))
      .drop("__n")
    graft.recommender.Evaluator.evaluateByDf(
      q25Pred(s, dir).join(tiers, Seq("user"), "left"),
      "rating", "prediction", "tier")
  }

  private def q189Sql: String =
    s"""$ratingsCte,
       |train AS (SELECT * FROM ratings WHERE event_id % 10 < 7),
       |test  AS (SELECT * FROM ratings WHERE event_id % 10 >= 7),
       |stats AS (SELECT ${favgSql("rating")} AS mean_r, min(rating) AS min_r,
       |                 max(rating) AS max_r FROM train),
       |ub AS (SELECT "user",
       |              ${favgSql("rating - (SELECT mean_r FROM stats)")} AS u_bias
       |       FROM train GROUP BY "user"),
       |ib AS (SELECT item,
       |              ${favgSql("rating - (SELECT mean_r FROM stats)")} AS i_bias
       |       FROM train GROUP BY item),
       |uc AS (SELECT "user", count(*) AS n FROM train GROUP BY 1),
       |tr AS (SELECT "user",
       |              CAST(ntile(4) OVER (ORDER BY n DESC, "user") AS INTEGER)
       |                AS tier
       |       FROM uc),
       |pred AS (
       |  SELECT t."user", t.rating,
       |         CASE WHEN ub.u_bias IS NOT NULL AND ib.i_bias IS NOT NULL
       |              THEN least(greatest(s.mean_r + ub.u_bias + ib.i_bias,
       |                                  s.min_r), s.max_r)
       |              ELSE s.mean_r END AS prediction
       |  FROM test t CROSS JOIN stats s
       |  LEFT JOIN ub ON t."user" = ub."user"
       |  LEFT JOIN ib ON t.item = ib.item)
       |SELECT tr.tier, count(*) AS n,
       |       ${favgSql("abs(prediction - rating)")} AS mae,
       |       ${favgSql("(prediction - rating) * (prediction - rating)")} AS mse,
       |       sqrt(${favgSql("(prediction - rating) * (prediction - rating)")})
       |         AS rmse
       |FROM pred LEFT JOIN tr ON pred."user" = tr."user"
       |GROUP BY tr.tier""".stripMargin

  // --------------------------------------------------------- q3x recommenders

  /** MLlib ALS (scale path) trained on a deterministic split, evaluated
    * with the reference's serving semantics. Rows-only check (training is
    * not SQL-expressible).
    */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = Prep.modSplit(
      ratings(s, dir).select("user", "item", "rating", "time"), col("time"), 10, 7)
    val m = AlsRecommender.fit(train,
      AlsRecommender.Params(rank = 8, maxIter = 5, numBlocks = 8))
    Evaluator.evaluateDf(m.predict(test), "rating", "prediction")
  }

  /** Top-N recommendation serving (decoded natural keys) through the
    * ANN-shortlist scale path: IVF over the MIPS-augmented vectors
    * `[Q,b_i]·[P,1]`, exact re-rank of the shortlist — no users×items
    * product in the plan (the cross-join verifier remains as
    * `recommendForAllUsersExact`, recall-tested in AlsRecommenderSpec).
    */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val m = AlsRecommender.fit(
      ratings(s, dir).select("user", "item", "rating", "time"),
      AlsRecommender.Params(rank = 8, maxIter = 5, numBlocks = 8))
    m.recommendForAllUsersAnn(5, nlist = 16, nprobe = 8)
  }

  /** Fixed-state twin of q31 — hash-gates the top-N serving operator
    * itself (`AlsRecommender.topNExact`: exact cross-join scoring +
    * per-user window rank, the paper's §2 headline concept). Factor
    * states are deterministic FIXED-POINT aggregates of the ratings
    * (training is float/RNG and stays rows-only — the q121b
    * fixed-centroid precedent): u = i = [n, Σr/10⁶, Σr²/10⁶] per key,
    * i_bias the fixed-point mean, so every score is a replayable IEEE
    * chain in both engines.
    */
  private def q31b(s: SparkSession, dir: String): DataFrame = {
    val r = ratings(s, dir)
    def state(key: String) = r.groupBy(key).agg(
      count(lit(1)).cast("double").as("c"),
      fsum(col("rating")).as("s1"),
      fsum(col("rating") * col("rating")).as("s2"))
    val users = state("user")
      .select(col("user"), array(col("c"), col("s1"), col("s2")).as("u_factors"))
    val items = state("item")
      .select(col("item"), array(col("c"), col("s1"), col("s2")).as("i_factors"),
        (col("s1") / col("c")).as("i_bias"))
    AlsRecommender.topNExact(users, items, 5)
  }

  /** BPR implicit-model serving under caller-frozen deterministic
    * states (the q31b precedent for the q150 trainer): the same
    * integer-derived 3-dim factors, ranked by the PURE dot — no item
    * bias, the BPR criterion's score — through
    * [[graft.recommender.BprMf.topNExact]]. Training stays rows-only
    * (float trajectory); the serving operator hash-gates here.
    */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    val r = ratings(s, dir)
    def state(key: String) = r.groupBy(key).agg(
      count(lit(1)).cast("double").as("c"),
      fsum(col("rating")).as("s1"),
      fsum(col("rating") * col("rating")).as("s2"))
    val users = state("user")
      .select(col("user"), array(col("c"), col("s1"), col("s2")).as("u_factors"))
    val items = state("item")
      .select(col("item"), array(col("c"), col("s1"), col("s2")).as("i_factors"))
    graft.recommender.BprMf.topNExact(users, items, 5)
  }

  /** The q155 pure-dot ranking chain as CTEs through `rk` ("user",
    * item, "rank"), states built from the `srcWhere`-restricted
    * ratings — shared by the q155 gate (whole table) and the q162
    * ranking-metrics eval (train split only).
    */
  private def q155Ctes(srcWhere: String = ""): String =
    s"""$ratingsCte,
       |src AS (SELECT * FROM ratings $srcWhere),
       |us AS (SELECT "user", CAST(count(*) AS DOUBLE) AS c,
       |              ${fsumSql("rating")} AS s1, ${fsumSql("rating*rating")} AS s2
       |       FROM src GROUP BY 1),
       |it AS (SELECT item, CAST(count(*) AS DOUBLE) AS c,
       |              ${fsumSql("rating")} AS s1, ${fsumSql("rating*rating")} AS s2
       |       FROM src GROUP BY 1),
       |sc AS (SELECT u."user", i.item,
       |              (u.c * i.c + u.s1 * i.s1 + u.s2 * i.s2) + 0.0 AS score
       |       FROM us u CROSS JOIN it i),
       |rk AS (SELECT "user", item,
       |              CAST(row_number() OVER (PARTITION BY "user"
       |                ORDER BY score DESC, item) AS INT) AS "rank"
       |       FROM sc)""".stripMargin

  private def q155Sql(): String =
    s"""${q155Ctes()}
       |SELECT "user", item, "rank" FROM rk WHERE "rank" <= 5""".stripMargin

  /** Top-N ranking metrics
    * ([[graft.recommender.Evaluator.rankingMetrics]]): the q155 chain
    * on the TRAIN mod-split scores top-5 recs, evaluated against the
    * held-out test split — per-user hits@5, reciprocal rank, DCG/
    * ideal-DCG/NDCG@5 with the per-rank weights embedded as driver
    * literals, so the whole eval is integer arithmetic and hash-gates.
    */
  private def q162(s: SparkSession, dir: String): DataFrame = {
    val r = ratings(s, dir)
    val (train, test) = Prep.modSplit(r, col("event_id"), 10, 7)
    def state(key: String) = train.groupBy(key).agg(
      count(lit(1)).cast("double").as("c"),
      fsum(col("rating")).as("s1"),
      fsum(col("rating") * col("rating")).as("s2"))
    val users = state("user")
      .select(col("user"), array(col("c"), col("s1"), col("s2")).as("u_factors"))
    val items = state("item")
      .select(col("item"), array(col("c"), col("s1"), col("s2")).as("i_factors"))
    val recs = graft.recommender.BprMf.topNExact(users, items, 5)
    graft.recommender.Evaluator.rankingMetrics(
      recs, test.select("user", "item"), "user", "item", "rank", k = 5)
  }

  private def q162Sql(k: Int = 5): String = {
    val scale = 1000000L
    val w = graft.recommender.Evaluator.dcgWeights(k, scale)
    val prefix = w.scanLeft(0L)(_ + _).tail
    val wCase = (1 to k)
      .map(r => s"WHEN ${r} THEN ${w(r - 1)}").mkString(" ")
    val pCase = (1 to k)
      .map(n => s"WHEN ${n} THEN ${prefix(n - 1)}").mkString(" ")
    s"""${q155Ctes("WHERE event_id % 10 < 7")},
       |te AS (SELECT DISTINCT "user", item FROM ratings
       |       WHERE event_id % 10 >= 7),
       |nt AS (SELECT "user", count(*) AS n_truth FROM te GROUP BY 1),
       |hits AS (SELECT r."user", r."rank"
       |         FROM rk r JOIN te ON te."user" = r."user" AND te.item = r.item
       |         WHERE r."rank" <= $k),
       |pu AS (SELECT "user", count(*) AS hits, min("rank") AS fr,
       |              sum(CASE "rank" $wCase END) AS dcg
       |       FROM hits GROUP BY 1),
       |fin AS (
       |  SELECT nt."user",
       |    CAST(nt.n_truth AS BIGINT) AS n_truth,
       |    CAST(coalesce(pu.hits, 0) AS BIGINT) AS hits,
       |    CAST(coalesce($scale // pu.fr, 0) AS BIGINT) AS rr_fp,
       |    CAST(coalesce(pu.dcg, 0) AS BIGINT) AS dcg_fp,
       |    CAST(CASE least($k, nt.n_truth) $pCase END AS BIGINT) AS idcg_fp
       |  FROM nt LEFT JOIN pu ON pu."user" = nt."user")
       |SELECT "user", n_truth, hits, rr_fp, dcg_fp, idcg_fp,
       |       CAST((dcg_fp * $scale) // idcg_fp AS BIGINT) AS ndcg_fp
       |FROM fin""".stripMargin
  }

  /** Daily resample + LOCF gap-fill over the event stream
    * ([[graft.prep.Prep.resampleLocf]]): per user, one row per day in
    * the user's observed span, carrying the last observation forward
    * through gap days. No arithmetic touches the carried value, so
    * the fill hash-gates on the raw stored doubles.
    */
  private def q163(s: SparkSession, dir: String): DataFrame =
    graft.prep.Prep.resampleLocf(Tables.events(s, dir), "user_id",
      expr("ts_ns div 1000"), "value", "event_id", 86400000000L)

  private def q163Sql(intervalUs: Long = 86400000000L): String =
    s"""WITH e AS (
       |  SELECT user_id AS key, epoch_us(ts) AS t, event_id, value
       |  FROM events),
       |ob0 AS (
       |  SELECT key, t // $intervalUs AS bucket, value,
       |         row_number() OVER (PARTITION BY key, t // $intervalUs
       |           ORDER BY t DESC, event_id DESC) AS rn
       |  FROM e),
       |ob AS (SELECT key, bucket, value AS obs_value FROM ob0 WHERE rn = 1),
       |sp AS (SELECT key, unnest(range(b0, b1 + 1)) AS bucket
       |       FROM (SELECT key, min(bucket) AS b0, max(bucket) AS b1
       |             FROM ob GROUP BY 1) t),
       |j AS (SELECT sp.key, sp.bucket, ob.obs_value
       |      FROM sp LEFT JOIN ob USING (key, bucket))
       |SELECT key, CAST(bucket * $intervalUs AS BIGINT) AS bucket_start_us,
       |       last_value(obs_value IGNORE NULLS) OVER (
       |         PARTITION BY key ORDER BY bucket
       |         ROWS UNBOUNDED PRECEDING) AS value,
       |       obs_value IS NOT NULL AS observed
       |FROM j""".stripMargin

  /** Continuous streaming twin of q163
    * ([[graft.streaming.StreamingResample]]): per-batch last-obs
    * maxima appended to a state table, read-time global election +
    * LOCF. The max fold is idempotent and commutative, so ANY batch
    * order converges to the batch answer — shares q163's oracle.
    */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    val tbl =
      s"graft_resample_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val run = graft.streaming.StreamingResample.start(
      StreamingPrep.streamEvents(s, dir), "user_id",
      expr("ts_ns div 1000"), "value", "event_id", 86400000000L, tbl) {
      _ => ()
    }
    try {
      run.query.processAllAvailable()
      run.result().get.localCheckpoint()
    } finally { run.query.stop(); s.sql(s"DROP TABLE IF EXISTS $tbl") }
  }

  /** SemDeDup semantic dedup under the frozen first-8 centroids
    * ([[graft.pipeline.Curation.semanticDedupFixed]]) over the
    * exact-copy planted corpus: every planted copy shares its
    * original's cluster and scores cosine ≈ 1, so the survivor set is
    * the min-id representatives — hash-gated end to end
    * ([[graft.oracle.AnnOracles.q168Sql]]).
    */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding")))
    val centroids = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    graft.pipeline.Curation.semanticDedupFixed(planted, "vec_id",
      "embedding", centroids, thresholdFp = 450000000000L)
      .select(col("id").as("vec_id"), col("cluster"))
  }

  /** Continuous SemDeDup ([[graft.streaming.StreamingSemanticDedup]]):
    * q168's planted corpus delivered as two id-ordered micro-batches,
    * each probing the cluster-bucketed index of everything seen before
    * it. Ordered ingest + the full fingerprint index make the stream's
    * min-smaller-id verdicts EQUAL to the batch operator's, so the
    * survivor set shares q168's oracle verbatim.
    */
  private def q169(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val emb = Tables.embeddings(s, dir)
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding")))
    val centroids = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val stream = stageOrderedBatches(s, scratchDir("stream_semdedup"),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))),
      midpointHalves(planted, "vec_id"))
    val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Long])]
    val tbl =
      s"graft_ssd_idx_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val run = graft.streaming.StreamingSemanticDedup.start(stream,
      "vec_id", "embedding", centroids, thresholdFp = 450000000000L,
      indexTable = tbl) { (v, _) =>
      buf ++= v.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    }
    try run.query.processAllAvailable()
    finally { run.query.stop(); s.sql(s"DROP TABLE IF EXISTS $tbl") }
    import s.implicits._
    buf.toSeq.toDF("vec_id", "cluster", "dup_of")
      .filter(col("dup_of").isNull).select("vec_id", "cluster")
  }

  /** OUT-OF-ORDER continuous SemDeDup
    * ([[graft.streaming.StreamingSemanticDedup.startOrdered]]): q168's
    * planted corpus arrives as three DELIBERATELY interleaved
    * micro-batches (vec_id mod 3) — the arrival order under which the
    * plain q169 stream's keep-first verdicts would diverge from the
    * batch min-id policy — and the watermark-buffered orderer still
    * reproduces the batch operator's exact survivor set, so the query
    * shares q168's oracle verbatim (the q83 ordered-packing pattern
    * applied to the index-fold family). A far-future sentinel advances
    * the watermark past every real id; the sentinel itself stays
    * unreleased in state and is filtered defensively.
    */
  private def q195(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding")))
    val centroids = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val tmp = scratchDir("stream_semdedup_ooo")
    for (r <- 0 until 3) {
      planted.filter(pmod(col("vec_id"), lit(3)) === r)
        .coalesce(1).write.parquet(s"$tmp/f$r.parquet")
    }
    // horizon sized from the data (the q83 rule): the watermark must
    // not overtake any real id while earlier-id files still arrive
    val maxId = planted.agg(max(col("vec_id"))).head().getLong(0)
    val delaySec = maxId + 2
    import s.implicits._
    val sentinelId = maxId * 10 + delaySec + 10
    Seq((sentinelId, Seq.empty[Float])).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$tmp/z_sentinel.parquet")
    // pin (modTime, path) so the sentinel demonstrably arrives LAST
    val base = System.currentTimeMillis()
    Seq("f0.parquet", "f1.parquet", "f2.parquet", "z_sentinel.parquet")
      .zipWithIndex.foreach { case (d, i) =>
        val dd = new java.io.File(s"$tmp/$d")
        (dd.listFiles() :+ dd).foreach(_.setLastModified(base + i * 2000L))
      }
    val stream = s.readStream
      .schema(planted.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/*")
    val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Long])]
    val tbl =
      s"graft_ssdo_idx_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val run = graft.streaming.StreamingSemanticDedup.startOrdered(stream,
      "vec_id", "embedding", centroids, thresholdFp = 450000000000L,
      indexTable = tbl, delay = s"$delaySec seconds") { (v, _) =>
      buf ++= v.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    }
    try run.query.processAllAvailable()
    finally { run.query.stop(); s.sql(s"DROP TABLE IF EXISTS $tbl") }
    buf.toSeq.toDF("vec_id", "cluster", "dup_of")
      .filter(col("dup_of").isNull)
      .filter(col("vec_id") =!= sentinelId)
      .select("vec_id", "cluster")
  }

  /** Curation composition WITH the SemDeDup stage: default gates
    * (scrub → quality/repetition → decontaminate → exact dedup) plus
    * embedding-space dedup against the documents' embedding rows
    * (doc_id = vec_id) under the frozen first-8 centroids, then
    * packing. Exercises [[graft.pipeline.Pipelines.curateCorpus]]'s
    * `embeddings` path end to end; the oracle replays the whole chain
    * including [[graft.oracle.AnnOracles.semanticDroppedCtes]].
    */
  private def q170(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val benchmark = docs.filter(col("doc_id") % 10 === 0)
      .select(regexp_replace(col("text"), " ", "  ").as("text"))
    val embSrc = Tables.embeddings(s, dir)
    val centroids = embSrc.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val (out, release) = Pipelines.curateCorpusManaged(docs, benchmark,
      Pipelines.CurationConfig(
        semanticCentroids = Some(centroids),
        semanticThresholdFp = 450000000000L),
      embeddings = Some(embSrc.select(col("vec_id").as("doc_id"),
        col("embedding"))))
    val res = out.select(col("doc_id"), col("source"), col("lang"),
      col("n_tokens"), col("seq_id"), col("seq_offset")).localCheckpoint()
    release()
    res
  }

  /** Semantic dup CLUSTERING: the SemDeDup pair set
    * ([[graft.pipeline.Curation.semanticPairsFixed]], threshold 0.9 —
    * components stay exact-copy-sized) fed to the distributed
    * connected components ([[graft.dedup.Dedup.clusterSurvivors]]) —
    * the aggressive transitive policy next to q168's greedy local one
    * (a local-min doc q168 keeps can drop here when its component's
    * global min is elsewhere). Oracle replays the closure recursively
    * ([[graft.oracle.AnnOracles.q171Sql]]).
    */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding")))
    val centroids = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val pairs = graft.pipeline.Curation.semanticPairsFixed(planted,
      "vec_id", "embedding", centroids, thresholdFp = 900000000000L)
    graft.dedup.Dedup.clusterSurvivors(
      planted.select("vec_id"), "vec_id", pairs)
  }

  /** k-NN graph under the frozen first-8 unit centroids
    * ([[graft.similarity.Ann.knnGraphFixed]]): every embedding's top-5
    * list-mates by exact integer dot — the graph-construction
    * primitive; hash-gated end to end
    * ([[graft.oracle.AnnOracles.q172Sql]]).
    */
  private def q172(s: SparkSession, dir: String): DataFrame =
    graft.similarity.Ann.knnGraphFixed(Tables.embeddings(s, dir),
      "vec_id", "embedding", k = 5,
      centroids = unitHeadEmbeddings(s, dir, 8))

  /** kNN-density outlier verdicts over the q172 graph
    * ([[graft.similarity.Ann.knnDensity]]) — the D4-class
    * off-distribution pruning signal; hash-gated
    * ([[graft.oracle.AnnOracles.q173Sql]]).
    */
  private def q173(s: SparkSession, dir: String): DataFrame =
    graft.similarity.Ann.knnDensity(
      graft.similarity.Ann.knnGraphFixed(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 5,
        centroids = unitHeadEmbeddings(s, dir, 8)),
      outlierBelowFp = 100000000000L)

  /** The D4-style selection pipeline (Tirumala et al. 2023) in the
    * fixed hash-gateable form: SemDeDup survivors (q168's raw-space
    * kernel, no plants) → k-NN graph + density over the SURVIVOR set
    * (q172/q173 unit-space kernels, full-corpus frozen centroids) →
    * drop off-distribution survivors. Isolated survivors (no
    * list-mates left after dedup) keep a NULL density — "unknown"
    * passes, only measured outliers drop.
    */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val rawCents = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    graft.pipeline.Curation.d4Select(emb, "vec_id", "embedding",
      rawCents, dedupThresholdFp = 450000000000L,
      unitCentroids = unitHeadEmbeddings(s, dir, 8), k = 5,
      outlierBelowFp = 100000000000L)
      .withColumnRenamed("id", "vec_id")
  }

  /** MMR diversified re-rank over the q48b LSH shortlist
    * ([[graft.similarity.Ann.mmrRerank]], λ = 1/2): the RAG
    * diversification pass, k unrolled argmax steps replayed by
    * [[graft.oracle.AnnOracles.q175Sql]].
    */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cand = graft.similarity.Ann.lshTopKFixed(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 20, tables = 32, planes = 4, dim = 64)
    graft.similarity.Ann.mmrRerank(cand,
      graft.similarity.Ann.fixedUnitVectors(e, "vec_id", "embedding"),
      k = 5)
  }

  /** Semantic (embedding-space) decontamination audit
    * ([[graft.pipeline.Curation.semanticContaminationPairs]]): corpus
    * = the embeddings table under the frozen first-8 raw centroids,
    * benchmark = the vec_id%7==3 embeddings re-keyed at +500000 (exact
    * copies — guaranteed contamination). Corpus map-assigned once and
    * never shuffled; benchmark multi-probes 2 centroids and
    * broadcasts. Hash-gated ([[graft.oracle.AnnOracles.q176Sql]]).
    */
  private def q176(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val bench = emb.filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + 500000).as("bench_id"), col("embedding"))
    val centroids = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    graft.pipeline.Curation.semanticContaminationPairs(emb, "vec_id",
      "embedding", bench, "bench_id", "embedding", centroids,
      thresholdFp = 450000000000L, nProbe = 2)
  }

  /** Streaming twin of q176 — ingest-time semantic decontamination:
    * frozen centroids + a frozen benchmark-sized probe relation make
    * [[graft.pipeline.Curation.semanticContaminationPairs]] STATELESS
    * over the corpus stream (one stream-static broadcast join per
    * micro-batch, zero cross-batch state), so the operator runs as-is
    * under append mode and shares q176's oracle verbatim.
    */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val bench = emb.filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + 500000).as("bench_id"), col("embedding"))
    val centroids = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    StreamingPrep.runToMemory(
      graft.pipeline.Curation.semanticContaminationPairs(
        StreamingPrep.streamEmbeddings(s, dir), "vec_id", "embedding",
        bench, "bench_id", "embedding", centroids,
        thresholdFp = 450000000000L, nProbe = 2))
  }

  /** Graph-ANN beam search over the q172 k-NN graph
    * ([[graft.similarity.Ann.beamSearchFixed]]): the NSW-class greedy
    * probe — entries = the 8 list heads, 3 expansion rounds of beam 4,
    * top-5 of everything visited; replayed by 3 unrolled SQL rounds
    * ([[graft.oracle.AnnOracles.q184Sql]]).
    */
  private def q184(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val graph = graft.similarity.Ann.knnGraphFixed(e, "vec_id",
      "embedding", k = 5, centroids = unitHeadEmbeddings(s, dir, 8))
    graft.similarity.Ann.beamSearchFixed(graph,
      graft.similarity.Ann.fixedUnitVectors(e, "vec_id", "embedding"),
      e.filter(col("vec_id") < 10), "vec_id", "embedding",
      entryIds = 0L until 8L, beam = 4, steps = 3, k = 5)
  }

  /** SQ8 scalar-quantized top-k
    * ([[graft.similarity.Ann.sq8TopK]]): bounds frozen from the unit
    * corpus (one agg, a 2·64-double artifact), asymmetric full-
    * precision-query scoring over on-the-fly dequantized codes;
    * replayed by [[graft.oracle.AnnOracles.q190Sql]].
    */
  private def q190(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val (mins, maxs) =
      graft.similarity.Ann.sq8Bounds(e, "vec_id", "embedding", 64)
    graft.similarity.Ann.sq8TopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10,
      mins, maxs)
  }

  /** IVF-SQ8 top-k ([[graft.similarity.Ann.ivfSq8TopK]]): the q52b
    * assignment/probe under the frozen first-8 unit centroids with
    * SQ8 dequant scoring inside the probed lists — the production
    * codes-in-the-lists composition; replayed by
    * [[graft.oracle.AnnOracles.q191Sql]].
    */
  private def q191(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val (mins, maxs) =
      graft.similarity.Ann.sq8Bounds(e, "vec_id", "embedding", 64)
    graft.similarity.Ann.ivfSq8TopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10,
      centroids = unitHeadEmbeddings(s, dir, 8), nprobe = 3, mins, maxs)
  }

  /** Reference-faithful FunkSVD (full-batch GD) with per-epoch training
    * error history surfaced as data.
    */
  private def q32(s: SparkSession, dir: String): DataFrame =
    GdMf.fit(
      ratings(s, dir).select("user", "item", "rating", "time"),
      GdMf.Config(nFactors = 4, epochs = 3, lr = 0.001, reg = 0.001,
        collectErrors = true)).trainErrorsDf

  /** Reference-faithful alternating GD ("ALS" in the reference). */
  private def q33(s: SparkSession, dir: String): DataFrame =
    GdMf.fit(
      ratings(s, dir).select("user", "item", "rating", "time"),
      GdMf.Config(nFactors = 4, epochs = 3, lr = 0.001, reg = 0.001,
        alternating = true, collectErrors = true)).trainErrorsDf

  /** Seeded random 70/30 split (reference `run_als.py:13-14`) — split
    * sizes and disjointness are the checkable surface (a per-row seeded
    * Bernoulli draw can never hash-match across engines, SURVEY §2.3);
    * rows-only gate + PrepSpec invariants cover it.
    */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = Prep.randomSplit(
      ratings(s, dir).select("user", "item", "rating", "time"), 0.7, seed = 7L)
    train.agg(count(lit(1)).as("n_train"))
      .crossJoin(test.agg(count(lit(1)).as("n_test")))
      .withColumn("disjoint",
        lit(train.intersect(test).isEmpty))
  }

  /** Sketch-based statistics — the 100 TB variant of q07, where exact
    * countDistinct's shuffle of every distinct value is the bottleneck:
    * HLL++ (approx_count_distinct) and t-digest percentiles
    * (approx_percentile) aggregate in fixed memory. Rows-only check
    * (approximate by construction); accuracy asserted in tests.
    */
  private def q36(s: SparkSession, dir: String): DataFrame =
    ratings(s, dir).agg(
      count(lit(1)).as("n_ratings"),
      approx_count_distinct(col("user"), rsd = 0.01).as("approx_users"),
      approx_count_distinct(col("item"), rsd = 0.01).as("approx_items"),
      percentile_approx(col("rating"), lit(0.5), lit(10000)).as("p50_rating"),
      percentile_approx(col("rating"), lit(0.95), lit(10000)).as("p95_rating"))

  /** Portable HLL registers (p=12) over the ratings user key — the
    * engine-portable counterpart of q36's HLL++ cardinality: the
    * register STATE hash-gates (pure xxhash64-derived integers), not
    * just a tolerance-checked estimate
    * ([[graft.pipeline.PortableSketches.hllRegisters]]).
    */
  private def q125(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.PortableSketches.hllRegisters(
      ratings(s, dir), col("user"))

  /** Shard-merge form of q125: per-half registers (event_id parity
    * split) folded with `hllMerge` must equal the whole-corpus
    * registers, so it SHARES q125's oracle — mergeability without
    * rescan is the sketch's 100 TB contract, and the gate proves it.
    */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.PortableSketches
    val r = ratings(s, dir)
    PortableSketches.hllMerge(
      PortableSketches.hllRegisters(
        r.filter(col("event_id") % 2 === 0), col("user")),
      PortableSketches.hllRegisters(
        r.filter(col("event_id") % 2 === 1), col("user")))
  }

  /** Streaming twin of q125's register fold over the documents corpus
    * (doc_id as the key, delivered as two ordered micro-batches): the
    * rolling registers after the last trigger must equal the batch
    * registers over everything, so it shares the generated batch
    * oracle. HLL's max-merge makes the fold replay-idempotent — the
    * one streaming op here that needs NO batchId guard
    * ([[graft.streaming.StreamingSketches]]).
    */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val stream = stageOrderedBatches(s, scratchDir("stream_hll"),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))),
      midpointHalves(docs))
    val run = graft.streaming.StreamingSketches.startHll(
      stream, col("doc_id")) { (_, _) => () }
    try {
      run.query.processAllAvailable()
      // localCheckpoint pins the ≤2^p register rows before release
      val out = run.registers().get.localCheckpoint()
      out
    } finally { run.query.stop(); run.release() }
  }

  /** Count-Min frequency sketch (4×1024) over the ratings item key —
    * portable heavy-hitter counting: cells are pure xxhash64-derived
    * integers, hash-gated like the HLL registers.
    */
  private def q127(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.PortableSketches.cmSketch(
      ratings(s, dir), col("item"))

  /** Streaming twin of q127: the item stream delivered as two ordered
    * micro-batches, per-batch cells folded into a batch_id-partitioned
    * table (dynamic overwrite of the own partition = replay-idempotent
    * sum-merge sink — the case HLL's max-merge gets for free), summed
    * at read. Shares q127's oracle: fold == batch.
    */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val r = ratings(s, dir).select("item", "event_id")
    val stream = stageOrderedBatches(s, scratchDir("stream_cm"),
      StructType(Seq(StructField("item", StringType))),
      midpointHalves(r, "event_id").map(_.select("item")))
    val tbl = s"graft_cm_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val run = graft.streaming.StreamingSketches.startCm(
      stream, col("item"), tbl) { (_, _) => () }
    try {
      run.query.processAllAvailable()
      run.registers().get.localCheckpoint()
    } finally { run.query.stop(); s.sql(s"DROP TABLE IF EXISTS $tbl") }
  }

  /** Fixed-range histogram registers (64 buckets over [0, 512)) of the
    * rating value — the portable stand-in for t-digest quantiles
    * (q36's percentile_approx stays rows-only; this gate is exact).
    */
  private def q128(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.PortableSketches.histRegisters(
      ratings(s, dir), col("rating"), lo = 0.0, hi = 512.0)

  /** Per-source HLL registers over the documents corpus — every
    * source's distinct-fingerprint cardinality sketch in one pass
    * (the per-domain/per-day production shape;
    * [[graft.pipeline.PortableSketches.hllRegistersBy]]).
    */
  private def q135(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.PortableSketches.hllRegistersBy(
      Tables.documents(s, dir), col("source"),
      graft.text.TextAnalysis.fingerprint(col("text")))

  /** Bottom-64 consistent sample of the ratings user key — the KMV
    * sketch: a stable sample (same keys survive across runs, shards
    * and engines) that doubles as a distinct-count estimator
    * ([[graft.pipeline.PortableSketches.bottomK]]/`kmvEstimate`).
    */
  private def q134(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.PortableSketches.bottomK(
      ratings(s, dir), col("user"), k = 64)

  /** Fixed-point PageRank (5 damped iterations) over a deterministic
    * synthetic link graph on the documents table (three modular link
    * rules, self-loops dropped — replayed verbatim in the oracle).
    * Integer arithmetic end-to-end, so the whole trajectory
    * hash-gates against the unrolled DuckDB replay (q133Sql) — the
    * link-analysis curation signal (CommonCrawl-style centrality)
    * with a real oracle.
    */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val nn = docs.count()
    val e0 = docs.select(col("doc_id").as("src"),
      ((col("doc_id") * 7 + 11) % nn).as("dst"))
      .unionAll(docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 13 + 5) % nn).as("dst")))
      .unionAll(docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("src"),
          ((col("doc_id") * 31 + 3) % nn).as("dst")))
    graft.pipeline.LinkAnalysis.pageRankFixed(
      e0.filter(col("src") =!= col("dst")),
      docs.select(col("doc_id").as("node")))
  }

  /** Unigram-LM (SentencePiece-style) tokenization under a frozen
    * INTEGER-scored vocabulary trained on the even-doc half (the q136
    * split — odd docs exercise out-of-training chars → `[UNK]`):
    * exact Viterbi segmentation, so unlike q136's greedy matcher the
    * chosen decomposition is the global optimum under the piece
    * scores. The oracle re-derives the scored vocab AND replays the
    * DP via unrolled per-position argmax steps
    * ([[graft.oracle.UnigramOracles]]).
    */
  private def q159(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val v = graft.text.Unigram.trainFrozen(
      docs.filter(col("doc_id") % 2 === 0), "text", topK = 1024)
    graft.text.Unigram.tokenStats(docs, "doc_id", "text", v)
  }

  /** Unigram ARTIFACT lifecycle gate (the q106/q145 precedent): train
    * on the even half, persist the scored vocabulary, reload it,
    * tokenize the DISJOINT doc_id % 10 == 1 corpus under the loaded
    * artifact — the save/load round-trip proven inert at the oracle
    * level.
    */
  private def q160(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val v = graft.text.Unigram.trainFrozen(
      docs.filter(col("doc_id") % 2 === 0), "text", topK = 1024)
    val scratch = scratchDir("ug_vocab")
    graft.text.Unigram.saveVocab(s, v, s"$scratch/vocab")
    val loaded = graft.text.Unigram.loadVocab(s, s"$scratch/vocab")
    graft.text.Unigram.tokenStats(
      docs.filter(col("doc_id") % 10 === 1), "doc_id", "text", loaded)
  }

  /** Streaming twin of q159: the per-document Viterbi summary via the
    * MAP-ONLY expression form ([[graft.text.Unigram.tokenStatsMapOnly]])
    * — stateless per micro-batch, admits identical rows, shares
    * q159's oracle (the q139 pattern).
    */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val v = graft.text.Unigram.trainFrozen(
      docs.filter(col("doc_id") % 2 === 0), "text", topK = 1024)
    StreamingPrep.runToMemory(
      graft.text.Unigram.tokenStatsMapOnly(
        StreamingPrep.streamDocuments(s, dir), "doc_id", "text", v))
  }

  /** WordPiece greedy tokenization under a frequency-frozen vocabulary
    * trained on the even-doc_id half (the q106 train/apply split — odd
    * docs carry out-of-training characters, exercising the `[UNK]`
    * collapse). Output pins the full greedy decomposition per doc via
    * the occurrence-weighted piece-sequence hash; the oracle re-derives
    * the vocabulary AND replays the longest-match loop
    * ([[graft.oracle.WordPieceOracles]]).
    */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val v = graft.text.WordPiece.trainFrozen(
      docs.filter(col("doc_id") % 2 === 0), "text", topK = 1024)
    graft.text.WordPiece.tokenStats(docs, "doc_id", "text", v)
  }

  /** WordPiece ARTIFACT lifecycle gate (the q106 precedent): train on
    * the even half, persist the vocabulary, reload it, tokenize the
    * DISJOINT doc_id % 10 == 1 corpus under the loaded artifact — the
    * round-trip is proven inert at the oracle level, not just in a
    * spec.
    */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val v = graft.text.WordPiece.trainFrozen(
      docs.filter(col("doc_id") % 2 === 0), "text", topK = 1024)
    val scratch = scratchDir("wp_vocab")
    graft.text.WordPiece.saveVocab(s, v, s"$scratch/vocab")
    val loaded = graft.text.WordPiece.loadVocab(s, s"$scratch/vocab")
    graft.text.WordPiece.tokenStats(
      docs.filter(col("doc_id") % 10 === 1), "doc_id", "text", loaded)
  }

  /** Deterministic negative sampling over the ratings relation — 5
    * unseen items per user by hashed rejection trials; the oracle
    * replays the trials through the xxhash64 SQL construction.
    */
  private def q148(s: SparkSession, dir: String): DataFrame =
    graft.prep.Prep.negativeSample(ratings(s, dir), "user", "item", k = 5)

  private def q148Sql(k: Int = 5, oversample: Int = 3): String =
    s"""${q148Ctes(k, oversample)}
       |SELECT "user", item, neg_no FROM negk""".stripMargin

  /** The negative-sampling chain through CTE `negk` ("user", item,
    * neg_no) — shared by q148 and the q149 triplet join.
    */
  private def q148Ctes(k: Int = 5, oversample: Int = 3): String = {
    val trials = k * oversample
    s"""$ratingsCte,
       |it AS (SELECT DISTINCT item FROM ratings WHERE item IS NOT NULL),
       |idim AS (SELECT item,
       |           CAST(row_number() OVER (ORDER BY item) - 1 AS BIGINT) AS idx
       |         FROM it),
       |ni AS (SELECT count(*) AS nitems FROM it),
       |us AS (SELECT DISTINCT "user" FROM ratings WHERE "user" IS NOT NULL),
       |tr AS (SELECT "user", unnest(range(1, $trials + 1)) AS t FROM us),
       |dk AS (SELECT DISTINCT "user" || '|' || CAST(t AS VARCHAR) AS s FROM tr),
       |${graft.oracle.DuckDbXxHash.xxh64Ctes("dk", "s", "kh", idCols = "s AS ids")},
       |sh AS (SELECT ids, ${graft.oracle.DuckDbXxHash.signedSql("h64")} AS h
       |       FROM kh),
       |cand AS (
       |  SELECT tr."user", tr.t,
       |         CAST(((sh.h % ni.nitems) + ni.nitems) % ni.nitems AS BIGINT) AS idx
       |  FROM tr CROSS JOIN ni
       |  JOIN sh ON sh.ids = tr."user" || '|' || CAST(tr.t AS VARCHAR)),
       |wi AS (SELECT c."user", c.t, d.item FROM cand c JOIN idim d USING (idx)),
       |neg0 AS (
       |  SELECT w."user", w.t, w.item FROM wi w
       |  WHERE NOT EXISTS (SELECT 1 FROM ratings r
       |                    WHERE r."user" = w."user" AND r.item = w.item)),
       |neg AS (SELECT "user", item, min(t) AS t FROM neg0 GROUP BY 1, 2),
       |rk AS (SELECT "user", item,
       |         row_number() OVER (PARTITION BY "user" ORDER BY t, item) AS rn
       |       FROM neg),
       |negk AS (SELECT "user", item, CAST(rn - 1 AS INTEGER) AS neg_no
       |         FROM rk WHERE rn <= $k)""".stripMargin
  }

  /** BPR training triplets: each (user, positive) pairs round-robin
    * with the user's sampled negatives — the actual pairwise-ranking
    * training input (Rendle et al. 2009), fully deterministic.
    */
  private def q149(s: SparkSession, dir: String): DataFrame =
    graft.prep.Prep.bprTriplets(ratings(s, dir), "user", "item", k = 5)

  private def q149Sql(k: Int = 5, oversample: Int = 3): String =
    s"""${q148Ctes(k, oversample)},
       |nc AS (SELECT "user", count(*) AS m FROM negk GROUP BY 1),
       |pos AS (
       |  SELECT "user", item,
       |         row_number() OVER (PARTITION BY "user" ORDER BY item) - 1
       |           AS pos_no
       |  FROM (SELECT DISTINCT "user", item FROM ratings
       |        WHERE "user" IS NOT NULL AND item IS NOT NULL))
       |SELECT p."user", p.item AS pos_item, n.item AS neg_item
       |FROM pos p
       |JOIN nc ON nc."user" = p."user"
       |JOIN negk n
       |  ON n."user" = p."user" AND n.neg_no = p.pos_no % nc.m""".stripMargin

  /** BPR full-batch GD over the q149 triplets (Rendle et al. 2009) —
    * the implicit-feedback trainer the sampling surface feeds.
    * Per-epoch training AUC/loss history as data; rows-only like the
    * q32–q35 trainers (float trajectory) with q149 as the
    * deterministic-input sibling and BprMfSpec's naive-parity +
    * AUC-improves specs as the correctness lock.
    */
  private def q150(s: SparkSession, dir: String): DataFrame =
    graft.recommender.BprMf.fit(
      ratings(s, dir).select("user", "item"),
      graft.recommender.BprMf.Config(nFactors = 4, epochs = 3,
        lr = 0.05, reg = 0.01, negativesPerUser = 5,
        collectMetrics = true)).historyDf

  /** Streaming twin of q147: the frozen vocabulary trained on the
    * corpus snapshot, per-source coverage folded per micro-batch into
    * a batch_id-partitioned table (static-partition INSERT OVERWRITE =
    * replay-idempotent sum-merge sink, the q130 class), totals summed
    * at read. Shares q147's oracle: fold == batch.
    */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = Tables.documents(s, dir)
    val v = graft.text.WordPiece.trainFrozen(
      docs.filter(col("doc_id") % 2 === 0), "text", topK = 1024)
    val stream = stageOrderedBatches(s, scratchDir("stream_wpcov"),
      StructType(Seq(StructField("source", StringType),
        StructField("text", StringType))),
      midpointHalves(docs).map(_.select("source", "text")))
    val tbl =
      s"graft_wpcov_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val run = graft.streaming.StreamingWordPiece.startCoverage(
      stream, "source", "text", v, tbl) { (_, _) => () }
    try {
      run.query.processAllAvailable()
      run.coverage().get.localCheckpoint()
    } finally { run.query.stop(); s.sql(s"DROP TABLE IF EXISTS $tbl") }
  }

  /** Continuous per-source data card
    * ([[graft.streaming.StreamingDataCard]]): the documents corpus
    * delivered as two id-ordered micro-batches, every counter folded
    * into batch_id-partitioned state tables, the card assembled at
    * read time. Batch-order-independent by construction, so it shares
    * q144's oracle verbatim.
    */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = Tables.documents(s, dir)
      .select("doc_id", "source", "lang", "text")
    val stream = stageOrderedBatches(s, scratchDir("stream_datacard"),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType),
        StructField("lang", StringType),
        StructField("text", StringType))),
      midpointHalves(docs))
    val tbl =
      s"graft_card_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val run = graft.streaming.StreamingDataCard.start(stream.drop("doc_id"),
      "source", "text", "lang", tbl, q113Weights) { (_, _) => () }
    try {
      run.query.processAllAvailable()
      run.card().get.localCheckpoint()
    } finally {
      run.query.stop()
      graft.streaming.StreamingDataCard.drop(s, tbl)
    }
  }

  /** Per-source vocabulary coverage under the q136 vocab — the
    * `[UNK]`-rate drift table (the retrain trigger signal).
    */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val v = graft.text.WordPiece.trainFrozen(
      docs.filter(col("doc_id") % 2 === 0), "text", topK = 1024)
    graft.text.WordPiece.coverageReport(docs, "source", "text", v)
  }

  /** Streaming twin of q136: the frozen vocabulary trained on the
    * corpus snapshot, per-doc stats via the MAP-ONLY expression form
    * ([[graft.text.WordPiece.tokenStatsMapOnly]]) — stateless per
    * micro-batch, admits identical rows, shares q136's oracle.
    */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val v = graft.text.WordPiece.trainFrozen(
      docs.filter(col("doc_id") % 2 === 0), "text", topK = 1024)
    StreamingPrep.runToMemory(
      graft.text.WordPiece.tokenStatsMapOnly(
        StreamingPrep.streamDocuments(s, dir), "doc_id", "text", v))
  }

  /** Domain-level ranks over the synthetic crawl: project the q110
    * crawl's registrable domains, lift the q133 modular link rules to
    * DOMAIN edges (each crawl links to two deterministic peer crawls;
    * an edge connects their domains), and run the fixed-point
    * PageRank. The crawl→domain projection is the real link-analysis
    * shape for curation (CommonCrawl ranks hosts/domains, not pages).
    * Scale: the edge build is one equi self-join on the computed peer
    * id (O(crawl) shuffle, no domain-key hotspot because edges stay
    * id-keyed until the final projection); the iteration shuffles
    * O(|domains|) rows.
    */
  private def domainRanks(canon: DataFrame, nn: Long): DataFrame = {
    val tgt = canon.select(col("doc_id").as("tid"), col("domain").as("dst"))
    val e0 = canon.select(((col("doc_id") * 7 + 11) % nn).as("tid"),
        col("domain").as("src"))
      .unionAll(canon.select(((col("doc_id") * 13 + 5) % nn).as("tid"),
        col("domain").as("src")))
    val e = e0.join(tgt, "tid").select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    graft.pipeline.LinkAnalysis.pageRankFixed(e,
      canon.select(col("domain").as("node")).distinct())
      .select(col("node").as("domain"), col("rank_fp"))
  }

  /** The PSL crawl's registrable domains — the PSL form (not the
    * heuristic) because private suffixes are what give the graph its
    * real shape: 20 per-site github.io/blogspot.com domains each
    * instead of two merged hoster blobs.
    */
  private[graft] def crawlDomainsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      Urls.registrableDomainPsl(Urls.hostOf(Urls.canonicalizeUrl(
        rawUrlPsl(col("doc_id"), col("source"))))).as("domain"))

  private def crawlDomains(s: SparkSession, dir: String): DataFrame =
    crawlDomainsOf(Tables.documents(s, dir))

  /** Per-domain PageRank of the synthetic crawl — hash-gated via the
    * shared unrolled replay over the domain graph.
    */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    // checkpoint the PSL projection ONCE: every downstream consumer
    // (edge sides, node set) then analyzes a block-backed leaf, not
    // the ~700-rule domain expression tree
    val cp = org.apache.spark.sql.graftbridge.DatasetBridge
      .localCheckpointFresh(crawlDomains(s, dir))
    // one row per document, already materialized — no table re-scan
    try domainRanks(cp.df, cp.df.count())
    finally cp.release() // ranks are checkpoint-backed — safe
  }

  /** The composition the ranks exist FOR: PageRank as the curation
    * rate signal — domain centrality steers the per-domain sampling
    * rate ([[graft.pipeline.Curation.scoreMixtureSample]]), replacing
    * q122's √n flattening with link-graph quality. Deterministic
    * end-to-end (integer ranks + md5 row hash), so the exact survivor
    * set hash-gates.
    */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val cp = org.apache.spark.sql.graftbridge.DatasetBridge
      .localCheckpointFresh(crawlDomains(s, dir))
    try {
      val ranks = domainRanks(cp.df, cp.df.count())
        .select(col("domain"), col("rank_fp").as("score_fp"))
      // materialize the survivor set before releasing the projection
      // it is derived from; the blocks are survivor-sized
      org.apache.spark.sql.graftbridge.DatasetBridge.localCheckpointFresh(
        graft.pipeline.Curation.scoreMixtureSample(
          cp.df, "domain", col("doc_id"), ranks, budget = 400L)).df
    } finally cp.release()
  }

  /** The unrolled DuckDB replay of q133: same modular edge rules,
    * same integral-division damping update, one MATERIALIZED CTE per
    * iteration (the q106 deep-chain lesson).
    */
  /** The synthetic modular link graph shared by q133 (PageRank) and
    * q158 (HITS): CTEs `n` (node) and `e` (src, dst).
    */
  private val linkGraphCtes: String =
    """WITH n AS (SELECT doc_id AS node FROM documents),
      |cnt AS (SELECT count(*) AS nn FROM documents),
      |e0 AS (
      |  SELECT doc_id AS src, (doc_id * 7 + 11) % nn AS dst
      |  FROM documents, cnt
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 13 + 5) % nn FROM documents, cnt
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 31 + 3) % nn FROM documents, cnt
      |  WHERE doc_id % 3 = 0),
      |e AS (SELECT src, dst FROM e0 WHERE src <> dst)""".stripMargin

  private def q133Sql(iterations: Int = 5, dampingPct: Int = 85,
      scale: Long = 1000000L): String = pageRankReplaySql(
    linkGraphCtes,
    iterations, dampingPct, scale,
    finalSelect = s"SELECT node, rank_fp FROM r$iterations")

  /** HITS over the same graph ([[graft.pipeline.LinkAnalysis.hitsFixed]]):
    * the max-normalized fixed-point trajectory unrolled per iteration —
    * authority raw sums from hubs then hub raw sums from authorities,
    * each rescaled by `(raw · scale) // max` (exact integral division,
    * the q133 replay discipline). Sums are CAST back to BIGINT per
    * round so DuckDB's HUGEINT promotion can't diverge from Spark's
    * long arithmetic.
    */
  private def q158Sql(iterations: Int = 5, scale: Long = 1000000L): String = {
    val sb = new StringBuilder
    sb ++= linkGraphCtes
    sb ++= s""",
      |h0 AS (SELECT node, CAST($scale AS BIGINT) AS hub_fp FROM n)""".stripMargin
    for (t <- 1 to iterations) {
      sb ++= s""",
      |ar$t AS MATERIALIZED (
      |  SELECT n.node, CAST(coalesce(cb.s, 0) AS BIGINT) AS raw
      |  FROM n LEFT JOIN (
      |    SELECT e.dst AS node, sum(h.hub_fp) AS s
      |    FROM e JOIN h${t - 1} h ON h.node = e.src GROUP BY 1) cb
      |    ON cb.node = n.node),
      |a$t AS MATERIALIZED (
      |  SELECT node, CAST((raw * $scale) // m AS BIGINT) AS auth_fp
      |  FROM ar$t CROSS JOIN
      |    (SELECT greatest(max(raw), 1) AS m FROM ar$t) mm),
      |hr$t AS MATERIALIZED (
      |  SELECT n.node, CAST(coalesce(cb.s, 0) AS BIGINT) AS raw
      |  FROM n LEFT JOIN (
      |    SELECT e.src AS node, sum(a.auth_fp) AS s
      |    FROM e JOIN a$t a ON a.node = e.dst GROUP BY 1) cb
      |    ON cb.node = n.node),
      |h$t AS MATERIALIZED (
      |  SELECT node, CAST((raw * $scale) // m AS BIGINT) AS hub_fp
      |  FROM hr$t CROSS JOIN
      |    (SELECT greatest(max(raw), 1) AS m FROM hr$t) mm)""".stripMargin
    }
    sb ++= s"""
      |SELECT a.node, a.auth_fp, h.hub_fp
      |FROM a$iterations a JOIN h$iterations h USING (node)""".stripMargin
    sb.toString
  }

  /** HITS hubs/authorities over the q133 link graph. */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val nn = docs.count()
    val e0 = docs.select(col("doc_id").as("src"),
      ((col("doc_id") * 7 + 11) % nn).as("dst"))
      .unionAll(docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 13 + 5) % nn).as("dst")))
      .unionAll(docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("src"),
          ((col("doc_id") * 31 + 3) % nn).as("dst")))
    graft.pipeline.LinkAnalysis.hitsFixed(
      e0.filter(col("src") =!= col("dst")),
      docs.select(col("doc_id").as("node")))
  }

  /** Snapshot-diff audit between two synthetic versions of the crawl:
    * snapshot A drops doc_id % 7 == 0 (those read `added` when B has
    * them), snapshot B drops doc_id % 3 == 0 (`removed`), and every
    * doc_id % 5 == 0 doc surviving into B carries revised text
    * (`changed`). The status partition is the input to incremental
    * reprocessing — only added ∪ changed re-run the expensive stages.
    */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val a = docs.filter(col("doc_id") % 7 =!= 0)
    val b = docs.filter(col("doc_id") % 3 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    graft.pipeline.Curation.snapshotDiff(a, b, "doc_id",
      graft.text.TextAnalysis.fingerprint(col("text")))
  }

  /** Streaming twin of q138 (the q93 frozen-rates pattern): domain
    * ranks and the rate table are trained on the corpus snapshot; the
    * ingest stream derives each row's registrable domain scan-side
    * (map-only PSL expression) and applies the broadcast rates — the
    * inclusion decision is the same md5 row hash, so the stream admits
    * the identical doc set and shares q138's oracle.
    */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val cp = org.apache.spark.sql.graftbridge.DatasetBridge
      .localCheckpointFresh(crawlDomains(s, dir))
    try {
      val ranks = domainRanks(cp.df, cp.df.count())
        .select(col("domain"), col("rank_fp").as("score_fp"))
      val rates = graft.pipeline.Curation
        .scoreMixtureRates(cp.df, "domain", ranks, budget = 400L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rates.count()
      // the SAME projection expression as the batch side (shared
      // helper) — stream/batch parity is what lets q142 share q138's
      // oracle
      val stream = crawlDomainsOf(StreamingPrep.streamDocuments(s, dir))
      val out = StreamingPrep.runToMemory(
        graft.pipeline.Curation.applyMixtureRates(
          stream, "domain", col("doc_id"), rates))
        .select("doc_id", "domain")
      rates.unpersist()
      out
    } finally cp.release()
  }

  /** Per-domain best-k selection under the q113 quality model over
    * the PSL crawl — "the 3 best pages per site". Deterministic
    * (portable double score, id tie-break), so the survivor set
    * hash-gates.
    */
  private def q141(s: SparkSession, dir: String): DataFrame =
    Urls.domainTopK(
      Tables.documents(s, dir)
        .withColumn("url", rawUrlPsl(col("doc_id"), col("source"))),
      "doc_id", "url", k = 3,
      score = round(Quality.scoreQuality(col("text"), q113Weights), 6),
      domainOf = Urls.registrableDomainPsl)
      .select(col("doc_id"), col("domain"))

  /** Per-source data card under the q113 quality model — the
    * dataset-documentation table (docs/token/char mass, language
    * spread, quality-gate pass count, fixed-point quality mass,
    * exact-dup exposure), all-integer so the whole card hash-gates.
    */
  private def q144(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Profiling.dataCard(Tables.documents(s, dir),
      "source", "doc_id", "text", "lang", q113Weights)

  private def q144Sql: String =
    s"""WITH ${qualityScoredCtes(q113Weights)},
       |d AS (
       |  SELECT source, doc_id, lang,
       |         len(regexp_split_to_array(trim(text), '\\s+')) AS ntok,
       |         len(text) AS nchr,
       |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents),
       |base AS (
       |  SELECT d.source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(d.ntok) AS BIGINT) AS n_tokens,
       |    CAST(sum(d.nchr) AS BIGINT) AS n_chars,
       |    CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
       |    CAST(count(CASE WHEN sc.s > 0 THEN 1 END) AS BIGINT) AS n_keep,
       |    CAST(sum(CAST(floor(sc.s * 1e6) AS BIGINT)) AS BIGINT)
       |      AS sum_quality_fp
       |  FROM d JOIN sc USING (doc_id) GROUP BY 1),
       |fc AS (SELECT fp, count(*) AS cnt FROM d GROUP BY 1),
       |dup AS (
       |  SELECT d.source,
       |         CAST(count(CASE WHEN fc.cnt > 1 THEN 1 END) AS BIGINT)
       |           AS n_dup_docs
       |  FROM d JOIN fc ON d.fp = fc.fp GROUP BY 1)
       |SELECT base.source, base.n_docs, base.n_tokens, base.n_chars,
       |       base.n_langs, base.n_keep, base.sum_quality_fp,
       |       CAST(coalesce(dup.n_dup_docs, 0) AS BIGINT) AS n_dup_docs
       |FROM base LEFT JOIN dup USING (source)""".stripMargin

  /** Priority dedup over a planted two-source collision: the crawl
    * copy (priority 2) of every doc, plus a curated mirror (priority
    * 1, HIGHER id) of every third doc — the mirror must win its group
    * even though min-id election would pick the crawl copy.
    */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val crawl = docs.select(col("doc_id"), col("text"), lit(2L).as("prio"))
    val mirror = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        lit(1L).as("prio"))
    graft.dedup.Dedup.exactGroupsByPriority(
      crawl.unionAll(mirror), "doc_id", "text", col("prio"))
  }

  private val q143Sql: String =
    """WITH u AS (
      |  SELECT doc_id, text, CAST(2 AS BIGINT) AS prio FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, CAST(1 AS BIGINT)
      |  FROM documents WHERE doc_id % 3 = 0),
      |f AS (
      |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |           AS fingerprint,
      |         doc_id, prio
      |  FROM u),
      |g AS (SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_copies
      |      FROM f GROUP BY 1),
      |w AS (SELECT fingerprint, doc_id, prio,
      |             row_number() OVER (
      |               PARTITION BY fingerprint ORDER BY prio, doc_id) AS rn
      |      FROM f)
      |SELECT g.fingerprint, g.n_copies,
      |       w.doc_id AS keep_id, w.prio AS keep_priority
      |FROM g JOIN w USING (fingerprint) WHERE w.rn = 1""".stripMargin

  /** Incremental reprocessing equivalence gate: the q140 snapshot
    * pair, the q113 quality stage run INCREMENTALLY (prior result on
    * A carried for unchanged keys, only B's added∪changed re-scored)
    * — while the ORACLE scores all of B directly. The hash match IS
    * the incremental ≡ full-recompute proof.
    */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val a = docs.filter(col("doc_id") % 7 =!= 0)
    val b = docs.filter(col("doc_id") % 3 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    def gate(df: DataFrame): DataFrame =
      Quality.scoreDocs(df, "doc_id", "text", q113Weights)
        .filter(col("keep")).select("doc_id", "score")
    // RAW md5, not the whitespace-normalized fingerprint: the quality
    // stage is raw-text-sensitive (punct ratio and chars-per-token
    // divide by raw length), and incrementalReprocess's contract
    // requires fpCol to be at least as discriminating as the stage —
    // a normalized key would carry a stale score for a doc revised
    // only in whitespace/case
    graft.pipeline.Curation.incrementalReprocess(
      gate(a), a, b, "doc_id", md5(col("text")), gate)
  }

  /** Oracle = the FULL recompute: q113's scoring chain over snapshot
    * B directly (no diff, no carry) — what the incremental path must
    * equal row-for-row.
    */
  private def q146Sql: String = {
    val w = q113Weights
    s"""WITH b0 AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
       |  FROM documents WHERE doc_id % 3 <> 0),
       |t AS (
       |  SELECT doc_id, text,
       |    regexp_split_to_array(trim(text), '\\s+') AS ws,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS wsl
       |  FROM b0),
       |r AS (
       |  SELECT doc_id, len(ws) AS n,
       |    len(regexp_replace(text, '[^.!?,;:]', '', 'g')) / CAST(len(text) AS DOUBLE) AS pr,
       |    len(list_filter(wsl, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) / CAST(len(ws) AS DOUBLE) AS sr,
       |    CAST(len(text) AS DOUBLE) / len(ws) AS cpt
       |  FROM t),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(${w.bias} AS DOUBLE)
       |      + CAST(${w.lenSat} AS DOUBLE) * least(CAST(1.0 AS DOUBLE), n / CAST(${w.lenCap} AS DOUBLE))
       |      + CAST(${w.punct} AS DOUBLE) * pr
       |      + CAST(${w.stop} AS DOUBLE) * sr
       |      + CAST(${w.cpt} AS DOUBLE) * cpt AS s
       |  FROM r)
       |SELECT doc_id, round(s, 6) AS score FROM sc WHERE s > 0""".stripMargin
  }

  private val q140Sql: String =
    """WITH a AS (
      |  SELECT doc_id,
      |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fa
      |  FROM documents WHERE doc_id % 7 <> 0),
      |b0 AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 3 <> 0),
      |b AS (
      |  SELECT doc_id,
      |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fb
      |  FROM b0)
      |SELECT coalesce(a.doc_id, b.doc_id) AS key,
      |       CASE WHEN a.doc_id IS NULL THEN 'added'
      |            WHEN b.doc_id IS NULL THEN 'removed'
      |            WHEN fa IS DISTINCT FROM fb THEN 'changed'
      |            ELSE 'unchanged' END AS status
      |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin

  /** The q100/q107b shared fluency chain: Laplace-smoothed bigram LM
    * over the corpus, per-doc integer score — ends in CTE `sc`
    * (doc_id, score_fp).
    */
  private val fluencyScoredCtes: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         regexp_split_to_array(
      |           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS ws
      |  FROM documents),
      |w AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 2),
      |b AS (SELECT doc_id,
      |             unnest(list_transform(range(len(ws) - 1), i -> ws[i + 1])) AS w1,
      |             unnest(list_transform(range(len(ws) - 1), i -> ws[i + 2])) AS w2
      |      FROM w),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
      |v AS (SELECT count(DISTINCT tok) AS v
      |      FROM (SELECT unnest(ws) AS tok FROM t)),
      |fl AS (
      |  SELECT b.doc_id, count(*) AS n_bigrams,
      |         sum(CAST(floor(1e9 * (CAST(c2.c2 + 1 AS DOUBLE) /
      |                                CAST(c1.c1 + v.v AS DOUBLE))) AS BIGINT)) AS fluency_fp
      |  FROM b
      |  JOIN c2 USING (w1, w2)
      |  JOIN c1 USING (w1)
      |  CROSS JOIN v
      |  GROUP BY b.doc_id),
      |sc AS (
      |  SELECT doc_id,
      |         CAST(floor(fluency_fp / n_bigrams) AS BIGINT) AS score_fp
      |  FROM fl)""".stripMargin

  /** q107b: [[graft.text.TextAnalysis.fluencyBucketsPortable]]'s
    * DuckDB replay — the scored chain, the histogram registers (the
    * q128 expression shape verbatim: (v−lo)/range·buckets, clamped),
    * cumulative-count quantile buckets, the exactly-representable
    * bucket-edge thresholds, and the same `1 + Σ(score < thr)`
    * comparison chain.
    */
  private def q107bSql(nBuckets: Int = 3, histBuckets: Int = 16384): String = {
    val hb = s"$histBuckets.0"
    val hiLit = "1000000000.0"
    val thrCtes = (1 until nBuckets).map { k =>
      s"""thr$k AS (
         |  SELECT coalesce(min(0.0 + $hiLit * bucket / $hb), $hiLit) AS thr
         |  FROM cumt, tot
         |  WHERE CAST(cum AS DOUBLE) >=
         |        CAST($k AS DOUBLE) / CAST($nBuckets AS DOUBLE)
         |          * CAST(total AS DOUBLE))""".stripMargin
    }.mkString(",\n")
    val addenda = (1 until nBuckets).map(k =>
      s"(CASE WHEN sc.score_fp < t$k.thr THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val joins = (1 until nBuckets).map(k => s"CROSS JOIN thr$k t$k").mkString(" ")
    s"""$fluencyScoredCtes,
       |hr AS (
       |  SELECT least(greatest(CAST(floor(
       |           (CAST(score_fp AS DOUBLE) - 0.0) / $hiLit * $hb)
       |           AS BIGINT), 0), ${histBuckets - 1}) AS bucket,
       |         count(*) AS cnt
       |  FROM sc GROUP BY 1),
       |cumt AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM hr),
       |tot AS (SELECT sum(cnt) AS total FROM hr),
       |$thrCtes
       |SELECT sc.doc_id, sc.score_fp,
       |       CAST(1 + $addenda AS INTEGER) AS bucket
       |FROM sc $joins""".stripMargin
  }

  /** Shared domain-graph prefix of q137/q138: the q110 canon chain,
    * the two modular link rules lifted to domain edges, and the
    * distinct-domain node set.
    */
  private def domainGraphCtes: String =
    s"""${urlCanonPslSql(urlPslSql)},
       |tgt AS (SELECT crawl_id AS tid, domain AS dst FROM canon),
       |cnt AS (SELECT count(*) AS nn FROM canon),
       |e0 AS (
       |  SELECT (crawl_id * 7 + 11) % nn AS tid, domain AS src
       |  FROM canon, cnt
       |  UNION ALL
       |  SELECT (crawl_id * 13 + 5) % nn, domain FROM canon, cnt),
       |e AS (SELECT e0.src, tgt.dst FROM e0 JOIN tgt USING (tid)
       |      WHERE e0.src <> tgt.dst),
       |n AS (SELECT DISTINCT domain AS node FROM canon)""".stripMargin

  private def q137Sql(iterations: Int = 5): String =
    pageRankReplaySql(domainGraphCtes, iterations, 85, 1000000L,
      finalSelect = s"SELECT node AS domain, rank_fp FROM r$iterations")

  /** q138: the rank-rate tail — per-domain doc counts joined to the
    * final iteration's ranks, rate = min(1, budget·rank/Σrank/n) as
    * the same left-assoc double chain as the Spark side, md5-prefix
    * row inclusion (the q88/q122 machinery).
    */
  private def q138Sql(iterations: Int = 5, budget: Long = 400L): String =
    pageRankReplaySql(domainGraphCtes, iterations, 85, 1000000L,
      finalSelect =
        s""",
           |dcnt AS (SELECT domain, count(*) AS n FROM canon GROUP BY 1),
           |jr AS (SELECT d.domain, d.n, r.rank_fp
           |       FROM dcnt d JOIN r$iterations r ON r.node = d.domain),
           |sr AS (SELECT sum(rank_fp) AS ss FROM jr),
           |rt AS (SELECT domain,
           |         least(CAST(1.0 AS DOUBLE),
           |               CAST($budget.0 AS DOUBLE) * CAST(rank_fp AS DOUBLE)
           |                 / CAST(ss AS DOUBLE) / n) AS rate
           |       FROM jr CROSS JOIN sr)
           |SELECT c.crawl_id AS doc_id, c.domain
           |FROM canon c JOIN rt USING (domain)
           |WHERE ('0x' || substr(md5(CAST(c.crawl_id AS VARCHAR)), 1, 6))::BIGINT
           |      < rate * 16777216.0""".stripMargin)

  /** Shared unrolled replay of [[graft.pipeline.LinkAnalysis
    * .pageRankFixed]]: `graphCtes` must open the WITH chain and define
    * CTEs `e` (src, dst) and `n` (node); the generator appends the
    * out-degree join and one MATERIALIZED CTE per damped iteration
    * (integral `//` division exactly as the Spark side's `div`).
    */
  private def pageRankReplaySql(graphCtes: String, iterations: Int,
      dampingPct: Int, scale: Long, finalSelect: String): String = {
    val base = scale * (100 - dampingPct) / 100
    val sb = new StringBuilder
    sb ++= graphCtes
    sb ++= s""",
      |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
      |ej AS MATERIALIZED (
      |  SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
      |r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank_fp FROM n)""".stripMargin
    for (t <- 1 to iterations) {
      sb ++= s""",
      |r$t AS MATERIALIZED (
      |  SELECT n.node,
      |         CAST($base + ($dampingPct * coalesce(cb.s, 0)) // 100
      |              AS BIGINT) AS rank_fp
      |  FROM n LEFT JOIN (
      |    SELECT ej.dst AS node, sum(r.rank_fp // ej.outdeg) AS s
      |    FROM ej JOIN r${t - 1} r ON r.node = ej.src
      |    GROUP BY 1) cb ON cb.node = n.node)""".stripMargin
    }
    sb ++= s"\n$finalSelect"
    sb.toString
  }

  /** Portable Bloom filter of the benchmark fingerprints (q75's
    * benchmark half: doc_id % 10 = 0) — the membership sketch that
    * lets decontamination probe a too-big-to-broadcast exact set;
    * ~10× smaller than the fingerprint relation at the same FPR.
    */
  private def q131(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.PortableSketches.bloomBits(
      Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
      graft.text.TextAnalysis.fingerprint(col("text")))

  /** Bloom-probe decontamination verdicts: every corpus doc's
    * fingerprint probed against q131's filter. False positives only
    * (a clean doc may drop; contamination never slips through) —
    * the correct direction for the decontamination use.
    */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.PortableSketches
    val docs = Tables.documents(s, dir)
    val bloom = PortableSketches.bloomBits(
      docs.filter(col("doc_id") % 10 === 0),
      graft.text.TextAnalysis.fingerprint(col("text")))
    PortableSketches.bloomProbe(
      docs.select(col("doc_id"),
        graft.text.TextAnalysis.fingerprint(col("text")).as("fp")),
      col("fp"), bloom)
      .select(col("doc_id"), col("might_contain"))
  }

  /** Reference-config FunkSVD epochs (k=30 as in `report.pdf` §7.1.1;
    * 6 epochs here — BASELINE's 9.47 s/epoch is a 100-epoch total
    * divided by 100, i.e. setup amortized away, so the comparable
    * figure needs enough epochs that the one-time setup (scan/parse,
    * dims, fact blocks) stops dominating the division.
    * Marginal epoch cost is constant (one job per epoch), so sec/6 is
    * still a conservative stand-in for the reference's sec/100.
    */
  private def q34(s: SparkSession, dir: String): DataFrame =
    GdMf.fit(
      ratings(s, dir).select("user", "item", "rating", "time"),
      GdMf.Config(nFactors = 30, epochs = 6, lr = 0.001, reg = 0.001,
        collectErrors = true)).trainErrorsDf

  /** Reference-config alternating ALS-GD epochs (vs BASELINE 14.39
    * s/epoch; the reference's distributed run OOM'd outright). 6 epochs
    * for the same amortization reason as q34.
    */
  private def q35(s: SparkSession, dir: String): DataFrame =
    GdMf.fit(
      ratings(s, dir).select("user", "item", "rating", "time"),
      GdMf.Config(nFactors = 30, epochs = 6, lr = 0.001, reg = 0.001,
        alternating = true, collectErrors = true)).trainErrorsDf

  // ------------------------------------------- q4x LLM-data-pipeline ops

  /** Text-analysis profile: token counts (whitespace + BPE-ish),
    * punctuation/stopword ratios, quality score, heuristic language ID.
    */
  private def q40(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.profile(Tables.documents(s, dir), "text")
      .select("doc_id", "n_tokens", "n_bpe_tokens", "punct_ratio",
        "stop_ratio", "quality", "lang_pred")

  /** Corpus vocabulary (token counts + doc frequency, top 50). */
  private def q60(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabulary(Tables.documents(s, dir), "doc_id", "text", topK = 50)

  /** Overlapping token-window chunking (embedding/RAG ingestion shape):
    * 32-token windows every 24 tokens (8-token overlap).
    */
  private def q84(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
      chunkLen = 32, overlap = 8)

  /** Corpus-trained bigram fluency (CCNet-style quality signal, no
    * external LM): add-one-smoothed P(w2|w1) summed per doc in fixed
    * point — deterministic cross-engine, so a full hash oracle.
    */
  private def q85(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramFluency(Tables.documents(s, dir), "doc_id", "text")

  /** Gopher/C4-style repetition gates (top-word share, duplicate-word
    * mass, top-bigram share) — one codegen'd kernel pass, zero shuffle.
    */
  private def q87(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionProfile(Tables.documents(s, dir), "doc_id", "text")

  /** Temperature-based mixture sampling (τ=2 multilingual rebalance,
    * budget 200): tiny rate table broadcast, corpus sees one map-only
    * hash-filter pass.
    */
  private def q88(s: SparkSession, dir: String): DataFrame =
    Curation.mixtureSample(Tables.documents(s, dir), "lang", col("doc_id"),
        budget = 200)
      .select("doc_id", "lang")

  /** PII redaction scrub (emails / IPv4 / phone shapes → placeholders
    * + audit counts) — map-only regex pass on the ingest scan.
    */
  private def q89(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.redactPii(Tables.documents(s, dir), "doc_id", "text")

  private def q41(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  /** The corpus parquet is one row group = ONE scan partition; the
    * dedup/text pipelines are expression-heavy, so fan the scan out
    * across cores first (at production scale the many-file layout does
    * this for free; see SCALE.md).
    */
  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Documents with whitespace-mangled copies planted (the corpus has no
    * natural dups) → exact dedup groups by normalized content hash.
    */
  private def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    fanOut(d.unionAll(d.select(col("doc_id") + 100000,
      regexp_replace(col("text"), " ", "  "))))
  }

  private def q42(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docsWithExactDups(s, dir), "doc_id", "text")

  /** Documents with appended-suffix near-copies planted → MinHash+LSH
    * candidate generation + exact-Jaccard verify.
    */
  private[graft] def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    fanOut(d.unionAll(d.select(col("doc_id") + 100000,
      concat(col("text"), lit(" near duplicate suffix marker")))))
  }

  private def q43(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashPairs(docsWithNearDups(s, dir), "doc_id", "text",
      shingleK = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)

  private def q44(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(docsWithNearDups(s, dir), "doc_id", "text", maxHamming = 3)

  private def q45(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(fanOut(Tables.documents(s, dir)), "doc_id", "text",
      blockCol = "source", n = 3, threshold = 0.12)

  /** Embeddings with scaled copies planted (cosine 1 with originals) →
    * cosine near-dup pairs.
    */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val planted = e.unionAll(e.select(col("vec_id") + 100000,
      transform(col("embedding"), x => x * 2.0)))
    Dedup.embeddingPairs(planted, "vec_id", "embedding", threshold = 0.45)
  }

  private def q47(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.bruteForceTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
  }

  private def q48(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.lshTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 10, tables = 32, planes = 4)
  }

  /** Fixed-plane twin of q48 — the LSH-ANN family's hash gate:
    * ±1 xxhash64 Rademacher hyperplanes + exact integer scoring make
    * the full top-k a pure function ([[graft.oracle.AnnOracles.q48bSql]]
    * replays it); the Box-Muller form above stays rows-only.
    */
  private def q48b(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.lshTopKFixed(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 10, tables = 32, planes = 4, dim = 64)
  }

  /** The normalized first-`n` embeddings (driver-side collect — 16
    * rows, codebook-sized): the frozen centroids/codeword sources the
    * fixed IVF/PQ twins share with their oracles. Normalization is the
    * same left-assoc fold both engines run, so the constants are
    * bit-identical to the oracle's in-query derivation.
    */
  private def unitHeadEmbeddings(s: SparkSession, dir: String,
      n: Int): Seq[Seq[Double]] =
    unitRangeEmbeddings(s, dir, 0, n)

  /** Normalized embeddings [lo, hi) as frozen centroids (the
    * unitHeadEmbeddings construction over an id range — q196's second
    * clustering uses the next-8 slice).
    */
  private def unitRangeEmbeddings(s: SparkSession, dir: String,
      lo: Int, hi: Int): Seq[Seq[Double]] =
    Tables.embeddings(s, dir)
      .filter(col("vec_id") >= lo && col("vec_id") < hi).orderBy("vec_id")
      .select("embedding").collect()
      .map { r =>
        val raw = r.getSeq[Float](0).map(_.toDouble)
        val nrm = math.sqrt(raw.foldLeft(0.0)((a, x) => a + x * x))
        (if (nrm > 0) raw.map(_ / nrm) else raw).toSeq
      }.toSeq

  /** IVF ANN (KMeans coarse quantizer + probed exact rank). */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.ivfTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 10, nlist = 16, nprobe = 10)
  }

  /** Frozen-centroid twin of q52 — the IVF family's hash gate:
    * centroids are the normalized first-16 embeddings (the q121b
    * pattern), so probe + assignment + integer ranking replay exactly
    * ([[graft.oracle.AnnOracles.q52bSql]]); the trained-KMeans form
    * above stays rows-only.
    */
  private def q52b(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.ivfTopKFixed(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 10, centroids = unitHeadEmbeddings(s, dir, 16), nprobe = 4)
  }

  /** The persistent-IVF lifecycle (q52's artifact form): build the
    * index on half the embeddings, fold the other half in append-only
    * (no retrain — FAISS add-after-train), probe the reloaded tables
    * at the registered config. Rows-only (KMeans has no SQL oracle);
    * probe-vs-ivfTopK equality, refresh-assignment parity, and sf0.1
    * recall ≥ 0.9 are spec-enforced (AnnSpec).
    */
  private def q108(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.IvfIndex
    val e = Tables.embeddings(s, dir)
    val name = s"graft_ivf_idx_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    IvfIndex.build(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      name, nlist = 16)
    IvfIndex.refresh(e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", name)
    try IvfIndex.probe(s, name, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 10, nprobe = 10).localCheckpoint()
    finally IvfIndex.drop(s, name)
  }

  /** Frozen-centroid twin of q108 — the persistent-IVF lifecycle's
    * hash gate: buildFixed(even half) + refreshFixed(odd half) +
    * probeFixed must equal the one-shot q52b, so it SHARES q52b's
    * DuckDB oracle — the gate proves the artifact round-trip changes
    * nothing, cross-engine.
    */
  private def q108b(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.IvfIndex
    val e = Tables.embeddings(s, dir)
    val name = s"graft_ivf_fidx_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    IvfIndex.buildFixed(e.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", name, unitHeadEmbeddings(s, dir, 16))
    IvfIndex.refreshFixed(e.filter(col("vec_id") % 2 === 1), "vec_id",
      "embedding", name)
    try IvfIndex.probeFixed(s, name, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 10, nprobe = 4).localCheckpoint()
    finally IvfIndex.drop(s, name)
  }

  /** The persistent-PQ lifecycle (q78's artifact form): codebooks +
    * encoded corpus as tables, build half / refresh half under the
    * frozen codebooks, probe the reloaded artifact. Rows-only;
    * probe-vs-pqTopK equality and refresh specs in AnnSpec.
    */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.PqIndex
    val e = Tables.embeddings(s, dir)
    val name = s"graft_pq_idx_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    PqIndex.build(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      name, m = 16, ks = 16)
    PqIndex.refresh(e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", name)
    try PqIndex.probe(s, name, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 10, overfetch = 16).localCheckpoint()
    finally PqIndex.drop(s, name)
  }

  /** Frozen-codebook twin of q109 — the persistent-PQ lifecycle's hash
    * gate: shares q78b's DuckDB oracle (see q108b's contract).
    */
  private def q109b(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.PqIndex
    val e = Tables.embeddings(s, dir)
    val src = unitHeadEmbeddings(s, dir, 16)
    val codebooks = (0 until 16).map(j => src.map(_.slice(j * 4, j * 4 + 4)))
    val name = s"graft_pq_fidx_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    PqIndex.buildFixed(e.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", name, codebooks)
    PqIndex.refreshFixed(e.filter(col("vec_id") % 2 === 1), "vec_id",
      "embedding", name)
    try PqIndex.probeFixed(s, name, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 10).localCheckpoint()
    finally PqIndex.drop(s, name)
  }

  // -------- q110–q115: crawl-intake URL ops, quality gate, shuffle-shards

  /** Deterministic synthetic raw crawl URLs (the documents table has
    * no URL column): four variants exercising every canonicalization
    * rule — scheme case, `www.`, default ports, trailing slash,
    * fragment, tracking params, ccSLD domains. Replayed verbatim in
    * the DuckDB oracle.
    */
  private def rawUrl(idCol: Column, sourceCol: Column): Column = {
    val id = idCol.cast("string")
    when(idCol % 4 === 0,
      concat(lit("HTTPS://WWW."), sourceCol, lit(".Example.COM/docs/"), id,
        lit("/?utm_source=feed&id="), id, lit("#top")))
      .when(idCol % 4 === 1,
        concat(lit("http://"), sourceCol, lit(".example.com:80/docs/"), id,
          lit("?id="), id, lit("&fbclid=abc123")))
      .when(idCol % 4 === 2,
        concat(lit("https://"), sourceCol, lit(".example.com:443/docs/"), id,
          lit("/")))
      .otherwise(
        concat(sourceCol, lit(".Example.CO.UK/Docs/"), id,
          lit("?ref=rss&z=1&a=2")))
  }

  /** URL canonicalization + registrable domain — map-only on the scan. */
  private def q110(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Urls.canonicalizeUrl(rawUrl(col("doc_id"), col("source"))).as("url_canon"))
      .withColumn("domain", Urls.registrableDomain(Urls.hostOf(col("url_canon"))))

  /** Synthetic crawl exercising the Public Suffix List rule forms the
    * heuristic can't express: private hosted-platform suffixes
    * (github.io/blogspot.com — per-site groups), a ccSLD, a 2-label
    * wildcard with its exception (city.kawasaki.jp), a TLD wildcard
    * (*.ck), and a default-rule host. Replayed verbatim in the oracle.
    */
  private def rawUrlPsl(idCol: Column, sourceCol: Column): Column = {
    val id = idCol.cast("string")
    when(idCol % 6 === 0,
      concat(lit("https://"), sourceCol, lit(".github.io/p/"), id))
      .when(idCol % 6 === 1,
        concat(lit("HTTP://WWW."), sourceCol, lit(".BLOGSPOT.com/"), id, lit("/")))
      .when(idCol % 6 === 2,
        concat(lit("https://news."), sourceCol, lit(".co.uk:443/"), id))
      .when(idCol % 6 === 3,
        concat(lit("http://x."), sourceCol, lit(".city.kawasaki.jp/"), id))
      .when(idCol % 6 === 4,
        concat(lit("https://a.b."), sourceCol, lit(".ck/"), id))
      .otherwise(
        concat(lit("http://sub."), sourceCol, lit(".example.com/"), id,
          lit("?utm_source=x&q=1")))
  }

  /** PSL-mode twin of q110: same canonicalization, registrable domain
    * from the real Public Suffix List algorithm over the checked-in
    * snapshot ([[Urls.registrableDomainPsl]]) — still map-only.
    */
  private def q110b(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Urls.canonicalizeUrl(rawUrlPsl(col("doc_id"), col("source"))).as("url_canon"))
      .withColumn("domain", Urls.registrableDomainPsl(Urls.hostOf(col("url_canon"))))

  /** URL keep-first dedup with planted recrawls: every doc appears as
    * two raw crawl records whose canonical forms collide (https+www+
    * tracking vs http+:80+fbclid) — each group must elect the earlier
    * crawl and count 2.
    */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val id = col("doc_id").cast("string")
    val crawlA = d.select(col("doc_id").as("crawl_id"),
      concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM/docs/"), id,
        lit("/?utm_source=feed&id="), id, lit("#top")).as("url"))
    val crawlB = d.select((col("doc_id") + 100000).as("crawl_id"),
      concat(lit("http://"), col("source"), lit(".example.com:80/docs/"), id,
        lit("?id="), id, lit("&fbclid=abc123")).as("url"))
    Urls.urlDedup(crawlA.unionAll(crawlB), "crawl_id", "url")
  }

  /** Per-domain stats over the canonicalized corpus (blocklist/cap
    * primitive): two-level agg, second shuffle moves distinct URLs.
    */
  private def q112(s: SparkSession, dir: String): DataFrame =
    Urls.domainStats(
      Tables.documents(s, dir)
        .select(col("doc_id"), rawUrl(col("doc_id"), col("source")).as("url")),
      "url")

  /** PSL-mode domain stats: the roll-up target is the PSL registrable
    * domain, so hosted-platform sites aggregate per-site, not
    * per-hoster — same two-level agg shape.
    */
  private def q112b(s: SparkSession, dir: String): DataFrame =
    Urls.domainStats(
      Tables.documents(s, dir)
        .select(col("doc_id"), rawUrlPsl(col("doc_id"), col("source")).as("url")),
      "url", Urls.registrableDomainPsl)

  /** Gate weights TUNED FOR THE SYNTHETIC CORPUS so keep splits near
    * the median (the principled default in [[Quality.defaultWeights]]
    * would keep ~nothing here: the generator never emits punctuation
    * and stopword mass is thin). The oracle replays these exact
    * constants.
    */
  private val q113Weights = Quality.Weights(bias = -0.9, lenSat = 5.0,
    punct = -4.0, stop = 10.0, cpt = -0.05, lenCap = 500.0)

  /** Model-based quality gate: fixed-weight linear scorer, map-only. */
  private def q113(s: SparkSession, dir: String): DataFrame =
    Quality.scoreDocs(Tables.documents(s, dir), "doc_id", "text", q113Weights)
      .select(col("doc_id"), col("score"), col("keep").cast("int").as("keep"))

  /** Quality-classifier TRAINING lifecycle (rows-only: LBFGS): plant
    * labels (odd docs get a punctuation-walled, stopword-poisoned
    * mangle), fit logistic weights on the labeled sample, score it
    * with the frozen weights, report resubstitution accuracy — the
    * spec asserts the planted classes separate.
    */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 2 === 1,
        concat(lit("!!! ,,, ;;; "),
          regexp_replace(col("text"), "the|a|of|to|in|is|it", "qq"),
          lit(" ::: ??? !!!")))
        .otherwise(col("text")).as("text"),
      (col("doc_id") % 2 === 0).cast("double").as("label"))
      .localCheckpoint()
    val w = Quality.trainWeights(labeled, "text", "label")
    Quality.scoreDocs(labeled, "doc_id", "text", w)
      .join(labeled.select(col("doc_id"), col("label")), Seq("doc_id"))
      .agg(avg(when(col("keep") === (col("label") === 1.0), 1.0)
        .otherwise(0.0)).as("accuracy"))
      .select(round(col("accuracy"), 4).as("accuracy"),
        lit(w.bias).as("w_bias"), lit(w.lenSat).as("w_len"),
        lit(w.punct).as("w_punct"), lit(w.stop).as("w_stop"),
        lit(w.cpt).as("w_cpt"))
  }

  /** Seeded deterministic shuffle-shard assignment (training-data
    * loader prep) — map-only; within-shard order is the sort_key, a
    * per-shard position window is deliberately absent (see
    * Curation.shuffleShards).
    */
  private def q115(s: SparkSession, dir: String): DataFrame =
    Curation.shuffleShards(Tables.documents(s, dir).select(col("doc_id")),
      col("doc_id"), numShards = 8, seed = 42L)
      .select(col("doc_id"), col("shard"), col("sort_key"))

  /** Per-domain cap over the synthetic crawl (RefinedWeb-style domain
    * balancing): at most 3 docs per registrable domain, survivors the
    * 3 smallest md5(42|doc_id) — deterministic, so the oracle replays
    * the exact set. The window filter gets the WindowGroupLimit
    * map-side rewrite (spec-asserted), so a hot domain never funnels
    * its mass into one task.
    */
  private def q116(s: SparkSession, dir: String): DataFrame =
    Urls.domainCap(
      Tables.documents(s, dir)
        .select(col("doc_id"), rawUrl(col("doc_id"), col("source")).as("url")),
      "doc_id", "url", cap = 3, seed = 42L)
      .select(col("doc_id"),
        Urls.registrableDomain(Urls.hostOf(
          Urls.canonicalizeUrl(col("url")))).as("domain"))

  /** PSL-mode domain cap: capping keys on the PSL registrable domain,
    * so `alice.github.io` and `bob.github.io` get their own caps
    * instead of sharing one `github.io` budget — same WindowGroupLimit
    * plan shape as q116.
    */
  private def q116b(s: SparkSession, dir: String): DataFrame =
    Urls.domainCap(
      Tables.documents(s, dir)
        .select(col("doc_id"), rawUrlPsl(col("doc_id"), col("source")).as("url")),
      "doc_id", "url", cap = 3, seed = 42L, Urls.registrableDomainPsl)
      .select(col("doc_id"),
        Urls.registrableDomainPsl(Urls.hostOf(
          Urls.canonicalizeUrl(col("url")))).as("domain"))

  /** DSIR-style importance weighting: target = the doc_id%10==3 slice,
    * raw = the whole corpus; every scoreable doc gets its fixed-point
    * bigram-bucket affinity. Both count tables are bucket-bounded and
    * broadcast — the corpus pays one gram scan + one combinable
    * per-doc sum.
    */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    Curation.importanceWeights(d, "doc_id", "text",
      d.filter(col("doc_id") % 10 === 3), "text", buckets = 1 << 16)
  }

  /** Streaming twin of q117: the importance model trained on the
    * corpus SNAPSHOT and frozen into literal count arrays
    * ([[Curation.trainImportanceModel]]), then the ingest stream is
    * scored map-only — no state store, no watermark, no shuffle (the
    * q93 snapshot-trained pattern). Emits the identical rows, so it
    * shares q117's oracle.
    */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val m = Curation.trainImportanceModel(d, "text",
      d.filter(col("doc_id") % 10 === 3), "text", buckets = 1 << 16)
    StreamingPrep.runToMemory(
      StreamingPrep.streamDocuments(s, dir)
        .select(col("doc_id"),
          (size(TextAnalysis.words(TextAnalysis.normalizeText(col("text")))) - 1)
            .cast("long").as("n_grams"),
          Curation.importanceAffinity(col("text"), m).as("affinity_fp"))
        .filter(col("affinity_fp").isNotNull))
  }

  /** q117 under the DSIR paper's full n ∈ {1,2} feature union —
    * unigrams join the bigrams in one bucket space (no collisions:
    * bigram strings contain a space), single-word docs become
    * scoreable.
    */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    Curation.importanceWeights(d, "doc_id", "text",
      d.filter(col("doc_id") % 10 === 3), "text", buckets = 1 << 16,
      unigrams = true)
  }

  /** Contamination audit over the q86 setup: benchmark = the
    * doc_id%10==3 slice, corpus = everything; per benchmark doc, its
    * total 13-grams, how many occur in the corpus, and how many corpus
    * docs share one. Only hit rows shuffle.
    */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Curation.contaminationReport(docs,
      docs.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id").as("bench_id"), col("text")),
      "text", "doc_id", "bench_id", n = 13)
  }

  /** Embedding-space diversity balancing over the embeddings table:
    * seeded KMeans clusters + √n temperature rebalance — dominant
    * semantic neighborhoods downsample toward the budget. Rows-only
    * (KMeans float centroids); planted-cluster behavior in
    * CurationSpec.
    */
  private def q121(s: SparkSession, dir: String): DataFrame =
    Curation.clusterBalancedSample(Tables.embeddings(s, dir),
      "vec_id", "embedding", budget = 200, nClusters = 8)

  /** Fixed-centroid twin of q121 — the family's hash gate: centroids
    * are the first 8 embeddings (vec_id < 8, an 8-row driver collect —
    * codebook-sized, same class as the PQ centroids), so assignment +
    * √n rebalance are pure functions both engines replay exactly.
    * The trained-KMeans form above stays rows-only.
    */
  private def q121b(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    Curation.clusterBalancedSampleFixed(emb, "vec_id", "embedding",
      centroids, budget = 200)
      .select(col("vec_id"), col("cluster"))
  }

  /** Domain-aware temperature mixture over the synthetic crawl URLs:
    * the C4/RefinedWeb proportional domain rebalance — head domains
    * flatten toward the budget, decision is the md5 row hash, corpus
    * pays one map pass (no window, no data-row shuffle — the
    * cheaper-than-domainCap policy form).
    */
  private def q122(s: SparkSession, dir: String): DataFrame =
    Curation.domainMixtureSample(
      Tables.documents(s, dir)
        .select(col("doc_id"), rawUrl(col("doc_id"), col("source")).as("url")),
      "doc_id", "url", budget = 150)
      .select(col("doc_id"), col("domain"))

  /** PQ ANN (per-subspace codebooks + ADC shortlist + exact re-rank):
    * the memory-compression scale path — the pass touching every
    * corpus vector reads m codes per row, not the full float vector.
    */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.pqTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 10, m = 16, ks = 16, overfetch = 16)
  }

  /** Frozen-codebook twin of q78 — the PQ family's hash gate: codeword
    * c of subspace j is dims [4j, 4j+4) of the normalized embedding
    * `vec_id = c`, so encode + ADC lookup + integer ranking replay
    * exactly ([[graft.oracle.AnnOracles.q78bSql]]); the trained form
    * above stays rows-only.
    */
  private def q78b(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val src = unitHeadEmbeddings(s, dir, 16)
    val codebooks = (0 until 16).map(j => src.map(_.slice(j * 4, j * 4 + 4)))
    Ann.pqTopKFixed(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 10, codebooks = codebooks)
  }

  /** LSH-bucketed embedding near-dup (the scale path of q46). */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val planted = e.unionAll(e.select(col("vec_id") + 100000,
      transform(col("embedding"), x => x * 2.0)))
    Dedup.embeddingPairsLsh(planted, "vec_id", "embedding", threshold = 0.45)
  }

  /** Fixed-plane twin of q53 — the embedding-near-dup hash gate: same
    * planted corpus (×2-scaled copies normalize to identical unit
    * vectors), Rademacher buckets + exact integer dot ≥ 0.45·10¹²
    * ([[graft.oracle.AnnOracles.q53bSql]]); the Box-Muller form above
    * stays rows-only.
    */
  private def q53b(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val planted = e.unionAll(e.select(col("vec_id") + 100000,
      transform(col("embedding"), x => x * 2.0)))
    Ann.embeddingPairsLshFixed(planted, "vec_id", "embedding",
      thresholdFp = 450000000000L, tables = 32, planes = 4, dim = 64)
  }

  private def q49(s: SparkSession, dir: String): DataFrame =
    Ann.itemItemTopK(ratings(s, dir), k = 5)

  /** Overlapping audio analysis windows (window 256 B, hop 128 B ⇒ 50%
    * overlap) over the binary audio payloads.
    */
  private def q59(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioWindows(
      Multimodal.syntheticMedia(Tables.documents(s, dir), "doc_id", "text"),
      windowBytes = 256, hopBytes = 128)
      .select("media_id", "win_no", "offset", "win_len")

  /** Frame sampling over binary media payloads. */
  private def q51(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.syntheticMedia(Tables.documents(s, dir), "doc_id", "text"), n = 4)
      .select(col("media_id"), col("kind"), col("frame_no"),
        length(col("frame_bytes")).as("frame_len"))

  /** Multimodal feature extraction: binary media column + typed
    * metadata; image payloads are REAL PNGs decoded to pixels by the
    * JDK ImageIO codec (luminance-histogram features), audio/video fall
    * back to the hash stub — all via one typed mapPartitions.
    */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    // real payloads for both decodable kinds: PNG pixels via ImageIO,
    // PCM-16 WAV samples via the RIFF parser; video stays hash-stubbed
    val media = Multimodal.withRealAudio(Multimodal.withRealImages(
      Multimodal.syntheticMedia(Tables.documents(s, dir), "doc_id", "text")))
    Multimodal.extractFeatures(media, dim = 16)
      .select(col("media_id"), col("kind"), size(col("features")).as("n_features"),
        round(element_at(col("features"), 1).cast("double"), 3).as("f0"))
  }

  /** Incremental near-dup refresh: LSH bucket index over the first
    * half of the corpus, new-batch (second half) probed against it —
    * the "dedup the new crawl against the existing corpus without
    * re-reading history" shape. Emits every batch doc with its
    * `dup_of` owner (NULL = survivor). Hash-gated: the oracle replays
    * xxhash64 + the shared permutation constants in DuckDB
    * ([[graft.oracle.MinHashOracles.q90Sql]]) and reproduces the
    * index-owner + estimator verdicts exactly.
    */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // parity split (even ids = existing corpus, odd = new batch): both
    // halves populated at every scale factor, unlike a fixed id cut
    val index = Dedup.bucketIndex(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text")
    Dedup.dedupAgainstIndex(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), index, "doc_id", "text")
      .select(col("doc_id"), col("dup_of"))
  }

  /** Full near-dup pipeline: MinHash pairs → connected components →
    * one survivor per cluster (what a training-data pipeline actually
    * ships).
    */
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir)
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text",
      shingleK = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
    Dedup.clusterSurvivors(docs, "doc_id", pairs).select("doc_id")
  }

  // ------------------------------------------------------- q5x streaming

  /** Tumbling-window streaming aggregation driven to completion through
    * a memory sink; oracle is the equivalent batch GROUP BY (hour
    * buckets align with epoch, so window.start == date_trunc('hour')).
    */
  private def q55(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      StreamingPrep.windowedAgg(
        StreamingPrep.streamEvents(s, dir), "10 minutes", "1 hour"),
      outputMode = "complete")

  /** Streaming keyed dedup (keep-one-per-(user,item) as a stream);
    * output is the distinct key set, which is arrival-order-independent
    * and therefore oracle-comparable.
    */
  private def q56(s: SparkSession, dir: String): DataFrame = {
    val r = StreamingPrep.streamEvents(s, dir).select(
      col("ts"),
      col("user_id").cast("string").as("user"),
      get_json_object(col("props"), "$.k").cast("long").cast("string").as("item"))
    StreamingPrep.runToMemory(
      StreamingPrep.dedupByKey(r, "10 minutes", Seq("user", "item")))
      .select("user", "item")
  }

  /** Stream-static enrichment join: the event stream joined against a
    * batch-computed per-user dimension.
    */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val static = Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("user_n"))
    val st = StreamingPrep.streamEvents(s, dir).select("event_id", "user_id")
    StreamingPrep.runToMemory(st.join(static, "user_id"))
      .select("event_id", "user_id", "user_n")
  }

  /** Stream-stream interval join: purchases matched to error events of
    * the same user within the following 10 minutes (both sides
    * watermarked; state bounded by the interval).
    */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val purchases = StreamingPrep.streamEvents(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val errors = StreamingPrep.streamEvents(s, dir)
      .filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("e_id"))
      .withWatermark("e_ts", "1 hour")
    val joined = purchases.join(errors,
      col("user_id") === col("e_user") &&
        col("e_ts") >= col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"))
    StreamingPrep.runToMemory(joined).select("p_id", "e_id", "user_id")
  }

  // --------------------------------------------------------------- registry

  /** Flagship: the full serving-eval pipeline on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    q25(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_project_filter" -> (q01 _),
    "q02_dedup_full" -> (q02 _),
    "q03_dedup_keeplast" -> (q03 _),
    "q04_split_train" -> (q04 _),
    "q05_split_test" -> (q05 _),
    "q06_encode_dim" -> (q06 _),
    "q07_global_stats" -> (q07 _),
    "q08_json_extract" -> (q08 _),
    "q09_csv_roundtrip" -> (q09 _),
    "q24_json_etl" -> (q24 _),
    "q10_tpch_q1" -> (q10 _),
    "q11_user_agg" -> (q11 _),
    "q12_item_agg" -> (q12 _),
    "q13_join_broadcast" -> (q13 _),
    "q14_join_multiway" -> (q14 _),
    "q15_semi_join" -> (q15 _),
    "q16_anti_join" -> (q16 _),
    "q17_window_topk" -> (q17 _),
    "q18_window_running" -> (q18 _),
    "q19_global_topk" -> (q19 _),
    "q20_intersect" -> (q20 _),
    "q21_except" -> (q21 _),
    "q22_union_all" -> (q22 _),
    "q23_scalar_funcs" -> (q23 _),
    "q25_bias_serve_eval" -> (q25 _),
    "q26_encode_join" -> (q26 _),
    "q27_random_split" -> (q27 _),
    "q28_rollup" -> (q28 _),
    "q29_cube" -> (q29 _),
    "q37_bucketed_join" -> (q37 _),
    "q38_asof_join" -> (q38 _),
    "q59_audio_windows" -> (q59 _),
    "q30_mllib_als_eval" -> (q30 _),
    "q31_topn_recommend" -> (q31 _),
    "q31b_topn_fixed_state" -> (q31b _),
    "q32_funk_svd_train" -> (q32 _),
    "q33_als_gd_train" -> (q33 _),
    "q34_funk_svd_k30" -> (q34 _),
    "q35_als_gd_k30" -> (q35 _),
    "q36_approx_stats" -> (q36 _),
    "q40_text_profile" -> (q40 _),
    "q41_fingerprint" -> (q41 _),
    "q42_dedup_exact_docs" -> (q42 _),
    "q43_minhash_neardup" -> (q43 _),
    "q44_simhash_neardup" -> (q44 _),
    "q45_ngram_jaccard" -> (q45 _),
    "q46_embed_neardup" -> (q46 _),
    "q47_ann_bruteforce" -> (q47 _),
    "q48_ann_lsh" -> (q48 _),
    "q48b_ann_lsh_fixed" -> (q48b _),
    "q49_item_item_sim" -> (q49 _),
    "q50_multimodal_features" -> (q50 _),
    "q51_frame_sample" -> (q51 _),
    "q52_ann_ivf" -> (q52 _),
    "q52b_ann_ivf_fixed" -> (q52b _),
    "q53_embed_neardup_lsh" -> (q53 _),
    "q53b_embed_neardup_fixed" -> (q53b _),
    "q54_dedup_pipeline" -> (q54 _),
    "q55_stream_window_agg" -> (q55 _),
    "q56_stream_dedup" -> (q56 _),
    "q57_stream_enrich" -> (q57 _),
    "q58_stream_interval_join" -> (q58 _),
    "q60_vocabulary" -> (q60 _),
    "q84_chunk_tokens" -> (q84 _),
    "q85_bigram_fluency" -> (q85 _),
    "q87_repetition" -> (q87 _),
    "q88_mixture_sample" -> (q88 _),
    "q89_redact_pii" -> (q89 _),
    "q90_incremental_neardup" -> (q90 _),
    "q91_stream_redact" -> (q91 _),
    "q92_table_profile" -> (q92 _),
    "q93_stream_mixture" -> (q93 _),
    "q94_compaction" -> (q94 _),
    "q95_stream_neardup" -> (q95 _),
    "q96_zorder" -> (q96 _),
    "q97_paragraph_dedup" -> (q97 _),
    "q98_bpe_merges" -> (q98 _),
    "q99_substring_dedup" -> (q99 _),
    "q100_fluency_buckets" -> (q100 _),
    "q101_stream_paragraph_dedup" -> (q101 _),
    "q102_stream_substring_dedup" -> (q102 _),
    "q103_bpe_token_count" -> (q103 _),
    "q104_span_decontaminate" -> (q104 _),
    "q105_stream_span_decontaminate" -> (q105 _),
    "q106_bpe_second_corpus" -> (q106 _),
    "q107_fluency_buckets_scale" -> (q107 _),
    "q107b_fluency_buckets_portable" -> (q107b _),
    "q108_ann_ivf_index" -> (q108 _),
    "q108b_ann_ivf_index_fixed" -> (q108b _),
    "q109_ann_pq_index" -> (q109 _),
    "q109b_ann_pq_index_fixed" -> (q109b _),
    "q110_url_canonicalize" -> (q110 _),
    "q110b_url_canonicalize_psl" -> (q110b _),
    "q111_url_dedup" -> (q111 _),
    "q112_domain_stats" -> (q112 _),
    "q112b_domain_stats_psl" -> (q112b _),
    "q113_quality_score" -> (q113 _),
    "q114_quality_train" -> (q114 _),
    "q115_shuffle_shards" -> (q115 _),
    "q116_domain_cap" -> (q116 _),
    "q116b_domain_cap_psl" -> (q116b _),
    "q117_importance_resample" -> (q117 _),
    "q118_stream_importance" -> (q118 _),
    "q119_contamination_report" -> (q119 _),
    "q120_importance_unigram" -> (q120 _),
    "q121_cluster_balance" -> (q121 _),
    "q121b_cluster_balance_fixed" -> (q121b _),
    "q122_domain_mixture" -> (q122 _),
    "q61_sessionize" -> (q61 _),
    "q62_lag_lead_features" -> (q62 _),
    "q63_pivot" -> (q63 _),
    "q64_percentile_group" -> (q64 _),
    "q65_grouping_sets" -> (q65 _),
    "q66_salted_join" -> (q66 _),
    "q67_range_join" -> (q67 _),
    "q68_orc_roundtrip" -> (q68 _),
    "q69_stream_session" -> (q69 _),
    "q70_ntile_binning" -> (q70 _),
    "q71_zscore" -> (q71 _),
    "q72_tfidf" -> (q72 _),
    "q73_partitioned_lake" -> (q73 _),
    "q74_upsert_merge" -> (q74 _),
    "q75_decontaminate" -> (q75 _),
    "q86_ngram_decontaminate" -> (q86 _),
    "q76_sequence_pack" -> (q76 _),
    "q77_stream_decontaminate" -> (q77 _),
    "q78_ann_pq" -> (q78 _),
    "q78b_ann_pq_fixed" -> (q78b _),
    "q79_stream_profile" -> (q79 _),
    "q80_stratified_split" -> (q80 _),
    "q80b_stratified_split_portable" -> (q80b _),
    "q81_stream_pack" -> (q81 _),
    "q83_stream_pack_ordered" -> (q83 _),
    "q82_curation_e2e" -> (q82 _),
    "q123_curation_full" -> (q123 _),
    "q124_stream_curation" -> (q124 _),
    "q125_hll_registers" -> (q125 _),
    "q126_hll_merge" -> (q126 _),
    "q127_cm_sketch" -> (q127 _),
    "q128_hist_registers" -> (q128 _),
    "q129_stream_hll" -> (q129 _),
    "q130_stream_cm" -> (q130 _),
    "q131_bloom_bits" -> (q131 _),
    "q132_bloom_probe" -> (q132 _),
    "q133_pagerank_fixed" -> (q133 _),
    "q134_bottomk_sample" -> (q134 _),
    "q135_hll_by_source" -> (q135 _),
    "q136_wordpiece" -> (q136 _),
    "q137_domain_pagerank" -> (q137 _),
    "q138_rank_mixture" -> (q138 _),
    "q139_stream_wordpiece" -> (q139 _),
    "q140_snapshot_diff" -> (q140 _),
    "q141_domain_topk" -> (q141 _),
    "q142_stream_rank_mixture" -> (q142 _),
    "q143_priority_dedup" -> (q143 _),
    "q144_data_card" -> (q144 _),
    "q145_wordpiece_artifact" -> (q145 _),
    "q146_incremental_reprocess" -> (q146 _),
    "q147_wordpiece_coverage" -> (q147 _),
    "q148_negative_sample" -> (q148 _),
    "q149_bpr_triplets" -> (q149 _),
    "q150_bpr_train" -> (q150 _),
    "q151_stream_wordpiece_coverage" -> (q151 _),
    "q152_rank_best_k" -> (q152 _),
    "q153_bm25_topk" -> (q153 _),
    "q154_retrieval_decontaminate" -> (q154 _),
    "q155_bpr_topn_fixed" -> (q155 _),
    "q156_gopher_gates" -> (q156 _),
    "q157_stream_gopher_gates" -> (q157 _),
    "q158_hits_fixed" -> (q158 _),
    "q159_unigram" -> (q159 _),
    "q160_unigram_artifact" -> (q160 _),
    "q161_stream_unigram" -> (q161 _),
    "q162_ranking_metrics" -> (q162 _),
    "q163_resample_locf" -> (q163 _),
    "q164_privacy_report" -> (q164 _),
    "q165_leakage_safe_split" -> (q165 _),
    "q166_source_overlap" -> (q166 _),
    "q167_stream_resample" -> (q167 _),
    "q168_semantic_dedup" -> (q168 _),
    "q169_stream_semantic_dedup" -> (q169 _),
    "q170_curate_semantic" -> (q170 _),
    "q171_semantic_clusters" -> (q171 _),
    "q172_knn_graph" -> (q172 _),
    "q173_knn_density" -> (q173 _),
    "q174_d4_select" -> (q174 _),
    "q175_mmr_rerank" -> (q175 _),
    "q176_semantic_decontaminate" -> (q176 _),
    "q177_bm25_index" -> (q177 _),
    "q178_stream_data_card" -> (q178 _),
    "q179_html_extract" -> (q179 _),
    "q180_stream_html_extract" -> (q180 _),
    "q181_stream_semantic_decontaminate" -> (q181 _),
    "q182_vocab_drift" -> (q182 _),
    "q183_embedding_health" -> (q183 _),
    "q184_graph_beam_search" -> (q184 _),
    "q185_three_way_split" -> (q185 _),
    "q186_hard_negatives" -> (q186 _),
    "q187_token_budget_select" -> (q187 _),
    "q188_repeat_upsample" -> (q188 _),
    "q189_cohort_eval" -> (q189 _),
    "q190_sq8_topk" -> (q190 _),
    "q191_ivf_sq8_topk" -> (q191 _),
    "q192_stream_vocab_drift" -> (q192 _),
    "q193_knn_graph_trained" -> (q193 _),
    "q194_semantic_dedup_trained" -> (q194 _),
    "q195_stream_semdedup_ordered" -> (q195 _),
    "q196_nn_descent_round" -> (q196 _),
    "q197_perplexity_buckets" -> (q197 _),
    "q198_group_sample_exact" -> (q198 _),
    "q199_langid_ngram" -> (q199 _),
    "q200_stream_langid" -> (q200 _),
    "q201_entropy_gate" -> (q201 _),
    "q202_dup_clusters" -> (q202 _),
    "q203_mlm_mask" -> (q203 _),
    "q204_span_corrupt" -> (q204 _),
    "q205_shard_assign" -> (q205 _),
    "q206_shard_manifest" -> (q206 _),
    "q207_stream_mlm_mask" -> (q207 _),
    "q208_random_projection" -> (q208 _),
    "q209_proj_refine_topk" -> (q209 _),
    "q210_curriculum_order" -> (q210 _),
    "q211_bigram_perplexity" -> (q211 _),
    "q212_stream_manifest" -> (q212 _),
    "q213_gate_funnel" -> (q213 _),
    "q214_cross_family_funnel" -> (q214 _),
    "q215_manifest_diff" -> (q215 _),
    "q216_pmi_collocations" -> (q216 _),
    "q217_cc_incremental" -> (q217 _),
    "q218_stream_cc_labels" -> (q218 _),
    "q219_export_pipeline" -> (q219 _),
    "q220_bigram_funnel" -> (q220 _),
    "q221_stream_domain_cap" -> (q221 _),
    "q222_kneser_ney_perplexity" -> (q222 _),
    "q223_chunk_documents" -> (q223 _),
    "q224_nsp_pairs" -> (q224 _),
    "q225_credit_card_audit" -> (q225 _),
    "q226_zipf_fit" -> (q226 _),
    "q227_stream_chunk" -> (q227 _),
    "q228_stream_card_audit" -> (q228 _),
    "q229_containment_pairs" -> (q229 _),
    "q230_winnow_fingerprints" -> (q230 _),
    "q231_stream_containment" -> (q231 _),
    "q232_c4_line_filter" -> (q232 _),
    "q233_stream_c4_filter" -> (q233 _),
    "q234_prototypicality_prune" -> (q234 _),
    "q235_charset_profile" -> (q235 _),
    "q236_stream_charset" -> (q236 _),
    "q237_nfc_normalize" -> (q237 _),
    "q238_orc_roundtrip" -> (q238 _),
    "q239_sentence_dedup" -> (q239 _),
    "q240_epoch_shuffle" -> (q240 _),
    "q241_sanitize_ctrl" -> (q241 _),
    "q242_stream_sanitize" -> (q242 _),
    "q243_intake_clean" -> (q243 _),
    "q244_stream_intake" -> (q244 _),
    "q245_intake_report" -> (q245 _),
    "q246_weighted_sample" -> (q246 _),
    "q247_blocklist_gate" -> (q247 _),
    "q248_group_weighted_sample" -> (q248 _),
    "q249_stream_blocklist" -> (q249 _),
    "q250_intake_curation" -> (q250 _),
    "q251_winnow_matches" -> (q251 _),
    "q252_chunked_export" -> (q252 _),
    "q253_epoch_order_export" -> (q253 _),
    "q254_kn_funnel" -> (q254 _),
    "q255_stream_intake_curation" -> (q255 _),
    "q256_stream_winnow_matches" -> (q256 _),
    "q257_winnow_decontaminate" -> (q257 _),
    "q258_winnow_index_lifecycle" -> (q258 _),
    "q259_stream_winnow_probe" -> (q259 _),
    "q260_winnow_decontaminate_raw" -> (q260 _),
    "q261_winnow_index_decon_raw" -> (q261 _),
    "q262_stream_winnow_decon_raw" -> (q262 _),
    "q263_winnow_index_drift" -> (q263 _),
    "q264_winnow_self_matches" -> (q264 _),
    "q265_winnow_contamination" -> (q265 _),
    "q266_stream_winnow_contamination" -> (q266 _),
    "q267_winnow_matches_raw" -> (q267 _),
    "q268_surgical_curation" -> (q268 _),
    "q269_stream_surgical_curation" -> (q269 _),
    "q270_winnow_index_contamination" -> (q270 _),
    "q271_winnow_self_matches_raw" -> (q271 _),
    "q272_stream_winnow_self_matches" -> (q272 _),
    "q273_winnow_route" -> (q273 _),
    "q274_stream_winnow_route" -> (q274 _),
    "q275_winnow_index_route" -> (q275 _),
    "q276_winnow_route_report" -> (q276 _),
    "q277_routed_curation" -> (q277 _),
    "q278_stream_routed_curation" -> (q278 _),
    "q279_stream_route_report" -> (q279 _),
    "q280_winnow_self_clusters" -> (q280 _),
    "q281_winnow_family_cap" -> (q281 _),
    "q282_stream_family_cap" -> (q282 _))

  /** Shared by q40 (batch) and its streaming twin q79 — the streaming
    * profile is the same pure-expression computation per micro-batch.
    */
  /** Shared by q88 (batch) and its streaming twin q93 — the inclusion
    * decision is a pure row hash against snapshot-trained rates, so
    * both surfaces admit the identical doc set.
    */
  private val mixtureSampleSql: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |s AS (SELECT sum(sqrt(n)) AS sw FROM c),
      |r AS (SELECT lang,
      |             least(CAST(1.0 AS DOUBLE),
      |                   CAST(200.0 AS DOUBLE) * sqrt(n) / sw / n) AS rate
      |      FROM c CROSS JOIN s)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN r USING (lang)
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT
      |      < rate * 16777216.0""".stripMargin

  /** Shared by q89 (batch) and its streaming twin q91 — the scrub is
    * stateless, so both surfaces hash-match the same oracle.
    */
  // Counts mirror the replacement cascade: n_ips counts on the text
  // AFTER email redaction, n_phones after email+IP — matching
  // TextAnalysis.redactPii so counts always sum to the placeholder
  // count in `redacted`.
  private val redactPiiSql: String =
    """WITH c AS (
      |  SELECT doc_id, text,
      |         regexp_replace(text,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |           '<EMAIL>', 'g') AS after_email
      |  FROM documents),
      |c2 AS (
      |  SELECT doc_id, text, after_email,
      |         regexp_replace(after_email,
      |           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
      |           '<IP>', 'g') AS after_ip
      |  FROM c)
      |SELECT doc_id,
      |       regexp_replace(after_ip,
      |         '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g') AS redacted,
      |       len(regexp_extract_all(text,
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |       len(regexp_extract_all(after_email,
      |         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
      |       len(regexp_extract_all(after_ip,
      |         '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS n_phones
      |FROM c2""".stripMargin

  /** Privacy-exposure audit ([[graft.pipeline.Profiling.privacyReport]])
    * over a corpus with deterministically-PLANTED PII (the synthetic
    * docs carry none, and an all-zero report would gate nothing — the
    * q42 planted-duplicates precedent): every doc_id % 5 == 0 doc
    * gains an email, an IPv4, and a US-phone string derived from its
    * id. Per source: docs, docs-with-PII, and instance totals under
    * the exact q89 cascade semantics.
    */
  private def q164(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
    val planted = docs.withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast("string"),
          lit(".7 call 555-123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(col("text")))
    graft.pipeline.Profiling.privacyReport(planted, "source", "text")
  }

  private val q164Sql: String =
    """WITH pl AS (
      |  SELECT source,
      |    CASE WHEN doc_id % 5 = 0 THEN
      |      text || ' contact user' || CAST(doc_id AS VARCHAR)
      |        || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
      |        || '.7 call 555-123-'
      |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |    ELSE text END AS text
      |  FROM documents),
      |c AS (
      |  SELECT source, text,
      |         regexp_replace(text,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |           '<EMAIL>', 'g') AS after_email
      |  FROM pl),
      |c2 AS (
      |  SELECT source,
      |    len(regexp_extract_all(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
      |    len(regexp_extract_all(after_email,
      |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS ni,
      |    len(regexp_extract_all(
      |      regexp_replace(after_email,
      |        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
      |        '<IP>', 'g'),
      |      '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS np
      |  FROM c)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN ne > 0 OR ni > 0 OR np > 0 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_docs_with_pii,
      |  CAST(sum(ne) AS BIGINT) AS n_emails,
      |  CAST(sum(ni) AS BIGINT) AS n_ips,
      |  CAST(sum(np) AS BIGINT) AS n_phones
      |FROM c2 GROUP BY 1""".stripMargin

  /** Leakage-safe content-keyed split
    * ([[graft.prep.Prep.splitByKey]]): the corpus plus planted exact
    * near-copies (whitespace-doubled text — SAME normalized
    * fingerprint, the q42 planting) split by the FINGERPRINT, so every
    * copy lands on the same side; the emitted test side hash-gates the
    * assignment row-exactly. A row-id split would let copies straddle
    * the boundary — the memorization-leak this operator exists to
    * prevent.
    */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val planted = docs.unionAll(
      docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id") + 100000,
          regexp_replace(col("text"), " ", "  ").as("text")))
    val (_, test) = graft.prep.Prep.splitByKey(planted,
      graft.text.TextAnalysis.fingerprint(col("text")), rate = 0.3)
    test.select(col("doc_id"),
      graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
  }

  private def q165Sql: String = {
    // the SAME driver-side truncation as Prep.splitByKey — DuckDB's
    // double→int cast ROUNDS, so the threshold must be a literal
    val thresh = (0.3 * (1 << 24)).toLong
    s"""WITH pl AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, replace(text, ' ', '  ')
       |  FROM documents WHERE doc_id % 7 = 0),
       |f AS (
       |  SELECT doc_id,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM pl)
       |SELECT doc_id, fp FROM f
       |WHERE ('0x' || substr(md5('42|' || fp), 1, 6))::BIGINT < $thresh"""
      .stripMargin
  }

  /** Hard-negative mining ([[graft.similarity.Ann.hardNegatives]]):
    * the q48b LSH shortlist (k=20) minus planted positives (each
    * anchor's +1 neighbor) re-ranked top-5 — the contrastive-training
    * negatives feed. Oracle = the q48b chain with a NOT-EXISTS
    * exclusion and a re-rank.
    */
  private def q186(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val anchors = e.filter(col("vec_id") < 10)
    val shortlist = graft.similarity.Ann.lshTopKFixed(e, "vec_id",
      "embedding", anchors, "vec_id", "embedding", k = 20)
    val positives = anchors.select(col("vec_id").as("query_id"),
      (col("vec_id") + 1).as("neighbor_id"))
    graft.similarity.Ann.hardNegatives(shortlist, positives, k = 5)
  }

  private def q186Sql(k: Int = 5, shortlist: Int = 20): String =
    s"""WITH sl AS MATERIALIZED (
       |  ${graft.oracle.AnnOracles.q48bSql(shortlist)}),
       |neg AS (SELECT query_id, neighbor_id, score_fp FROM sl
       |        WHERE neighbor_id <> query_id + 1)
       |SELECT query_id, neighbor_id, CAST(rn AS INT) AS "rank", score_fp
       |FROM (SELECT query_id, neighbor_id, score_fp,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY score_fp DESC, neighbor_id) AS rn
       |      FROM neg)
       |WHERE rn <= $k""".stripMargin

  /** Token-budget selection
    * ([[graft.pipeline.Curation.tokenBudgetSelect]]): the q113-scored
    * corpus greedily budget-capped at 30% of its total token mass
    * (budget derived by exact integer division on both sides). The
    * operator runs the scale-shaped two-level form; the oracle replays
    * ONE naive global running-sum window — the hash match proves the
    * equivalence.
    */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{Quality, TextAnalysis}
    val docs = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        floor(Quality.scoreQuality(col("text"), q113Weights) * lit(1e6))
          .cast("long").as("score_fp"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      // budget base = the SAME rows the operator can rank (the oracle's
      // d CTE filters null scores before its total)
      .filter(col("score_fp").isNotNull)
    val total = docs.agg(coalesce(sum(col("n_tokens")), lit(0L)))
      .head().getLong(0)
    graft.pipeline.Curation.tokenBudgetSelect(docs, "doc_id",
      "score_fp", "n_tokens", budget = total * 3L / 10L)
  }

  private def q187Sql: String =
    s"""WITH ${qualityScoredCtes(q113Weights)},
       |tb_d AS (
       |  SELECT t.doc_id,
       |         CAST(floor(sc.s * 1000000.0) AS BIGINT) AS score_fp,
       |         CAST(len(regexp_split_to_array(trim(t.text), '\\s+'))
       |           AS BIGINT) AS n_tokens
       |  FROM t JOIN sc ON sc.doc_id = t.doc_id
       |  WHERE t.text IS NOT NULL AND sc.s IS NOT NULL),
       |tb_r AS (
       |  SELECT doc_id, score_fp, n_tokens,
       |         sum(n_tokens) OVER (ORDER BY score_fp DESC, doc_id ASC
       |           ROWS UNBOUNDED PRECEDING) AS run
       |  FROM tb_d)
       |SELECT doc_id, score_fp, n_tokens FROM tb_r
       |WHERE run <= (SELECT sum(n_tokens) FROM tb_d) * 3 // 10""".stripMargin

  /** Repeat-cap upsampling
    * ([[graft.pipeline.Curation.repeatUpsample]]): per-source rates
    * 0 / 0.7 / 1.4 / 2.1 / 2.8 (source index mod 5 — exercises drop,
    * Bernoulli, repeat+fraction) capped at 2 copies. Row-level gate
    * including copy_no.
    */
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "source")
    val rates = docs.select("source").distinct()
      .selectExpr("source",
        "((cast(substr(source, 4) as int) % 5) * 117440512L) div 10 as rate_fp")
    graft.pipeline.Curation.repeatUpsample(docs, "source",
      col("doc_id"), rates, maxRepeats = 2)
      .select(col("doc_id"), col("source"), col("copy_no"))
  }

  private def q188Sql(maxRepeats: Int = 2): String =
    s"""WITH rt AS (
       |  SELECT source,
       |    ((CAST(substr(source, 4) AS INT) % 5) * 117440512) // 10
       |      AS rate_fp
       |  FROM (SELECT DISTINCT source FROM documents)),
       |j AS (
       |  SELECT d.doc_id, d.source,
       |    LEAST(rt.rate_fp // 16777216
       |      + CASE WHEN ('0x' || substr(md5(
       |            CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT
       |          < rt.rate_fp % 16777216 THEN 1 ELSE 0 END,
       |      $maxRepeats) AS n
       |  FROM documents d JOIN rt USING (source))
       |SELECT doc_id, source, CAST(unnest(range(n)) AS BIGINT) AS copy_no
       |FROM j WHERE n > 0""".stripMargin

  /** Weighted 3-way leakage-safe split ([[graft.prep.Prep.splitByKeyN]],
    * 0.7/0.2/0.1 by content fingerprint) over q165's planted corpus —
    * the train/val/test assignment gated at ROW level.
    */
  private def q185(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val planted = docs.unionAll(
      docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id") + 100000,
          regexp_replace(col("text"), " ", "  ").as("text")))
    graft.prep.Prep.splitByKeyN(planted,
      graft.text.TextAnalysis.fingerprint(col("text")),
      weights = Seq(0.7, 0.2, 0.1))
      .select(col("doc_id"),
        graft.text.TextAnalysis.fingerprint(col("text")).as("fp"),
        col("side"))
  }

  private def q185Sql: String = {
    // the SAME driver-side truncation as Prep.splitByKeyN
    val cum = Seq(0.7, 0.9).map(c => (c * (1 << 24)).toLong)
    s"""WITH pl AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, replace(text, ' ', '  ')
       |  FROM documents WHERE doc_id % 7 = 0),
       |f AS (
       |  SELECT doc_id,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM pl),
       |h AS (
       |  SELECT doc_id, fp,
       |    ('0x' || substr(md5('42|' || fp), 1, 6))::BIGINT AS h
       |  FROM f)
       |SELECT doc_id, fp,
       |  CAST(CASE WHEN h < ${cum(0)} THEN 0
       |            WHEN h < ${cum(1)} THEN 1
       |            ELSE 2 END AS INTEGER) AS side
       |FROM h""".stripMargin
  }

  /** Cross-source duplication matrix
    * ([[graft.pipeline.Profiling.sourceOverlap]]) with a planted
    * mirror feed (every doc_id % 7 == 0 doc re-hosted under source
    * "mirror" — the synthetic sources share no natural fingerprints,
    * so the unplanted matrix would be empty).
    */
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
    val planted = docs.unionAll(
      docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id") + 100000, lit("mirror").as("source"),
          col("text")))
    graft.pipeline.Profiling.sourceOverlap(planted, "source", "text")
  }

  private val q166Sql: String =
    """WITH pl AS (
      |  SELECT source, text FROM documents
      |  UNION ALL
      |  SELECT 'mirror', text FROM documents WHERE doc_id % 7 = 0),
      |fp AS (
      |  SELECT DISTINCT source,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM pl)
      |SELECT a.source AS source_a, b.source AS source_b,
      |       count(*) AS n_shared
      |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
      |GROUP BY 1, 2""".stripMargin

  private val textProfileSql: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |         regexp_split_to_array(trim(text), '\s+') AS ws,
      |         regexp_split_to_array(trim(lower(text)), '\s+') AS wsl
      |  FROM documents),
      |r AS (
      |  SELECT doc_id,
      |    len(ws) AS n_tokens,
      |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
      |    len(regexp_replace(text, '[^.!?,;:]', '', 'g')) / CAST(len(text) AS DOUBLE) AS pr,
      |    len(list_filter(wsl, w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) / CAST(len(ws) AS DOUBLE) AS sr,
      |    len(list_filter(wsl, w -> list_contains(['the','a','and','of','to','is'], w))) AS s_en,
      |    len(list_filter(wsl, w -> list_contains(['der','die','das','und','ist','nicht'], w))) AS s_de,
      |    len(list_filter(wsl, w -> list_contains(['el','la','los','y','es','que'], w))) AS s_es,
      |    len(list_filter(wsl, w -> list_contains(['le','la','les','et','est','que'], w))) AS s_fr,
      |    len(list_filter(wsl, w -> list_contains(['的','了','是','在','我','不'], w))) AS s_zh
      |  FROM t)
      |SELECT doc_id, n_tokens, n_bpe_tokens,
      |  round(pr, 6) AS punct_ratio,
      |  round(sr, 6) AS stop_ratio,
      |  round(least(1.0, n_tokens / 100.0) * (1 - pr) * (0.5 + sr), 6) AS quality,
      |  CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
      |       WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
      |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
      |       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
      |       ELSE 'zh' END AS lang_pred
      |FROM r""".stripMargin

  /** The q110/q112 synthetic raw-URL corpus (one crawl per doc, four
    * rule-exercising variants) — DuckDB twin of `rawUrl`.
    */
  private val urlMixedSql: String =
    """SELECT doc_id AS crawl_id,
      |  CASE CAST(doc_id % 4 AS INT)
      |    WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.COM/docs/' || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '#top'
      |    WHEN 1 THEN 'http://' || source || '.example.com:80/docs/' || CAST(doc_id AS VARCHAR) || '?id=' || CAST(doc_id AS VARCHAR) || '&fbclid=abc123'
      |    WHEN 2 THEN 'https://' || source || '.example.com:443/docs/' || CAST(doc_id AS VARCHAR) || '/'
      |    ELSE source || '.Example.CO.UK/Docs/' || CAST(doc_id AS VARCHAR) || '?ref=rss&z=1&a=2'
      |  END AS url FROM documents""".stripMargin

  /** q121b oracle: nearest-of-8-fixed-centroids assignment + √n
    * temperature rebalance. The squared distance is generated as the
    * SAME left-associative 64-term chain the Spark fold builds
    * (`t1 + t2 + …` parses left-assoc; the fold's leading `0.0 + t1`
    * is exact), so both engines round identically at every step.
    */
  private def q121bSql: String = {
    val chain = (1 to 64).map { i =>
      s"(CAST(e.embedding[$i] AS DOUBLE) - CAST(c.ce[$i] AS DOUBLE)) * " +
        s"(CAST(e.embedding[$i] AS DOUBLE) - CAST(c.ce[$i] AS DOUBLE))"
    }.mkString(" + ")
    s"""WITH cent AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |dist AS (
       |  SELECT e.vec_id, c.cid, $chain AS d
       |  FROM embeddings e CROSS JOIN cent c),
       |best AS (SELECT vec_id, min(d) AS md FROM dist GROUP BY 1),
       |asg AS (
       |  SELECT d.vec_id, CAST(min(d.cid) AS BIGINT) AS cluster
       |  FROM dist d JOIN best b ON d.vec_id = b.vec_id AND d.d = b.md
       |  GROUP BY 1),
       |cnt AS (SELECT cluster, count(*) AS n FROM asg GROUP BY 1),
       |s AS (SELECT sum(sqrt(n)) AS sw FROM cnt),
       |r AS (SELECT cluster,
       |             least(CAST(1.0 AS DOUBLE),
       |                   CAST(200.0 AS DOUBLE) * sqrt(n) / sw / n) AS rate
       |      FROM cnt CROSS JOIN s)
       |SELECT a.vec_id, a.cluster FROM asg a JOIN r USING (cluster)
       |WHERE ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 6))::BIGINT
       |      < rate * 16777216.0""".stripMargin
  }

  /** DuckDB twin of `rawUrlPsl` (the PSL-rule-exercising crawl). */
  private val urlPslSql: String =
    """SELECT doc_id AS crawl_id,
      |  CASE CAST(doc_id % 6 AS INT)
      |    WHEN 0 THEN 'https://' || source || '.github.io/p/' || CAST(doc_id AS VARCHAR)
      |    WHEN 1 THEN 'HTTP://WWW.' || source || '.BLOGSPOT.com/' || CAST(doc_id AS VARCHAR) || '/'
      |    WHEN 2 THEN 'https://news.' || source || '.co.uk:443/' || CAST(doc_id AS VARCHAR)
      |    WHEN 3 THEN 'http://x.' || source || '.city.kawasaki.jp/' || CAST(doc_id AS VARCHAR)
      |    WHEN 4 THEN 'https://a.b.' || source || '.ck/' || CAST(doc_id AS VARCHAR)
      |    ELSE 'http://sub.' || source || '.example.com/' || CAST(doc_id AS VARCHAR) || '?utm_source=x&q=1'
      |  END AS url FROM documents""".stripMargin

  /** q111's colliding recrawl pair (canonical forms identical). */
  private val urlCrawlASql: String =
    "SELECT doc_id AS crawl_id, 'HTTPS://WWW.' || source || '.Example.COM/docs/' || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '#top' AS url FROM documents"
  private val urlCrawlBSql: String =
    "SELECT doc_id + 100000 AS crawl_id, 'http://' || source || '.example.com:80/docs/' || CAST(doc_id AS VARCHAR) || '?id=' || CAST(doc_id AS VARCHAR) || '&fbclid=abc123' AS url FROM documents"

  /** DuckDB replay of [[graft.text.Urls.canonicalizeUrl]] +
    * `registrableDomain`: fragment → scheme → host/rest split →
    * lower/www/port → path slash strip → tracking-param filter + sort.
    * `src` must yield (crawl_id, url); ends in CTE `canon`
    * (crawl_id, url_canon, domain).
    */
  private def urlCoreSql(src: String): String =
    s"""WITH u AS ($src),
       |c AS (
       |  SELECT crawl_id,
       |    regexp_replace(regexp_replace(trim(url), '#.*$$', ''),
       |                   '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS ns
       |  FROM u),
       |h AS (
       |  SELECT crawl_id, regexp_extract(ns, '^[^/?]*') AS raw_host,
       |    substr(ns, len(regexp_extract(ns, '^[^/?]*')) + 1) AS rest
       |  FROM c),
       |p AS (
       |  SELECT crawl_id,
       |    regexp_replace(regexp_replace(lower(raw_host), '^www\\.', ''),
       |                   ':(80|443)$$', '') AS host,
       |    regexp_replace(regexp_extract(rest, '^[^?]*'), '/+$$', '') AS path,
       |    CASE WHEN strpos(rest, '?') > 0
       |         THEN substr(rest, strpos(rest, '?') + 1) ELSE '' END AS qs
       |  FROM h),
       |f AS (
       |  SELECT crawl_id, host, path,
       |    array_to_string(list_sort(list_filter(string_split(qs, '&'),
       |      x -> NOT (x = '' OR regexp_matches(x,
       |        '^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$$)')))), '&') AS sq
       |  FROM p)""".stripMargin

  private def urlCanonSql(src: String): String =
    s"""${urlCoreSql(src)},
       |canon AS (
       |  SELECT crawl_id,
       |    host || path || CASE WHEN sq <> '' THEN '?' || sq ELSE '' END AS url_canon,
       |    CASE WHEN regexp_extract(host,
       |           '[^.]+\\.(co|com|net|org|gov|ac|edu)\\.[^.]+$$|[^.]+\\.[^.]+$$') = ''
       |         THEN host
       |         ELSE regexp_extract(host,
       |           '[^.]+\\.(co|com|net|org|gov|ac|edu)\\.[^.]+$$|[^.]+\\.[^.]+$$') END AS domain
       |  FROM f)""".stripMargin

  /** PSL-mode finisher of the same chain: the domain comes from the
    * generated [[graft.text.PublicSuffix.duckDbCase]] — the oracle
    * replays the engine's EXACT rule snapshot, so the two can never
    * drift. `hs` pre-splits the host once.
    */
  private def urlCanonPslSql(src: String): String =
    s"""${urlCoreSql(src)},
       |hs AS (
       |  SELECT crawl_id, host, path, sq,
       |    string_split(host, '.') AS hp, len(string_split(host, '.')) AS hn
       |  FROM f),
       |canon AS (
       |  SELECT crawl_id,
       |    host || path || CASE WHEN sq <> '' THEN '?' || sq ELSE '' END AS url_canon,
       |    ${graft.text.PublicSuffix.duckDbCase("host", "hp", "hn")} AS domain
       |  FROM hs)""".stripMargin

  /** DSIR-style hashed-bigram affinity (q117 batch + q118 streaming
    * twin): q100's tokenization fragment, md5-prefix buckets (q115's
    * machinery), add-one-smoothed target/raw ratio as a fixed tree of
    * DOUBLE-cast ops, HUGEINT sum → DOUBLE mean (mirrors Spark's
    * decimal(38,0) accumulation).
    */
  private def importanceSqlWith(gramSrc: String): String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |         regexp_split_to_array(
      |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+') AS ws
      |  FROM documents),
      |g AS ($gramSrc),
      |b AS (SELECT doc_id,
      |        CAST(('0x' || substr(md5(gram), 1, 6))::BIGINT % 65536 AS BIGINT) AS bucket
      |      FROM g),
      |tb AS (SELECT bucket, count(*) AS t_cnt FROM b WHERE doc_id % 10 = 3 GROUP BY 1),
      |tt AS (SELECT count(*) AS t_total FROM b WHERE doc_id % 10 = 3),
      |rb AS (SELECT bucket, count(*) AS r_cnt FROM b GROUP BY 1),
      |rt AS (SELECT count(*) AS r_total FROM b),
      |sc AS (
      |  SELECT b.doc_id,
      |    CAST(floor(1e9
      |      * (CAST(COALESCE(tb.t_cnt, 0) + 1 AS DOUBLE)
      |         * CAST(rt.r_total + 65536 AS DOUBLE))
      |      / (CAST(tt.t_total + 65536 AS DOUBLE)
      |         * CAST(rb.r_cnt + 1 AS DOUBLE))) AS BIGINT) AS r
      |  FROM b
      |  LEFT JOIN tb USING (bucket)
      |  JOIN rb USING (bucket)
      |  CROSS JOIN tt CROSS JOIN rt)
      |SELECT doc_id, count(*) AS n_grams,
      |       CAST(floor(CAST(sum(r) AS DOUBLE) / count(*)) AS BIGINT) AS affinity_fp
      |FROM sc GROUP BY doc_id""".stripMargin

  /** Bigram-only gram stream (q117/q118). */
  private val importanceSql: String = importanceSqlWith(
    """SELECT doc_id,
      |        unnest(list_transform(range(len(ws) - 1),
      |          i -> ws[i + 1] || ' ' || ws[i + 2])) AS gram
      |      FROM t WHERE len(ws) >= 2""".stripMargin)

  /** Unigram∪bigram stream (q120, the DSIR-paper n ∈ {1,2} form). */
  private val importanceUniSql: String = importanceSqlWith(
    """SELECT doc_id, unnest(ws) AS gram FROM t WHERE len(ws) >= 1
      |      UNION ALL
      |      SELECT doc_id,
      |        unnest(list_transform(range(len(ws) - 1),
      |          i -> ws[i + 1] || ' ' || ws[i + 2])) AS gram
      |      FROM t WHERE len(ws) >= 2""".stripMargin)

  /** DuckDB replay of [[graft.text.Quality.scoreDocs]] under explicit
    * weights — q40's feature fragments, every constant CAST to DOUBLE
    * so no decimal-literal arithmetic sneaks in.
    */
  /** The q113 scoring chain WITHOUT a leading WITH — composable into
    * other oracles (q141); ends in CTE `sc` (doc_id, s).
    */
  private def qualityScoredCtes(w: Quality.Weights): String =
    s"""t AS (
       |  SELECT doc_id, text,
       |    regexp_split_to_array(trim(text), '\\s+') AS ws,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS wsl
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, len(ws) AS n,
       |    len(regexp_replace(text, '[^.!?,;:]', '', 'g')) / CAST(len(text) AS DOUBLE) AS pr,
       |    len(list_filter(wsl, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) / CAST(len(ws) AS DOUBLE) AS sr,
       |    CAST(len(text) AS DOUBLE) / len(ws) AS cpt
       |  FROM t),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(${w.bias} AS DOUBLE)
       |      + CAST(${w.lenSat} AS DOUBLE) * least(CAST(1.0 AS DOUBLE), n / CAST(${w.lenCap} AS DOUBLE))
       |      + CAST(${w.punct} AS DOUBLE) * pr
       |      + CAST(${w.stop} AS DOUBLE) * sr
       |      + CAST(${w.cpt} AS DOUBLE) * cpt AS s
       |  FROM r)""".stripMargin

  private def qualityScoreSql(w: Quality.Weights): String =
    s"""WITH ${qualityScoredCtes(w)}
       |SELECT doc_id, round(s, 6) AS score, CAST(s > 0 AS INT) AS keep
       |FROM sc""".stripMargin

  /** q141: the PSL canon chain × the q113 scoring chain × a
    * domain-partitioned row_number — the oracle of
    * [[graft.text.Urls.domainTopK]] under the quality score.
    */
  private def q141Sql(k: Int = 3): String =
    s"""${urlCanonPslSql(urlPslSql)},
       |${qualityScoredCtes(q113Weights)},
       |rk AS (
       |  SELECT c.crawl_id, c.domain,
       |         row_number() OVER (
       |           PARTITION BY c.domain
       |           ORDER BY round(sc.s, 6) DESC, c.crawl_id ASC) AS rn
       |  FROM canon c JOIN sc ON sc.doc_id = c.crawl_id)
       |SELECT crawl_id AS doc_id, domain FROM rk WHERE rn <= $k""".stripMargin

  /** Centrality-ranked best-k — the q137 x q141 composition: the
    * domain PageRank picks the `nDomains` most central domains
    * (rank desc, domain asc — deterministic boundary), and within
    * each the quality-scored WindowGroupLimit keeps the best `k`
    * pages. "Keep the k best pages of the k best domains" — the
    * curation shorthand both halves were built for. The rank side is
    * |domains|-sized, so it broadcasts into the page-level result.
    */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    val top = q137(s, dir)
      .orderBy(col("rank_fp").desc, col("domain").asc).limit(8)
    Urls.domainTopK(
      Tables.documents(s, dir)
        .withColumn("url", rawUrlPsl(col("doc_id"), col("source"))),
      "doc_id", "url", k = 3,
      score = round(Quality.scoreQuality(col("text"), q113Weights), 6),
      domainOf = Urls.registrableDomainPsl)
      .join(broadcast(top), Seq("domain"))
      .select(col("domain"), col("doc_id"), col("rank_fp"))
  }

  /** q152 oracle: the q137 unrolled-PageRank replay feeding a LIMIT
    * over (rank desc, node asc), joined to the q141 quality-window
    * chain.
    */
  private def q152Sql(iterations: Int = 5, nDomains: Int = 8,
      k: Int = 3): String =
    pageRankReplaySql(domainGraphCtes, iterations, 85, 1000000L,
      finalSelect =
        s""",
           |top AS (SELECT node AS domain, rank_fp FROM r$iterations
           |        ORDER BY rank_fp DESC, node ASC LIMIT $nDomains),
           |${qualityScoredCtes(q113Weights)},
           |rk AS (
           |  SELECT c.crawl_id, c.domain,
           |         row_number() OVER (
           |           PARTITION BY c.domain
           |           ORDER BY round(sc.s, 6) DESC, c.crawl_id ASC) AS rn
           |  FROM canon c JOIN sc ON sc.doc_id = c.crawl_id)
           |SELECT t.domain, rk.crawl_id AS doc_id, t.rank_fp
           |FROM rk JOIN top t USING (domain) WHERE rk.rn <= $k"""
          .stripMargin)

  /** BM25 top-k retrieval ([[graft.text.Retrieval.bm25TopK]]): every
    * benchmark document (doc_id % 100 = 3 — eval sets are SMALL by
    * definition, ~1% of the corpus; the q119 10%-convention slice is
    * corpus-scale, not benchmark-scale, and the scoring join's row
    * count is |pairs sharing a term| — on this synthetic 31-token
    * vocabulary that degenerates to all-pairs) retrieves its 5
    * lexically-closest corpus neighbors — the retrieval half of
    * retrieval-based decontamination (and the "which corpus docs look
    * like this eval prompt" audit). Fixed-point per-term weights sum
    * as longs, so the score is engine-exact and the ranking hash-gates.
    */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    graft.text.Retrieval.bm25TopK(
      docs, "doc_id", "text",
      docs.filter(col("doc_id") % 100 === 3), "doc_id", "text", k = 5)
  }

  /** Tokenized-corpus CTE chain shared by the q153 oracle and the
    * q154 retrieval-decontamination composition: normalize + split
    * (the engine's TextAnalysis rule), empty tokens dropped, BM25
    * per-(query, doc) fixed-point scores through CTE `sco`
    * (query_id, doc_id, score_fp) and ranked top-k through `rnk`.
    * Double literals are embedded from the EXACT Scala-computed
    * values (Double.toString round-trips), so the IEEE chains match
    * the Spark expressions term for term.
    */
  private def q153Ctes(k: Int = 5, k1: Double = 1.2,
      b: Double = 0.75, statsFilter: String = "TRUE"): String = {
    // statsFilter restricts the FROZEN model statistics (n_docs,
    // avgdl, df) to a build slice while tf/dl stay corpus-wide — the
    // q177 Bm25Index gate (build on the slice, refresh the rest,
    // probe under build-time stats). "TRUE" = the one-shot q153 form.
    val k1p1 = (k1 + 1.0).toString
    val oneMb = (1.0 - b).toString
    s"""WITH toks0 AS (
       |  SELECT doc_id,
       |         unnest(regexp_split_to_array(
       |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'))
       |           AS token
       |  FROM documents),
       |tok AS (SELECT doc_id, token FROM toks0 WHERE length(token) > 0),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents
       |       WHERE $statsFilter),
       |navg AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM tok
       |                 WHERE $statsFilter)
       |                / (SELECT nd FROM nd) AS avgdl),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |qt AS (SELECT DISTINCT doc_id AS query_id, token FROM tok
       |       WHERE doc_id % 100 = 3),
       |dfq AS (SELECT token, count(*) AS df FROM tf
       |        WHERE token IN (SELECT DISTINCT token FROM qt)
       |          AND $statsFilter GROUP BY 1),
       |idf AS (SELECT token,
       |               ln(1.0 + ((SELECT nd FROM nd) - df + 0.5) / (df + 0.5))
       |                 AS idf
       |        FROM dfq),
       |contrib AS (
       |  SELECT q.query_id, t.doc_id,
       |         CAST(floor(i.idf
       |           * ((t.tf * $k1p1)
       |             / (t.tf + $k1 * ($oneMb
       |               + $b * (d.dl / (SELECT avgdl FROM navg)))))
       |           * 1000000.0) AS BIGINT) AS w_fp
       |  FROM tf t
       |  JOIN qt q USING (token)
       |  JOIN idf i USING (token)
       |  JOIN dl d ON d.doc_id = t.doc_id
       |  WHERE t.doc_id <> q.query_id),
       |sco AS (SELECT query_id, doc_id, CAST(sum(w_fp) AS BIGINT) AS score_fp
       |        FROM contrib GROUP BY 1, 2),
       |rnk AS (SELECT query_id, doc_id, score_fp,
       |               CAST(row_number() OVER (
       |                 PARTITION BY query_id
       |                 ORDER BY score_fp DESC, doc_id ASC) AS INTEGER) AS "rank"
       |        FROM sco)""".stripMargin
  }

  private def q153Sql(k: Int = 5): String =
    s"""${q153Ctes(k)}
       |SELECT query_id, doc_id, "rank", score_fp
       |FROM rnk WHERE "rank" <= $k""".stripMargin

  /** Retrieval-based decontamination audit
    * ([[graft.pipeline.Curation.retrievalContaminationAudit]]): the
    * q153 BM25 shortlist joined with a per-pair verbatim word-n-gram
    * overlap count — the eval-release audit that surfaces
    * near-verbatim suspects a corpus-wide 13-gram collision scan
    * misses. Entirely integer outputs, hash-gated.
    */
  private def q154(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    graft.pipeline.Curation.retrievalContaminationAudit(
      docs, docs.filter(col("doc_id") % 100 === 3),
      "text", "doc_id", "doc_id", k = 5, n = 5)
  }

  private def q154Sql(k: Int = 5, n: Int = 5): String =
    s"""${q153Ctes(k)},
       |topk AS (SELECT query_id, doc_id, "rank", score_fp
       |         FROM rnk WHERE "rank" <= $k),
       |dw AS (
       |  SELECT doc_id,
       |         regexp_split_to_array(
       |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+') AS ws
       |  FROM documents),
       |dg AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(len(ws) - ${n - 1}),
       |           i -> array_to_string(ws[i + 1 : i + $n], ' '))) AS g
       |  FROM dw WHERE len(ws) >= $n),
       |bg AS (
       |  SELECT DISTINCT doc_id AS query_id, md5(g) AS gh
       |  FROM dg WHERE doc_id % 100 = 3),
       |cg AS (
       |  SELECT DISTINCT doc_id, md5(g) AS gh
       |  FROM dg WHERE doc_id IN (SELECT doc_id FROM topk)),
       |ov AS (
       |  SELECT bg.query_id, cg.doc_id, count(*) AS n_shared
       |  FROM cg JOIN bg USING (gh) GROUP BY 1, 2)
       |SELECT t.query_id AS bench_id, t.doc_id, t."rank", t.score_fp,
       |       CAST(COALESCE(o.n_shared, 0) AS BIGINT) AS n_shared_grams
       |FROM topk t LEFT JOIN ov o
       |  ON o.query_id = t.query_id AND o.doc_id = t.doc_id""".stripMargin

  /** Persistent BM25 inverted-index lifecycle
    * ([[graft.text.Bm25Index]]): build on the even half — df / n_docs
    * / avgdl FROZEN there — refresh with the odd half (O(batch)
    * append-only fold), probe with the q153 benchmark slice. The
    * oracle replays the frozen-stats scoring ([[q177Sql]]): tf/dl
    * corpus-wide, model statistics from the build slice only — so the
    * hash match proves the artifact round-trip AND the freeze
    * semantics at once.
    */
  private def q177(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val name =
      s"graft_bm25_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    graft.text.Bm25Index.drop(s, name)
    try {
      graft.text.Bm25Index.build(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", name)
      graft.text.Bm25Index.refresh(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", name)
      graft.text.Bm25Index.probe(s, name,
        docs.filter(col("doc_id") % 100 === 3), "doc_id", "text", k = 5)
        .localCheckpoint()
    } finally graft.text.Bm25Index.drop(s, name)
  }

  private def q177Sql(k: Int = 5): String =
    s"""${q153Ctes(k, statsFilter = "doc_id % 2 = 0")}
       |SELECT query_id, doc_id, "rank", score_fp
       |FROM rnk WHERE "rank" <= $k""".stripMargin

  /** Vocabulary drift between the even-doc snapshot and the odd-doc
    * snapshot with a PLANTED drift token
    * ([[graft.pipeline.Profiling.vocabDrift]]): exact counts + exact
    * cross-multiplied two-sided drift verdicts for the top-40 tokens
    * (the whole synthetic vocabulary — no tie risk at the K edge).
    */
  private def q182(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val a = docs.filter(col("doc_id") % 2 === 0).select("text")
    val b = docs.filter(col("doc_id") % 2 === 1)
      .select(when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" planteddrift")))
        .otherwise(col("text")).as("text"))
    graft.pipeline.Profiling.vocabDrift(a, b, "text", topK = 40)
  }

  private def q182Sql(topK: Int = 40, factorNum: Long = 2L,
      factorDen: Long = 1L): String =
    s"""WITH da AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
       |db AS (SELECT CASE WHEN doc_id % 3 = 0
       |                   THEN text || ' planteddrift' ELSE text END AS text
       |       FROM documents WHERE doc_id % 2 = 1),
       |tka AS (SELECT unnest(regexp_split_to_array(
       |          trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
       |          '\\s+')) AS token FROM da),
       |tkb AS (SELECT unnest(regexp_split_to_array(
       |          trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
       |          '\\s+')) AS token FROM db),
       |ca AS (SELECT token, count(*) AS cnt_a FROM tka
       |       WHERE length(token) > 0 GROUP BY 1),
       |cb AS (SELECT token, count(*) AS cnt_b FROM tkb
       |       WHERE length(token) > 0 GROUP BY 1),
       |ta AS (SELECT CAST(COALESCE(sum(cnt_a), 0) AS BIGINT) AS total_a
       |       FROM ca),
       |tb AS (SELECT CAST(COALESCE(sum(cnt_b), 0) AS BIGINT) AS total_b
       |       FROM cb),
       |j AS (SELECT token,
       |             CAST(COALESCE(cnt_a, 0) AS BIGINT) AS cnt_a,
       |             CAST(COALESCE(cnt_b, 0) AS BIGINT) AS cnt_b
       |      FROM ca FULL OUTER JOIN cb USING (token))
       |SELECT token, cnt_a, cnt_b,
       |       CAST(cnt_a * $factorDen AS HUGEINT) * (SELECT total_b FROM tb)
       |         > CAST(cnt_b * $factorNum AS HUGEINT) * (SELECT total_a FROM ta)
       |         AS drift_up,
       |       CAST(cnt_b * $factorDen AS HUGEINT) * (SELECT total_a FROM ta)
       |         > CAST(cnt_a * $factorNum AS HUGEINT) * (SELECT total_b FROM tb)
       |         AS drift_down
       |FROM j
       |ORDER BY (cnt_a + cnt_b) DESC, token ASC
       |LIMIT $topK""".stripMargin

  /** Embedding health audit
    * ([[graft.pipeline.Profiling.embeddingHealth]]) over the
    * embeddings table with PLANTED defects (the corpus is clean, so
    * an all-ok report would gate nothing): a null row, a truncated
    * row, a NaN-poisoned row (width preserved — the cascade must
    * classify it nonfinite, not wrong_dim) and an all-zero row per
    * planting slot.
    */
  private def q183(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = e
      .unionByName(e.filter(col("vec_id") % 13 === 0).select(
        (col("vec_id") + 910000).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
      .unionByName(e.filter(col("vec_id") % 11 === 0).select(
        (col("vec_id") + 900000).as("vec_id"),
        slice(col("embedding"), 1, 32).as("embedding")))
      .unionByName(e.filter(col("vec_id") % 17 === 0).select(
        (col("vec_id") + 920000).as("vec_id"),
        concat(array(lit(Float.NaN)), slice(col("embedding"), 2, 63))
          .as("embedding")))
      .unionByName(e.filter(col("vec_id") % 19 === 0).select(
        (col("vec_id") + 930000).as("vec_id"),
        transform(col("embedding"), _ => lit(0.0f)).as("embedding")))
    graft.pipeline.Profiling.embeddingHealth(planted, "embedding", 64)
  }

  private def q183Sql: String =
    s"""WITH p AS (
       |  SELECT embedding AS v FROM embeddings
       |  UNION ALL
       |  SELECT NULL FROM embeddings WHERE vec_id % 13 = 0
       |  UNION ALL
       |  SELECT v[1:32] FROM (SELECT embedding AS v FROM embeddings
       |                       WHERE vec_id % 11 = 0)
       |  UNION ALL
       |  SELECT list_prepend(CAST('NaN' AS FLOAT), v[2:64])
       |  FROM (SELECT embedding AS v FROM embeddings WHERE vec_id % 17 = 0)
       |  UNION ALL
       |  SELECT list_transform(v, x -> CAST(0.0 AS FLOAT))
       |  FROM (SELECT embedding AS v FROM embeddings WHERE vec_id % 19 = 0)),
       |c AS (SELECT CASE
       |        WHEN v IS NULL THEN 'null'
       |        WHEN len(v) <> 64 THEN 'wrong_dim'
       |        WHEN len(list_filter(v, x -> isnan(x) OR isinf(x))) > 0
       |          THEN 'nonfinite'
       |        WHEN len(list_filter(v, x -> x <> CAST(0.0 AS FLOAT))) = 0
       |          THEN 'zero'
       |        ELSE 'ok' END AS c
       |      FROM p)
       |SELECT count(*) AS n_rows,
       |       count(CASE WHEN c = 'null' THEN 1 END) AS n_null,
       |       count(CASE WHEN c = 'wrong_dim' THEN 1 END) AS n_wrong_dim,
       |       count(CASE WHEN c = 'nonfinite' THEN 1 END) AS n_nonfinite,
       |       count(CASE WHEN c = 'zero' THEN 1 END) AS n_zero,
       |       count(CASE WHEN c = 'ok' THEN 1 END) AS n_ok
       |FROM c""".stripMargin

  /** Streaming twin of q182 ([[graft.streaming.StreamingVocabDrift]]):
    * the planted-drift odd-doc snapshot delivered as two id-ordered
    * micro-batches against the frozen even-doc baseline. Counts
    * commute, so the read-time report shares q182's oracle verbatim.
    */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val ref = docs.filter(col("doc_id") % 2 === 0).select("text")
    val b = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" planteddrift")))
          .otherwise(col("text")).as("text"))
    val stream = stageOrderedBatches(s, scratchDir("stream_vocabdrift"),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))),
      midpointHalves(b))
    val tbl =
      s"graft_vd_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val run = graft.streaming.StreamingVocabDrift.start(
      stream.drop("doc_id"), "text", ref, "text", tbl, topK = 40) {
      (_, _) => ()
    }
    try {
      run.query.processAllAvailable()
      run.drift().get.localCheckpoint()
    } finally {
      run.query.stop()
      s.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  /** PRODUCTION k-NN graph ([[graft.similarity.Ann.knnGraph]]): the
    * trained, list-size-bounded builder — sampled-KMeans coarse lists
    * (the FAISS bounded-fit rule), multi-assignment for recall, the
    * Rademacher oversized-list guard — over the embeddings corpus.
    * KMeans training is float/RNG, so this stays rows-only (the q121
    * trained-quantizer precedent); the hash gate for the shared
    * within-list ranking machinery is the fixed twin q172, and the
    * recall-vs-brute bar (≥0.9 at sf0.1) is spec-locked in AnnSpec.
    */
  private def q193(s: SparkSession, dir: String): DataFrame =
    graft.similarity.Ann.knnGraph(Tables.embeddings(s, dir),
      "vec_id", "embedding", k = 5, nlist = 8, nassign = 3)

  /** TRAINED SemDeDup driver ([[graft.pipeline.Curation.semanticDedup]])
    * over q168's exact-copy planted corpus: sample-fit KMeans →
    * broadcast centroids → the frozen-centroid machinery. Every
    * planted copy lands in its original's trained cluster (identical
    * vector → identical nearest centroid) and scores cosine 1, so the
    * survivor ID SET equals q168's min-id representatives under ANY
    * centroid outcome; clusters are KMeans-dependent, so the query
    * stays rows-only (the q121/q193 trained-quantizer class) and the
    * hash gate remains the fixed twin q168.
    */
  private def q194(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding")))
    graft.pipeline.Curation.semanticDedup(planted, "vec_id", "embedding",
      thresholdFp = 450000000000L, nClusters = 8)
      .select(col("id").as("vec_id"), col("cluster"))
  }

  /** One NN-descent refinement round
    * ([[graft.similarity.Ann.nnDescentRound]], Dong et al. 2011) over
    * the UNION of two fixed k-NN graphs under DIFFERENT centroid sets
    * (first-8 and next-8 unit embeddings) — the deterministic
    * stand-in for NN-descent's random initialization: ONE within-list
    * graph is component-disjoint (its local join can only re-find
    * pairs the builder already ranked — a structural no-op), while
    * two overlapping clusterings give the round genuine
    * cross-clustering candidates. Deterministic end to end (integer
    * dots, fixed tie-breaks, capped member lists), so the refined
    * graph hash-gates ([[graft.oracle.AnnOracles.q196Sql]]).
    */
  private def q196(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val A = graft.similarity.Ann
    val g1 = A.knnGraphFixed(emb, "vec_id", "embedding", k = 5,
      centroids = unitHeadEmbeddings(s, dir, 8))
    val g2 = A.knnGraphFixed(emb, "vec_id", "embedding", k = 5,
      centroids = unitRangeEmbeddings(s, dir, 8, 16))
    A.nnDescentRound(
      g1.select("vec_id", "neighbor_id", "score_fp")
        .unionByName(g2.select("vec_id", "neighbor_id", "score_fp")),
      A.fixedUnitVectors(emb, "vec_id", "embedding"), k = 5)
  }

  /** CCNet-style LM-perplexity bucketing (Wenzek et al. 2020;
    * [[graft.text.Unigram.perplexity]]): every document scored by its
    * average per-piece negative log-likelihood under the q159 frozen
    * unigram LM (trained on the even-doc half, so odd docs carry
    * genuine [UNK] OOV charges) and split head / middle / tail by
    * fixed thresholds — the classic keep-the-head quality split. The
    * oracle replays vocab derivation, the Viterbi DP AND the
    * bucketing ([[graft.oracle.UnigramOracles.perplexitySql]]).
    */
  private def q197(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val v = graft.text.Unigram.trainFrozen(
      docs.filter(col("doc_id") % 2 === 0), "text", topK = 1024)
    graft.text.Unigram.perplexity(docs, "doc_id", "text", v,
      unkScoreFp = -20000000L,
      headBelowFp = q197Head, midBelowFp = q197Mid)
  }

  /** q197's frozen bucket thresholds (1e6-fixed-point nats): chosen
    * so the synthetic corpus populates all three buckets at every sf
    * — the gate then proves both threshold comparisons, not just one.
    */
  private val q197Head = 5800000L
  private val q197Mid = 5900000L

  /** Deterministic exact-k per-group sampling
    * ([[graft.prep.Prep.sampleExactPerGroup]]): the same 20 documents
    * per language every run and every engine — md5-ranked within
    * group, WindowGroupLimit plan. The oracle replays the identical
    * hash order, so the gate checks the ASSIGNMENT (which rows), not
    * just the counts (the q80b discipline).
    */
  private def q198(s: SparkSession, dir: String): DataFrame =
    Prep.sampleExactPerGroup(
      Tables.documents(s, dir).select("doc_id", "lang"),
      "lang", col("doc_id"), k = 20)

  private def q198Sql(k: Int = 20): String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang
       |           ORDER BY md5(CAST(doc_id AS VARCHAR) || '|'),
       |                    CAST(doc_id AS VARCHAR)) AS rn
       |  FROM documents) t
       |WHERE rn <= $k""".stripMargin

  /** Character-n-gram language ID ([[graft.text.LangId]], Cavnar &
    * Trenkle 1994): per-language trigram profiles trained on the
    * even-doc half (frozen artifact), every document classified by
    * the argmax of per-language integer log-likelihood sums with a
    * frozen OOV penalty. The synthetic corpus's lang labels do not
    * correlate with its text (all languages share one vocabulary), so
    * the gate proves the DETERMINISTIC machinery end to end — train,
    * freeze, fold, argmax, tie-break — while accuracy on separable
    * text is spec-locked on planted real-language fixtures.
    */
  private def q199(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val p = graft.text.LangId.trainProfiles(
      docs.filter(col("doc_id") % 2 === 0), "text", "lang", topN = 256)
    graft.text.LangId.classify(docs, "doc_id", "text", p)
  }

  private def q199Sql(topN: Int = 256, oovFp: Long = -15000000L): String =
    s"""WITH norm AS (
       |  SELECT doc_id, lang,
       |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |tg AS (
       |  SELECT lang, substr(t, CAST(i AS INT), 3) AS g
       |  FROM (SELECT lang, t, unnest(range(1, len(t) - 1)) AS i
       |        FROM norm WHERE doc_id % 2 = 0 AND len(t) >= 3)),
       |lc AS (SELECT lang, g, count(*) AS c FROM tg GROUP BY 1, 2),
       |tot AS (SELECT lang, sum(c) AS tc FROM lc GROUP BY 1),
       |prof AS MATERIALIZED (
       |  SELECT r.lang, r.g,
       |         CAST(floor(ln(CAST(r.c AS DOUBLE) / CAST(tt.tc AS DOUBLE))
       |              * 1e6) AS BIGINT) AS sc
       |  FROM (SELECT lang, g, c, row_number() OVER (PARTITION BY lang
       |          ORDER BY c DESC, g ASC) AS rn FROM lc) r
       |  JOIN tot tt USING (lang) WHERE r.rn <= $topN),
       |langs AS (SELECT DISTINCT lang FROM prof),
       |ag AS (
       |  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS g
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
       |        FROM norm WHERE len(t) >= 3)),
       |scl AS (
       |  SELECT a.doc_id, l.lang,
       |         CAST(sum(coalesce(p.sc, $oovFp)) AS BIGINT) AS s
       |  FROM ag a CROSS JOIN langs l
       |  LEFT JOIN prof p ON p.lang = l.lang AND p.g = a.g
       |  GROUP BY 1, 2),
       |pick AS (
       |  SELECT doc_id, lang, s, row_number() OVER (PARTITION BY doc_id
       |           ORDER BY s DESC, lang ASC) AS rn
       |  FROM scl)
       |SELECT d.doc_id,
       |       coalesce(p.lang, 'und') AS lang_pred,
       |       CAST(coalesce(p.s, 0) AS BIGINT) AS score_fp
       |FROM documents d
       |LEFT JOIN (SELECT doc_id, lang, s FROM pick WHERE rn = 1) p
       |  USING (doc_id)""".stripMargin

  /** Streaming twin of q199 ([[graft.text.LangId.classify]] is pure
    * column expressions under FROZEN profiles — stateless per
    * micro-batch, the q161/q180 map-only-twin pattern): continuous
    * language routing on the document stream, sharing q199's oracle
    * verbatim.
    */
  private def q200(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val p = graft.text.LangId.trainProfiles(
      docs.filter(col("doc_id") % 2 === 0), "text", "lang", topN = 256)
    StreamingPrep.runToMemory(
      graft.text.LangId.classify(
        StreamingPrep.streamDocuments(s, dir), "doc_id", "text", p))
  }

  /** Character-entropy gate
    * ([[graft.text.TextAnalysis.entropyGate]]): Shannon entropy of
    * the normalized character distribution, the gibberish/noise
    * signal — repetitive boilerplate low, keyboard-mash high, natural
    * text in a band. The ordered left-assoc fold replays as DuckDB
    * `list_reduce` bit-for-bit, so the verdicts hash-gate.
    */
  private def q201(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.entropyGate(Tables.documents(s, dir),
      "doc_id", "text", loFp = q201Lo, hiFp = q201Hi)

  /** q201's frozen band (1e6-fixed-point nats), chosen so the
    * synthetic corpus populates both verdicts at every sf. */
  private val q201Lo = 2800000L
  private val q201Hi = 2880000L

  /** Duplicate-cluster labeling ([[graft.dedup.Dedup.clustersStar]]):
    * connected components over q43's verified MinHash near-dup pairs
    * by alternating large-star/small-star rounds (O(log² n) rounds on
    * any component shape, where min-label propagation takes
    * O(diameter)). Output = (doc_id, cluster_id = component
    * min) for every doc in a pair; the oracle replays the closure as a
    * DuckDB recursive min-reachable-label CTE.
    */
  private def q202(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.clustersStar(
      graft.dedup.Dedup.minHashPairs(docsWithNearDups(s, dir),
        "doc_id", "text", shingleK = 5, bands = 16, rowsPerBand = 4,
        threshold = 0.5))
      .select(col("id").as("doc_id"), col("cluster_id"))

  /** MLM training-example corruption
    * ([[graft.pipeline.Examples.mlmMask]]): the BERT 15% / 80-10-10
    * rule with every decision a pure function of (tag, doc_id, pos)
    * through xxhash64 string keys — no RNG state, so the full example
    * set hash-gates against the DuckDbXxHash replay at every sf.
    */
  private def q203(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Examples.mlmMask(Tables.documents(s, dir),
      "doc_id", "text")

  /** T5-style span corruption
    * ([[graft.pipeline.Examples.spanCorrupt]]): the seq2seq member of
    * the example-generation family — hash-selected spans collapse to
    * numbered sentinels, targets carry the removed tokens. Interval
    * union + ordered reassembly replay exactly in DuckDB (recursive
    * gaps-and-islands + ordered string_agg).
    */
  private def q204(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Examples.spanCorrupt(Tables.documents(s, dir),
      "doc_id", "text")

  /** Deterministic training-export sharding
    * ([[graft.pipeline.Examples.shardAssign]]): the reproducible
    * global shuffle — hash shard + hash within-shard order, ties on
    * doc_id, replayed in DuckDB over the signed hash.
    */
  private def q205(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Examples.shardAssign(Tables.documents(s, dir),
      "doc_id", "text", nShards = 8)

  /** Export manifest ([[graft.pipeline.Examples.shardManifest]]):
    * per-shard doc/token counts + order-independent bit_xor content
    * checksum — validates an export without re-reading it.
    */
  private def q206(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Examples.shardManifest(Tables.documents(s, dir),
      "doc_id", "text", nShards = 8)

  /** Streaming twin of q203
    * ([[graft.pipeline.Examples.mlmMaskWithVocab]] is pure column
    * expressions + one broadcast stream-static join under a FROZEN
    * vocabulary artifact — stateless per micro-batch, the q200
    * pattern): continuous example generation on the document stream,
    * sharing q203's oracle verbatim (the artifact is trained on the
    * same corpus the batch query scans).
    */
  private def q207(s: SparkSession, dir: String): DataFrame = {
    val vocab = graft.pipeline.Examples.mlmVocab(
      Tables.documents(s, dir), "doc_id", "text").localCheckpoint(true)
    StreamingPrep.runToMemory(
      graft.pipeline.Examples.mlmMaskWithVocab(
        StreamingPrep.streamDocuments(s, dir), "doc_id", "text",
        vocab, vocab.count()))
  }

  /** Hash-sign random projection 64→16
    * ([[graft.similarity.Projection.project]]): the JL shrink before
    * ANN — hash-parity ±1 matrix inlined as a literal, fixed-point
    * integer fold, map-only zero-shuffle plan.
    */
  private def q208(s: SparkSession, dir: String): DataFrame =
    graft.similarity.Projection.project(Tables.embeddings(s, dir),
      "vec_id", "embedding", dIn = 64, dOut = 16)

  /** Two-stage projected-shortlist + exact re-rank top-k
    * ([[graft.similarity.Projection.projTopKFixed]]): the FAISS
    * "refine" pattern with both stages exact integer arithmetic, so
    * the full result hash-gates. Queries = the q48b slice.
    */
  private def q209(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.similarity.Projection.projTopKFixed(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 10, shortlist = 40, dIn = 64, dOut = 16)
  }

  /** Curriculum ordering
    * ([[graft.pipeline.Curation.curriculumOrder]]): easy-to-hard by
    * token count with round-robin source interleaving; the global
    * ordinal is the closed form over broadcast source counts — no
    * single-partition sort — while the oracle derives the same order
    * via a real global sort.
    */
  private def q210(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.pipeline.Curation.curriculumOrder(docs, "doc_id", "source",
      size(filter(graft.text.TextAnalysis.words(
          graft.text.TextAnalysis.normalizeText(
            coalesce(col("text"), lit("")))), t => length(t) > 0)))
  }

  /** Interpolated bigram-LM perplexity bucketing
    * ([[graft.text.BigramLm.perplexity]]): λ·p_bi + (1−λ)·p_uni with
    * Laplace-smoothed counts frozen on the doc_id%2=0 slice — the
    * bigram step beyond q197's unigram CCNet analog. Per-term floors
    * make the doc sum integer; the oracle replays the full
    * train→score lifecycle.
    */
  private def q211(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val m = graft.text.BigramLm.train(
      docs.filter(col("doc_id") % 2 === 0), "text")
    graft.text.BigramLm.perplexity(docs, "doc_id", "text", m,
      headBelowFp = q211Head, midBelowFp = q211Mid)
  }

  /** q211's frozen bucket thresholds (1e6-fixed-point nats), chosen so
    * the synthetic corpus populates all three buckets at every sf. */
  private val q211Head = 3400000L
  private val q211Mid = 3500000L

  /** Streaming twin of q206: the export manifest as a complete-mode
    * streaming aggregation — count/sum/bit_xor all merge-commutative,
    * so ANY micro-batch split folds to the batch manifest exactly
    * (state = nShards rows). Shares q206's oracle verbatim.
    */
  private def q212(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      graft.pipeline.Examples.shardManifest(
        StreamingPrep.streamDocuments(s, dir), "doc_id", "text",
        nShards = 8),
      outputMode = "complete")

  private def q210Sql(): String = {
    val wordsExpr = """string_split_regex(trim(trim(regexp_replace(""" +
      """lower(coalesce(text, '')), '\s+', ' ', 'g'))), '\s+')"""
    s"""WITH base AS (
       |  SELECT doc_id, coalesce(source, '') AS source,
       |         CAST(len(list_filter($wordsExpr, x -> len(x) > 0))
       |           AS BIGINT) AS difficulty
       |  FROM documents),
       |rk AS (
       |  SELECT doc_id, source, difficulty,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY difficulty, doc_id) AS r
       |  FROM base)
       |SELECT doc_id, source, difficulty, CAST(r AS BIGINT) AS src_rank,
       |       CAST(row_number() OVER (ORDER BY r, source) - 1 AS BIGINT)
       |         AS ordinal
       |FROM rk""".stripMargin
  }

  private def q201Sql(loFp: Long, hiFp: Long): String =
    s"""WITH norm AS (
       |  SELECT doc_id,
       |         trim(regexp_replace(lower(coalesce(text, '')),
       |              '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, substr(t, CAST(i AS INT), 1) AS c
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
       |        FROM norm WHERE len(t) > 0)),
       |cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
       |nn AS (SELECT doc_id, len(t) AS n FROM norm),
       |ef AS (
       |  SELECT cc.doc_id,
       |         CAST(floor(
       |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |             list_transform(list(CAST(cc.cnt AS DOUBLE) ORDER BY cc.c),
       |               x -> x * -ln(x / CAST(nn.n AS DOUBLE)))),
       |             (a, b) -> a + b)
       |           / CAST(nn.n AS DOUBLE) * 1e6) AS BIGINT) AS entropy_fp
       |  FROM cc JOIN nn USING (doc_id)
       |  GROUP BY cc.doc_id, nn.n)
       |SELECT d.doc_id,
       |       CAST(len(nm.t) AS BIGINT) AS n_chars,
       |       e.entropy_fp,
       |       coalesce(e.entropy_fp >= $loFp AND e.entropy_fp <= $hiFp,
       |         FALSE) AS entropy_ok
       |FROM documents d
       |JOIN norm nm USING (doc_id)
       |LEFT JOIN ef e USING (doc_id)""".stripMargin

  /** q179/q180's html-wrapping plant (the q42/q164 planting precedent
    * — the synthetic corpus carries no markup, and an extractor gated
    * on tag-free text would prove nothing): script with <, >, && and
    * quotes; style; a comment; an uppercase block closer; every
    * decoded entity incl. the &amp;-last double-escape case.
    */
  private def plantedHtml: Column = concat(
    lit("<html><head><title>T</title><style>p {color: red}</style>" +
      "<script>if (a < b && c > d) { x = \"y\"; }</script></head>" +
      "<body><h1>Doc "),
    col("doc_id").cast("string"),
    lit("</h1><!-- hidden --><p>"), col("text"),
    lit("</p><P>A &amp; B &lt;tag&gt; &quot;q&quot;" +
      " &#39;s&#39;&nbsp;end</P></body></html>"))

  /** HTML → text extraction ([[graft.text.TextAnalysis.htmlToText]])
    * over the planted wrapping of every document — the crawl-intake
    * step before any other curation stage. Map-only, zero shuffle;
    * the oracle replays the identical regexp chain in DuckDB.
    */
  private def q179(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      graft.text.TextAnalysis.htmlToText(plantedHtml).as("extracted"))

  /** Streaming twin of q179 — the ingest-time extraction pass:
    * stateless map-only expressions over the document stream (the
    * q157 map-only-twin pattern), sharing q179's oracle verbatim.
    */
  private def q180(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      StreamingPrep.streamDocuments(s, dir).select(col("doc_id"),
        graft.text.TextAnalysis.htmlToText(plantedHtml).as("extracted")))

  private def q179Sql: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    '<html><head><title>T</title><style>p {color: red}</style><script>if (a < b && c > d) { x = "y"; }</script></head><body><h1>Doc '
       |      || CAST(doc_id AS VARCHAR)
       |      || '</h1><!-- hidden --><p>' || text
       |      || '</p><P>A &amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</P></body></html>'
       |      AS html
       |  FROM documents),
       |x1 AS (SELECT doc_id, regexp_replace(html,
       |         '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
       |x2 AS (SELECT doc_id, regexp_replace(t,
       |         '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g') AS t FROM x1),
       |x3 AS (SELECT doc_id, regexp_replace(t,
       |         '(?s)<!--.*?-->', ' ', 'g') AS t FROM x2),
       |x4 AS (SELECT doc_id, regexp_replace(t,
       |         '(?i)<(?:br\\s*/?|/p|/div|/li|/h[1-6]|/tr|/table|/ul|/ol|/blockquote|/title|/header|/section|/article)\\s*>',
       |         chr(10), 'g') AS t FROM x3),
       |x5 AS (SELECT doc_id, regexp_replace(t,
       |         '(?s)<[^>]*>', ' ', 'g') AS t FROM x4),
       |x6 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
       |         '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |         '&#39;', ''''), '&amp;', '&') AS t FROM x5),
       |x7 AS (SELECT doc_id, regexp_replace(t,
       |         '[ \\t\\f\\r]+', ' ', 'g') AS t FROM x6),
       |x8 AS (SELECT doc_id, regexp_replace(t,
       |         '[ ]*\\n[\\n ]*', chr(10), 'g') AS t FROM x7)
       |SELECT doc_id, regexp_replace(t, '^[\\n ]+|[\\n ]+$$', '', 'g')
       |         AS extracted
       |FROM x8""".stripMargin

  /** Gopher-rule heuristic quality gates
    * ([[graft.text.Quality.gopherGates]]): per-doc rule booleans +
    * keep, all-integer arithmetic so the whole report hash-gates.
    * Thresholds adapted to the synthetic corpus (docs are 25–70
    * words: minWords 30 splits it; stop words "the"/"a" are the two
    * English function words in its vocabulary).
    */
  private def q156(s: SparkSession, dir: String): DataFrame =
    graft.text.Quality.gopherGates(
      Tables.documents(s, dir), "doc_id", "text",
      minWords = 30, stopWords = Seq("the", "a"), minStopWords = 2)

  private def q156Sql(minWords: Int = 30): String =
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(
       |      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |      w -> length(w) > 0) AS ws,
       |    string_split(text, chr(10)) AS lns
       |  FROM documents),
       |st AS (
       |  SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(COALESCE(list_aggregate(
       |      list_transform(ws, w -> length(w)), 'sum'), 0) AS BIGINT)
       |      AS n_chars,
       |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
       |      AS BIGINT) AS n_alpha,
       |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
       |      + CAST((length(text) - length(replace(text, '...', ''))) // 3
       |          AS BIGINT)
       |      + CAST(length(text) - length(replace(text, '…', '')) AS BIGINT)
       |      AS n_symbols,
       |    CAST(len(lns) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(lns, l -> regexp_matches(l, '^\\s*[-*•]')))
       |      AS BIGINT) AS n_bullet,
       |    CAST(len(list_filter(lns,
       |      l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS BIGINT) AS n_ell,
       |    CAST(list_contains(ws, 'the') AS INT)
       |      + CAST(list_contains(ws, 'a') AS INT) AS stop_hits
       |  FROM base)
       |SELECT doc_id, n_words,
       |  (n_words >= $minWords AND n_words <= 100000) AS ok_words,
       |  (3 * n_words <= n_chars AND n_chars <= 10 * n_words) AS ok_word_len,
       |  (10 * n_symbols <= n_words) AS ok_symbols,
       |  (10 * n_bullet <= 9 * n_lines) AS ok_bullets,
       |  (10 * n_ell <= 3 * n_lines) AS ok_ellipsis,
       |  (5 * n_alpha >= 4 * n_words) AS ok_alpha,
       |  (stop_hits >= 2) AS ok_stop,
       |  (n_words >= $minWords AND n_words <= 100000
       |    AND 3 * n_words <= n_chars AND n_chars <= 10 * n_words
       |    AND 10 * n_symbols <= n_words
       |    AND 10 * n_bullet <= 9 * n_lines
       |    AND 10 * n_ell <= 3 * n_lines
       |    AND 5 * n_alpha >= 4 * n_words
       |    AND stop_hits >= 2) AS keep
       |FROM st""".stripMargin

  /** Gate funnel over the q156 Gopher rule stack
    * ([[graft.text.Quality.gateFunnel]]): per rule in priority order,
    * outright fails, marginal first-kills and survivors — the
    * attrition report ("which gate costs me most data") as ONE
    * conditional-sum aggregation unpivoted to |rules| rows.
    */
  private def q213(s: SparkSession, dir: String): DataFrame =
    graft.text.Quality.gateFunnel(
      graft.text.Quality.gopherGates(
        Tables.documents(s, dir), "doc_id", "text",
        minWords = 30, stopWords = Seq("the", "a"), minStopWords = 2),
      q213Rules)

  private val q213Rules = Seq("ok_words", "ok_word_len", "ok_symbols",
    "ok_bullets", "ok_ellipsis", "ok_alpha", "ok_stop")

  /** [[graft.text.Quality.gateFunnel]]'s DuckDB replay over any gates
    * SQL: the same conditional sums (NULL-as-fail), unpivoted via
    * UNION ALL. Shared by q213 (Gopher stack) and q214 (cross-family
    * composition).
    */
  private def funnelSql(gatesSql: String, rules: Seq[String]): String = {
    val metrics = rules.zipWithIndex.map { case (rc, i) =>
      val prev = rules.take(i)
        .map(p => s"coalesce($p, FALSE)").mkString(" AND ")
      val prevPass = if (prev.isEmpty) "TRUE" else prev
      s"""count(*) FILTER (WHERE NOT coalesce($rc, FALSE)) AS ft_$i,
         |  count(*) FILTER (WHERE ($prevPass) AND NOT coalesce($rc, FALSE)) AS ff_$i,
         |  count(*) FILTER (WHERE ($prevPass) AND coalesce($rc, FALSE)) AS sv_$i""".stripMargin
    }.mkString(",\n  ")
    val rows = rules.zipWithIndex.map { case (rc, i) =>
      s"""SELECT CAST($i AS BIGINT) AS stage, '$rc' AS rule,
         |       ft_$i AS n_fail_total, ff_$i AS n_first_fail,
         |       sv_$i AS survivors_after FROM one""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH gates AS ($gatesSql),
       |one AS (SELECT
       |  $metrics
       |FROM gates)
       |$rows""".stripMargin
  }

  private def q213Sql(): String = funnelSql(q156Sql(), q213Rules)

  /** Cross-family attribute composition (the Dolma tagger shape):
    * Gopher length/stopword rules + the q201 entropy band + a
    * language-match verdict under the q199 frozen profiles, joined
    * into ONE attribute frame and funneled in priority order — the
    * full-stack attrition report. Each verdict family keeps its own
    * oracle-gated kernel; this gate proves the COMPOSITION.
    */
  private def q214(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val g = graft.text.Quality.gopherGates(docs, "doc_id", "text",
        minWords = 30, stopWords = Seq("the", "a"), minStopWords = 2)
      .select("doc_id", "ok_words", "ok_stop")
    val e = graft.text.TextAnalysis.entropyGate(docs, "doc_id", "text",
        q201Lo, q201Hi)
      .select("doc_id", "entropy_ok")
    val p = graft.text.LangId.trainProfiles(
      docs.filter(col("doc_id") % 2 === 0), "text", "lang", topN = 256)
    val l = graft.text.LangId.classify(docs, "doc_id", "text", p)
      .select("doc_id", "lang_pred")
    val attrs = g.join(e, "doc_id").join(l, "doc_id")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("ok_lang", col("lang_pred") === col("lang"))
    graft.text.Quality.gateFunnel(attrs, q214Rules)
  }

  private val q214Rules =
    Seq("ok_words", "ok_stop", "entropy_ok", "ok_lang")

  /** Manifest diff ([[graft.pipeline.Examples.manifestDiff]]): the
    * incremental-export validation — a base manifest (the doc_id%7≠0
    * slice) against the full corpus; the xor checksums localize the
    * drift per shard without re-reading either export.
    */
  private def q215(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.pipeline.Examples.manifestDiff(
      graft.pipeline.Examples.shardManifest(
        docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", nShards = 8),
      graft.pipeline.Examples.shardManifest(
        docs, "doc_id", "text", nShards = 8))
  }

  /** PMI collocation mining ([[graft.text.BigramLm.collocations]]):
    * phrase/boilerplate association scores from the q211 frozen
    * counts — a pure function of the model, |bigrams| artifact rows;
    * the oracle re-derives the counts and replays the ln chain.
    */
  private def q216(s: SparkSession, dir: String): DataFrame = {
    val m = graft.text.BigramLm.train(
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 0), "text")
    graft.text.BigramLm.collocations(s, m)
  }

  /** Incremental connected components
    * ([[graft.dedup.Dedup.clustersStarIncremental]]): q202's labeling
    * re-derived as a two-slice FOLD — label the even-hash half of the
    * near-dup pairs first, then fold the odd-hash half into that
    * existing labeling without re-deriving the old pairs. Min-label
    * closure is associative over edge unions, so the fold equals the
    * full recompute exactly — which is what sharing q202's
    * recursive-CTE oracle proves. The cluster-level member of the
    * incremental dedup family (pairs fold via `dedupAgainstIndex`;
    * labels fold here).
    */
  private def q217(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.dedup.Dedup.minHashPairs(docsWithNearDups(s, dir),
      "doc_id", "text", shingleK = 5, bands = 16, rowsPerBand = 4,
      threshold = 0.5).localCheckpoint(true)
    val parity = pmod(xxhash64(col("id_a"), col("id_b")), lit(2L))
    val labels = graft.dedup.Dedup.clustersStar(pairs.filter(parity === 0))
    graft.dedup.Dedup.clustersStarIncremental(labels,
        pairs.filter(parity === 1))
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** Streaming twin of q217 — the labels TABLE fold: near-dup pairs
    * arrive as ordered micro-batches (the q95 staging) and foreachBatch
    * folds each batch into a persistent (id, cluster_id) catalog table
    * via [[graft.dedup.Dedup.clustersStarIncremental]] — the previous
    * labeling re-enters as |ids| star edges, so the per-batch work is
    * O(labels + batch) with O(1) star rounds on the mostly-star graph,
    * never a re-derivation of old pairs. Fold associativity makes the
    * final table equal the batch recompute over all pairs: shares
    * q202's oracle verbatim (the q212 merge-commutativity pattern).
    */
  private def q218(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val pairs = graft.dedup.Dedup.minHashPairs(docsWithNearDups(s, dir),
      "doc_id", "text", shingleK = 5, bands = 16, rowsPerBand = 4,
      threshold = 0.5).select("id_a", "id_b").localCheckpoint(true)
    val parity = pmod(xxhash64(col("id_a"), col("id_b")), lit(2L))
    val stream = stageOrderedBatches(s, scratchDir("stream_cc_labels"),
      StructType(Seq(
        StructField("id_a", LongType), StructField("id_b", LongType))),
      Seq(pairs.filter(parity === 0), pairs.filter(parity === 1)))
    val tbl = s"graft_cc_labels_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // q95 discipline: read AND write through the stream's clone
        // session; clustersStar* returns an EAGER localCheckpoint, so
        // the new labeling is decoupled from the table before the
        // overwrite rewrites it
        val bs = batch.sparkSession
        val b = batch.localCheckpoint(true)
        val next =
          if (!bs.catalog.tableExists(tbl))
            graft.dedup.Dedup.clustersStar(b)
          else graft.dedup.Dedup.clustersStarIncremental(bs.table(tbl), b)
        next.write.format("parquet").mode("overwrite").saveAsTable(tbl)
        ()
      }.start()
    try q.processAllAvailable()
    finally q.stop()
    import s.implicits._
    val out =
      try {
        s.catalog.refreshTable(tbl)
        s.table(tbl).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
    out.toDF("doc_id", "cluster_id")
  }

  /** One-call training-data export
    * ([[graft.pipeline.Pipelines.exportTrainingData]]): default-config
    * curation (scrub → quality/repetition gates → decontaminate →
    * exact dedup → pack) composed with the deterministic export layer,
    * gated on the MANIFEST — per-shard doc/token counts + xor content
    * checksums over the CURATED corpus, so the oracle re-derives the
    * survivor set AND validates the export in one chain (q206's
    * manifest SQL over the q170-class curation fragments).
    */
  private def q219(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val benchmark = docs.filter(col("doc_id") % 10 === 0)
      .select(regexp_replace(col("text"), " ", "  ").as("text"))
    val res = Pipelines.exportTrainingData(docs, benchmark, nShards = 8)
    val out = res.manifest.localCheckpoint()
    res.release()
    out
  }

  /** The default-config curated corpus as (doc_id, text) — q170's
    * fragment chain (scrub → quality/repetition gates → decontaminate
    * → exact keep-first dedup; no classifier/paragraph/fluency/DSIR/
    * semantic/mixture stages) KEEPING the scrubbed text, which is what
    * [[graft.pipeline.Pipelines.exportTrainingData]] shards and
    * manifests. Feeds q206's manifest SQL as `docsSrc`.
    */
  /** The default-config scrub→gate chain (sc1 … `gated(doc_id, text)`)
    * shared by [[q219CuratedSql]] and the q268 surgical variant. No
    * leading WITH; splice after one.
    */
  private def q219GatedCtes: String =
    s"""sc1 AS (
       |  SELECT doc_id,
       |    regexp_replace(text,
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
       |      '<EMAIL>', 'g') AS t1
       |  FROM documents),
       |sc2 AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(t1,
       |      '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
       |      '<IP>', 'g'),
       |      '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g') AS text
       |  FROM sc1),
       |pr0 AS (
       |  SELECT doc_id, text,
       |    regexp_split_to_array(trim(text), '\\s+') AS ws,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS wsl,
       |    list_filter(regexp_split_to_array(
       |      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |      x -> x <> '') AS wn
       |  FROM sc2),
       |wc AS (SELECT doc_id, w, count(*) AS c
       |       FROM (SELECT doc_id, unnest(wn) AS w FROM pr0) GROUP BY 1, 2),
       |rep AS (SELECT doc_id, max(c) AS top_word, sum(c) AS n_words
       |        FROM wc GROUP BY 1),
       |feat AS (
       |  SELECT p.doc_id, p.text,
       |    CAST(len(p.ws) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(p.text) = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE len(regexp_replace(p.text, '[^.!?,;:]', '', 'g'))
       |              / CAST(len(p.text) AS DOUBLE) END AS pr,
       |    len(list_filter(p.wsl, x -> list_contains(
       |      ['the','a','an','and','or','of','to','in','is','it'], x)))
       |      / CAST(len(p.ws) AS DOUBLE) AS sr,
       |    r.top_word, r.n_words
       |  FROM pr0 p LEFT JOIN rep r USING (doc_id)),
       |gated AS (
       |  SELECT doc_id, text
       |  FROM feat
       |  WHERE least(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE))
       |          * (CAST(1.0 AS DOUBLE) - pr) * (CAST(0.5 AS DOUBLE) + sr) > 0.3
       |    AND n_words > 0
       |    AND CAST(top_word AS DOUBLE) / n_words <= 0.5)""".stripMargin

  private def q219CuratedSql: String =
    "WITH " + q219GatedCtes + ",\n" +
    s"""bmk AS (
       |  SELECT DISTINCT md5(trim(regexp_replace(
       |    lower(replace(text, ' ', '  ')), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents WHERE doc_id % 10 = 0),
       |cleaned AS (
       |  SELECT doc_id, text,
       |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM gated g
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM bmk
       |    WHERE bmk.fp = md5(trim(regexp_replace(lower(g.text), '\\s+', ' ', 'g'))))),
       |ddp AS (
       |  SELECT doc_id, text,
       |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
       |  FROM cleaned)
       |SELECT doc_id, text FROM ddp WHERE rk = 1""".stripMargin

  /** q214's cross-family funnel EXTENDED with the bigram-LM perplexity
    * gate ([[graft.text.BigramLm.perplexity]] under the q211 frozen
    * counts): Gopher + entropy + langid + bigram fluency composed into
    * one attribute frame and funneled — the full Dolma-tagger stack
    * with the CCNet-style LM member included. `ok_ppl` passes head/
    * middle buckets and unscorable docs (< 2 words — nothing to judge,
    * the conservative-pass read the fluency tiers use too).
    */
  private def q220(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val g = graft.text.Quality.gopherGates(docs, "doc_id", "text",
        minWords = 30, stopWords = Seq("the", "a"), minStopWords = 2)
      .select("doc_id", "ok_words", "ok_stop")
    val e = graft.text.TextAnalysis.entropyGate(docs, "doc_id", "text",
        q201Lo, q201Hi)
      .select("doc_id", "entropy_ok")
    val p = graft.text.LangId.trainProfiles(
      docs.filter(col("doc_id") % 2 === 0), "text", "lang", topN = 256)
    val l = graft.text.LangId.classify(docs, "doc_id", "text", p)
      .select("doc_id", "lang_pred")
    val m = graft.text.BigramLm.train(
      docs.filter(col("doc_id") % 2 === 0), "text")
    val b = graft.text.BigramLm.perplexity(docs, "doc_id", "text", m,
        q211Head, q211Mid)
      .select("doc_id", "ppl_bucket")
    val attrs = g.join(e, "doc_id").join(l, "doc_id").join(b, "doc_id")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("ok_lang", col("lang_pred") === col("lang"))
      .withColumn("ok_ppl", col("ppl_bucket") =!= lit("tail"))
    graft.text.Quality.gateFunnel(attrs, q220Rules)
  }

  private val q220Rules =
    Seq("ok_words", "ok_stop", "entropy_ok", "ok_lang", "ok_ppl")

  private def q220Sql(): String = funnelSql(
    s"""SELECT g.doc_id, g.ok_words, g.ok_stop, e.entropy_ok,
       |       (l.lang_pred = d.lang) AS ok_lang,
       |       (b.ppl_bucket <> 'tail') AS ok_ppl
       |FROM (${q156Sql()}) g
       |JOIN (${q201Sql(q201Lo, q201Hi)}) e USING (doc_id)
       |JOIN (${q199Sql()}) l USING (doc_id)
       |JOIN (${graft.oracle.BigramLmOracles.q211Sql(
              headBelowFp = q211Head, midBelowFp = q211Mid)}) b USING (doc_id)
       |JOIN documents d USING (doc_id)""".stripMargin,
    q220Rules)

  /** q220's cross-family funnel with the KNESER–NEY scorer
    * ([[graft.text.BigramLm.kneserNeyPerplexity]], q222's lifecycle)
    * as the drop-in fluency member instead of the interpolated
    * bigram LM — the funnel treats any (doc_id, bucket) scorer as a
    * member, so the modern-smoothing variant composes without
    * touching the other gates. Same rules, same attrition semantics.
    */
  private def q254(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val g = graft.text.Quality.gopherGates(docs, "doc_id", "text",
        minWords = 30, stopWords = Seq("the", "a"), minStopWords = 2)
      .select("doc_id", "ok_words", "ok_stop")
    val e = graft.text.TextAnalysis.entropyGate(docs, "doc_id", "text",
        q201Lo, q201Hi)
      .select("doc_id", "entropy_ok")
    val p = graft.text.LangId.trainProfiles(
      docs.filter(col("doc_id") % 2 === 0), "text", "lang", topN = 256)
    val l = graft.text.LangId.classify(docs, "doc_id", "text", p)
      .select("doc_id", "lang_pred")
    val m = graft.text.BigramLm.train(
      docs.filter(col("doc_id") % 2 === 0), "text")
    val b = graft.text.BigramLm.kneserNeyPerplexity(docs, "doc_id",
        "text", m, headBelowFp = q222Head, midBelowFp = q222Mid)
      .select("doc_id", "ppl_bucket")
    val attrs = g.join(e, "doc_id").join(l, "doc_id").join(b, "doc_id")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("ok_lang", col("lang_pred") === col("lang"))
      .withColumn("ok_ppl", col("ppl_bucket") =!= lit("tail"))
    graft.text.Quality.gateFunnel(attrs, q220Rules)
  }

  private def q254Sql(): String = funnelSql(
    s"""SELECT g.doc_id, g.ok_words, g.ok_stop, e.entropy_ok,
       |       (l.lang_pred = d.lang) AS ok_lang,
       |       (b.ppl_bucket <> 'tail') AS ok_ppl
       |FROM (${q156Sql()}) g
       |JOIN (${q201Sql(q201Lo, q201Hi)}) e USING (doc_id)
       |JOIN (${q199Sql()}) l USING (doc_id)
       |JOIN (${graft.oracle.BigramLmOracles.q222Sql(
              headBelowFp = q222Head, midBelowFp = q222Mid)}) b USING (doc_id)
       |JOIN documents d USING (doc_id)""".stripMargin,
    q220Rules)

  /** Streaming per-domain admission quota
    * ([[graft.streaming.StreamingCuration.domainCapStream]]): the
    * ingest-time face of q116's domain cap — at most 30 docs per
    * registrable domain across the stream's lifetime, state = one
    * long per domain. Two ordered micro-batches (the q95 staging);
    * within-batch admission uses the batch cap's deterministic
    * (md5(seed|id), id) order, so the admitted set is a pure function
    * of the split and the oracle replays batch-then-quota exactly.
    */
  private def q221(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = Tables.documents(s, dir)
      .withColumn("url", concat(lit("http://"), col("source"),
        expr("(doc_id div 2) % 5").cast("string"), lit(".com/d/"),
        expr("doc_id div 2").cast("string")))
      .select("doc_id", "url")
    val stream = stageOrderedBatches(s, scratchDir("stream_domain_cap"),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("url", StringType))),
      midpointHalves(docs))
    StreamingPrep.runToMemory(
      graft.streaming.StreamingCuration.domainCapStream(
        stream, "doc_id", "url", cap = 30))
  }

  private def q221Sql(cap: Int = 30): String =
    s"""WITH du AS (
       |  SELECT doc_id,
       |         'http://' || source || CAST((doc_id // 2) % 5 AS VARCHAR)
       |           || '.com/d/' || CAST(doc_id // 2 AS VARCHAR) AS url,
       |         CASE WHEN doc_id <
       |             (SELECT quantile_disc(doc_id, 0.5) FROM documents)
       |           THEN 0 ELSE 1 END AS b
       |  FROM documents),
       |dom AS (
       |  SELECT doc_id, b,
       |         regexp_extract(substr(url, 8), '^[^/?]*') AS domain,
       |         md5('42|' || CAST(doc_id AS VARCHAR)) AS ord
       |  FROM du),
       |r1 AS (
       |  SELECT domain, doc_id,
       |         row_number() OVER (PARTITION BY domain
       |           ORDER BY ord, doc_id) AS rn
       |  FROM dom WHERE b = 0),
       |a1 AS (SELECT domain, doc_id FROM r1 WHERE rn <= $cap),
       |c1 AS (SELECT domain, count(*) AS taken FROM a1 GROUP BY 1),
       |r2 AS (
       |  SELECT d.domain, d.doc_id, coalesce(c1.taken, 0) AS taken,
       |         row_number() OVER (PARTITION BY d.domain
       |           ORDER BY d.ord, d.doc_id) AS rn
       |  FROM dom d LEFT JOIN c1 USING (domain) WHERE d.b = 1)
       |SELECT domain, doc_id FROM a1
       |UNION ALL
       |SELECT domain, doc_id FROM r2 WHERE rn <= $cap - taken""".stripMargin

  /** Interpolated Kneser–Ney perplexity bucketing
    * ([[graft.text.BigramLm.kneserNeyPerplexity]]): the production LM
    * smoothing (KenLM's default) under the SAME frozen q211 counts —
    * discounted bigram mass redistributed by continuation probability.
    * The oracle re-derives the continuation/left fan-outs from the
    * retained bigram table and replays the discount chain per term.
    */
  private def q222(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val m = graft.text.BigramLm.train(
      docs.filter(col("doc_id") % 2 === 0), "text")
    graft.text.BigramLm.kneserNeyPerplexity(docs, "doc_id", "text", m,
      headBelowFp = q222Head, midBelowFp = q222Mid)
  }

  /** q222's frozen bucket thresholds (1e6-fixed-point nats), chosen so
    * the synthetic corpus populates all three buckets at every sf. */
  private val q222Head = 3480000L
  private val q222Mid = 3550000L

  /** Sliding token-window chunking
    * ([[graft.pipeline.Examples.chunkDocuments]]): 12-token windows
    * every 8 tokens (overlapping — the RAG/pretrain context-prep
    * shape). Map-only slice expressions; the oracle replays the grid
    * and slices in DuckDB.
    */
  private def q223(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Examples.chunkDocuments(Tables.documents(s, dir),
      "doc_id", "text", chunkTokens = 12, stride = 8)

  private def q223Sql(chunkTokens: Int = 12, stride: Int = 8): String = {
    val wordsExpr = """list_filter(string_split_regex(trim(trim(""" +
      """regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))), """ +
      """'\s+'), x -> len(x) > 0)"""
    s"""WITH ws AS (
       |  SELECT doc_id, $wordsExpr AS w FROM documents),
       |grid AS (
       |  SELECT doc_id, w, CAST(s AS BIGINT) AS s
       |  FROM (SELECT doc_id, w, unnest(range(0, len(w), $stride)) AS s
       |        FROM ws WHERE len(w) > 0))
       |SELECT doc_id,
       |       CAST(s // $stride AS BIGINT) AS chunk_id,
       |       s AS begin_tok,
       |       CAST(least($chunkTokens, len(w) - s) AS BIGINT) AS n_tok,
       |       array_to_string(
       |         list_slice(w, CAST(s + 1 AS INT),
       |           CAST(s + $chunkTokens AS INT)), ' ') AS chunk_text
       |FROM grid""".stripMargin
  }

  /** Streaming twin of q223 — ingest-time chunking: pure slice
    * expressions, stateless per micro-batch (the q157/q180 map-only
    * pattern), identical rows, shares q223's oracle verbatim.
    */
  private def q227(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      graft.pipeline.Examples.chunkDocuments(
        StreamingPrep.streamDocuments(s, dir), "doc_id", "text",
        chunkTokens = 12, stride = 8))

  /** Streaming twin of q225 — the PAN audit at ingest: map-only
    * regex + Luhn fold, stateless per micro-batch, shares q225's
    * oracle verbatim (same planted corpus on the stream).
    */
  private def q228(s: SparkSession, dir: String): DataFrame = {
    val planted = StreamingPrep.streamDocuments(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(" card 4111-1111-1111-1111 ref "),
            lpad(((col("doc_id") * 7919L) % 10000000000000000L)
              .cast("string"), 16, "0")))
          .otherwise(col("text")).as("text"))
    StreamingPrep.runToMemory(
      graft.text.TextAnalysis.creditCardExposure(planted, "doc_id", "text"))
  }

  /** Cross-corpus LSH containment decontamination
    * ([[graft.dedup.Dedup.containmentPairs]]): a benchmark quoted
    * INSIDE a larger document has high containment but low Jaccard —
    * the asymmetric member of the near-dup family. Planted: the
    * benchmark is the first-half words of every tenth doc (ids offset
    * +500000), so every planted pair has containment ≈ 1 at Jaccard
    * ≈ 0.5. The oracle replays the shared signature/band chain and
    * the exact containment verify.
    */
  private def q229(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    Dedup.containmentPairs(docs, "doc_id", "text",
      bench, "bench_id", "text",
      shingleK = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
  }

  /** Winnowing fingerprints
    * ([[graft.text.TextAnalysis.winnowFingerprints]]): the MOSS local
    * fingerprinting scheme — per-window rightmost-min k-gram hashes,
    * the "which region is shared" primitive whole-doc fingerprints
    * lack. The oracle re-derives the gram hashes via DuckDbXxHash and
    * replays the window argmin fold struct-for-struct.
    */
  private def q230(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.winnowFingerprints(Tables.documents(s, dir),
      "doc_id", "text", k = 5, w = 4)

  private def q230Sql(k: Int = 5, w: Int = 4): String =
    winnowFpSql("documents", k, w)

  /** The winnowing-fingerprint derivation of [[q230Sql]] over an
    * arbitrary source relation (must expose `doc_id, text`) — shared
    * by q230 and q251's corpus∪benchmark union so the two gates can
    * never drift.
    */
  private def winnowFpSql(srcRel: String, k: Int, w: Int): String =
    s"""WITH norm AS (
       |  SELECT doc_id, trim(regexp_replace(lower(coalesce(text, '')),
       |       '\\s+', ' ', 'g')) AS t
       |  FROM $srcRel),
       |""".stripMargin + winnowFpCoreSql(k, w)
    // concatenated, never re-stripped: the core is already
    // stripMargin'd (the one-strip rule — a second pass eats the
    // first bar of any line-leading `||`)

  /** The gram-hash/window-selection chain of [[winnowFpSql]] over an
    * ALREADY-NORMALIZED relation named `norm` (must expose
    * `doc_id, t`) — the raw-coordinate oracle builds `norm` from its
    * own token map (so token positions and fingerprint positions come
    * from one construction) and splices this in; [[winnowFpSql]]
    * prepends the canonical normalizer. One chain, two entries — the
    * two oracles can never drift.
    */
  private def winnowFpCoreSql(k: Int, w: Int): String =
    s"""gm AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i,
       |         substr(t, CAST(i AS INT), $k) AS g
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - $k + 2)) AS i
       |        FROM norm WHERE len(t) >= $k)),
       |dg AS (SELECT DISTINCT 'wfp:' || g AS s FROM gm),
       |${graft.oracle.DuckDbXxHash.xxh64Ctes("dg", "s", "gh",
            idCols = "s AS ids")},
       |gmh AS (
       |  SELECT gm.doc_id, gm.i,
       |         CAST(${graft.oracle.DuckDbXxHash.signedSql("gh.h64")}
       |           AS BIGINT) AS h
       |  FROM gm JOIN gh ON gh.s = 'wfp:' || gm.g),
       |hl AS MATERIALIZED (
       |  SELECT doc_id, list(h ORDER BY i) AS hs, count(*) AS n
       |  FROM gmh GROUP BY 1),
       |selw AS (
       |  SELECT doc_id,
       |    unnest(list_transform(
       |      range(1, greatest(CAST(n AS INT) - ${w - 1}, 1) + 1),
       |      s -> list_reduce(
       |        list_prepend({'h': CAST(9223372036854775807 AS BIGINT),
       |                      'p': CAST(-1 AS BIGINT)},
       |          list_transform(range(CAST(s AS INT),
       |              least(CAST(s AS INT) + $w, CAST(n AS INT) + 1)),
       |            j -> {'h': hs[CAST(j AS INT)],
       |                  'p': CAST(j AS BIGINT)})),
       |        (acc, x) -> CASE WHEN x.h <= acc.h THEN x
       |                         ELSE acc END))) AS sel
       |  FROM hl)
       |SELECT DISTINCT doc_id, sel.p AS pos, sel.h AS fp FROM selw""".stripMargin

  /** Streaming twin of q229 — containment decontamination at ingest:
    * every verdict depends only on the arriving document and the
    * FROZEN benchmark side, so each micro-batch runs the batch
    * operator verbatim (the q181 frozen-static-side pattern) and the
    * union over any split equals the batch run — shares q229's
    * oracle. Per-batch plan: batch-side shingle/sig/band + the
    * static benchmark bands, candidates joined and verified within
    * the batch only.
    */
  private def q231(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
      .localCheckpoint(true)
    val stream = StreamingPrep.streamDocuments(s, dir)
      .select("doc_id", "text")
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double)]
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf ++= Dedup.containmentPairs(b.localCheckpoint(true),
            "doc_id", "text", bench, "bench_id", "text",
            shingleK = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        ()
      }.start()
    try q.processAllAvailable()
    finally q.stop()
    import s.implicits._
    buf.toSeq.toDF("doc_id", "bench_id", "containment")
  }

  /** Streaming twin of q251 — the MOSS span report at ingest: every
    * (doc, bench) row depends only on the arriving document's
    * fingerprints and the FROZEN benchmark side (a doc's fingerprints
    * all ride one micro-batch, so the per-pair group-by never spans
    * batches), so each batch runs [[graft.dedup.Dedup.winnowMatches]]
    * verbatim (the q231 frozen-static-side pattern) and the union over
    * any split equals the batch run — shares q251's oracle.
    */
  private def q256(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
      .localCheckpoint(true)
    val stream = StreamingPrep.streamDocuments(s, dir)
      .select("doc_id", "text")
    val buf = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long, Long)]
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf ++= Dedup.winnowMatches(b.localCheckpoint(true),
            "doc_id", "text", bench, "bench_id", "text",
            k = 20, w = 8, minSharedFps = 2, maxBenchFpFreq = 64L)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        ()
      }.start()
    try q.processAllAvailable()
    finally q.stop()
    import s.implicits._
    buf.toSeq.toDF("doc_id", "bench_id", "n_shared_fps",
      "doc_lo", "doc_hi", "bench_lo", "bench_hi")
  }

  // ------------------------------------------------- q232+ cleanup ops

  /** The q232/q233 corpus: q97's 15-word chunking with C4-rule variety
    * planted on top (the q179 planted-HTML precedent — the synthetic
    * docs are single-line and punctuation-free, so a line filter gated
    * on them would prove nothing). Per line `(doc_id + i) % 3` appends
    * `.` / `!` / nothing (terminal-punct rule both ways); the natural
    * short last chunk exercises the min-words rule; every 97th doc
    * gets a `lorem ipsum` line and every 89th a `{` line (the two C4
    * page-kill tokens). Pure column algebra — streaming-safe.
    */
  private def c4Plant(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("text"))
    .withColumn("__ws", split(col("text"), " "))
    .withColumn("text", array_join(
      transform(
        sequence(lit(0), ((size(col("__ws")) - 1) / 15).cast("int")),
        i => concat(
          array_join(slice(col("__ws"), i * 15 + 1, lit(15)), " "),
          when((col("doc_id") + i) % 3 === 0, lit("."))
            .when((col("doc_id") + i) % 3 === 1, lit("!"))
            .otherwise(lit("")))),
      "\n"))
    .withColumn("text",
      when(col("doc_id") % 97 === 0,
        concat(col("text"), lit("\nlorem ipsum dolor sit amet.")))
        .otherwise(col("text")))
    .withColumn("text",
      when(col("doc_id") % 89 === 0,
        concat(col("text"), lit("\nif (x) { return x; }")))
        .otherwise(col("text")))
    .drop("__ws")

  /** C4-style line filtering (Raffel et al. 2020;
    * [[graft.text.Quality.c4LineFilter]]) over the planted multi-line
    * corpus: terminal-punctuation + min-words line rules, lorem-ipsum /
    * curly-brace / min-kept-lines page rules — the verdict frame, not
    * just survivors. Map-only, zero shuffle.
    */
  private def q232(s: SparkSession, dir: String): DataFrame =
    graft.text.Quality.c4LineFilter(
      c4Plant(Tables.documents(s, dir)), "doc_id", "text")

  /** Streaming twin of q232 — the ingest-time cleaning pass: stateless
    * map-only expressions over the document stream (the q180 pattern),
    * sharing q232's oracle verbatim.
    */
  private def q233(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      graft.text.Quality.c4LineFilter(
        c4Plant(StreamingPrep.streamDocuments(s, dir)), "doc_id", "text"))

  /** Prototypicality pruning (Sorscher et al. 2022;
    * [[graft.pipeline.Curation.prototypicalityPrune]]) under the q168
    * frozen first-8 centroids: keep the hardest half of every cluster
    * by exact d² hardness rank — the data-pruning sibling of SemDeDup
    * (drop what the model already knows, not just what repeats).
    */
  private def q234(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    graft.pipeline.Curation.prototypicalityPrune(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      centroids, keepNum = 1L, keepDen = 2L)
      .select(col("id").as("vec_id"), col("cluster"), col("d2_fp"),
        col("rank"))
  }

  /** The q235/q236 corpus: a BMP non-ASCII tail (`é漢д1`, built from
    * codepoints so no literal survives source/JSON encoding) appended
    * `doc_id % 7` times — the pure-ASCII synthetic corpus would make a
    * charset gate vacuous. Streaming-safe column algebra.
    */
  private def charsetPlant(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      concat(col("text"),
        // the tail chars ride as Scala \u escapes — Spark SQL's chr()
        // is byte-valued (n % 256), unlike DuckDB's codepoint chr()
        expr("repeat(' \u00e9\u6f22\u04341', CAST(doc_id % 7 AS INT))"))
        .as("text"))

  /** Charset composition + non-ASCII gate
    * ([[graft.text.TextAnalysis.charsetProfile]]): exact printable-
    * ASCII / letter / digit / space / non-ASCII counts and the ≤5 %
    * cross-multiplied keep verdict. Map-only, zero shuffle.
    */
  private def q235(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.charsetProfile(
      charsetPlant(Tables.documents(s, dir)), "doc_id", "text")

  /** Streaming twin of q235 (stateless map-only; shares its oracle). */
  private def q236(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      graft.text.TextAnalysis.charsetProfile(
        charsetPlant(StreamingPrep.streamDocuments(s, dir)),
        "doc_id", "text"))

  /** Unicode NFC normalization
    * ([[graft.functions.UnicodeExpressions.nfc]], a codegen kernel
    * Expression): the corpus re-planted in DECOMPOSED form (every `e`
    * followed by a combining acute, built identically in both engines)
    * recomposes to `é` under NFC — lengths shrink, fingerprints
    * stabilize. Oracle: DuckDB's `nfc_normalize` (same Unicode
    * standard). Map-only, zero shuffle.
    */
  private def q237(s: SparkSession, dir: String): DataFrame =
    // staged selects: plant and NFC each evaluated ONCE per row (the
    // CollapseProject guard keeps multi-referenced non-cheap
    // projections un-inlined \u2014 this is a bench headliner, so the
    // measured cost must be one kernel call, not two)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_replace(col("text"), "e", "e\u0301").as("__p"))
      .select(col("doc_id"), col("__p"),
        graft.functions.UnicodeExpressions.nfc(col("__p")).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        length(col("__p")).cast("long").as("n_planted"),
        length(col("norm_text")).cast("long").as("n_norm"))

  /** ORC sink + scan round-trip (the q09/q94 lake pattern for Spark's
    * second columnar format): documents written as ORC, read back,
    * content-projected — the oracle reads the parquet original, so a
    * hash match proves the ORC round-trip is content-identical.
    */
  private def q238(s: SparkSession, dir: String): DataFrame = {
    val base = s"${scratchDir("orc_roundtrip")}/data"
    Tables.documents(s, dir).write.mode("overwrite").orc(base)
    s.read.orc(base).select(col("doc_id"), col("source"), col("lang"),
      col("n_chars"), md5(col("text")).as("fp"))
  }

  /** The q232/q233 oracle: the same chunk + C4-variety plant as
    * [[c4Plant]], then the line rules (`[.!?"]$` + ≥3 words) and page
    * rules (lorem ipsum / `{` / ≥3 kept lines) replayed with DuckDB
    * list functions.
    */
  /** The [[c4Plant]] replay as a CTE fragment ending in
    * `pl(doc_id, ls)` — shared by the q232/q233 filter oracle and
    * q239's sentence-dedup oracle (which joins the lines back into the
    * planted text).
    */
  private val c4PlantCtes: String =
    """w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
      |ch AS (
      |  SELECT doc_id,
      |         list_transform(range(0, (len(ws)-1)//15 + 1),
      |           i -> array_to_string(ws[i*15+1 : i*15+15], ' ') ||
      |                CASE WHEN (doc_id + i) % 3 = 0 THEN '.'
      |                     WHEN (doc_id + i) % 3 = 1 THEN '!'
      |                     ELSE '' END) AS ls
      |  FROM w),
      |pl AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 89 = 0
      |              THEN list_append(l2, 'if (x) { return x; }')
      |              ELSE l2 END AS ls
      |  FROM (SELECT doc_id,
      |          CASE WHEN doc_id % 97 = 0
      |               THEN list_append(ls, 'lorem ipsum dolor sit amet.')
      |               ELSE ls END AS l2
      |        FROM ch))""".stripMargin

  private val c4FilterSql: String =
    s"""WITH $c4PlantCtes,
      |f AS (
      |  SELECT doc_id, ls,
      |         list_filter(ls, l -> regexp_matches(l, '[.!?"]$$')
      |           AND len(list_filter(str_split(trim(l), ' '),
      |                 t -> len(t) > 0)) >= 3) AS kept
      |  FROM pl)
      |SELECT doc_id,
      |       coalesce(array_to_string(kept, chr(10)), '') AS text_kept,
      |       CAST(len(ls) AS BIGINT) AS n_lines,
      |       CAST(len(kept) AS BIGINT) AS n_kept,
      |       (NOT contains(lower(array_to_string(ls, chr(10))),
      |                     'lorem ipsum'))
      |         AND (NOT contains(array_to_string(ls, chr(10)), '{'))
      |         AND len(kept) >= 3 AS keep_doc
      |FROM f""".stripMargin

  /** The q235/q236 oracle: same chr()-built non-ASCII plant, same
    * literal-range counting idiom, same cross-multiplied ≤5 % gate.
    */
  private val charsetProfileSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    text || repeat(' ' || chr(233) || chr(28450) || chr(1076) || '1',
      |                   CAST(doc_id % 7 AS INT)) AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(length(t) AS BIGINT) AS n_chars,
      |  CAST(length(regexp_replace(t, '[^ -~]', '', 'g')) AS BIGINT)
      |    AS n_ascii,
      |  CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
      |    AS BIGINT) AS n_letter,
      |  CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
      |    AS BIGINT) AS n_digit,
      |  CAST(length(t) - length(regexp_replace(t, ' ', '', 'g'))
      |    AS BIGINT) AS n_space,
      |  CAST(length(regexp_replace(t, '[ -~\t\n\r]', '', 'g'))
      |    AS BIGINT) AS n_nonascii,
      |  coalesce(length(regexp_replace(t, '[ -~\t\n\r]', '', 'g')) * 20
      |    <= length(t) * 1, false) AS keep
      |FROM p""".stripMargin

  /** The q237 oracle: the same decomposed plant (combining acute
    * U+0301 after every `e`), normalized by DuckDB's `nfc_normalize` —
    * both engines implement the Unicode NFC standard.
    */
  private val nfcNormalizeSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |         regexp_replace(text, 'e', 'e' || chr(769), 'g') AS pt
      |  FROM documents)
      |SELECT doc_id,
      |       nfc_normalize(pt) AS norm_text,
      |       CAST(length(pt) AS BIGINT) AS n_planted,
      |       CAST(length(nfc_normalize(pt)) AS BIGINT) AS n_norm
      |FROM p""".stripMargin

  /** The q238 oracle: the parquet original — a hash match proves the
    * ORC write/read round-trip preserved every row.
    */
  private val orcRoundtripSql: String =
    "SELECT doc_id, source, lang, n_chars, md5(text) AS fp FROM documents"

  /** Sentence-level exact dedup ([[graft.dedup.Dedup.sentenceDedup]])
    * over the planted multi-line corpus — the keep-first election one
    * granularity below the q97 line: the plant repeats whole 15-word
    * chunks across near-dup docs, and the sentence splitter sees them
    * as terminal-punctuated sentences.
    */
  private def q239(s: SparkSession, dir: String): DataFrame =
    Dedup.sentenceDedup(c4Plant(Tables.documents(s, dir)),
      "doc_id", "text")

  /** The q239 oracle: the c4 plant joined back to text, the same
    * boundary rewrite (terminal punct + space/newline → U+0001), then
    * q97's normalize / keep-first / reassemble replay at sentence
    * granularity (space-joined).
    */
  private val sentenceDedupSql: String =
    s"""WITH $c4PlantCtes,
      |d AS (SELECT doc_id, array_to_string(ls, chr(10)) AS text FROM pl),
      |sp AS (SELECT doc_id,
      |         str_split(regexp_replace(text, '([.!?])[ \\n]',
      |                     '\\1' || chr(1), 'g'), chr(1)) AS ss
      |       FROM d),
      |p AS (
      |  SELECT doc_id, u.i AS para_no, u.p AS para
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(ss, (x, i) -> {'i': i, 'p': x})) AS u
      |        FROM sp)),
      |t AS (
      |  SELECT doc_id, para_no, para,
      |         trim(para) = '' AS is_empty,
      |         md5(lower(trim(regexp_replace(para, '\\s+', ' ', 'g')))) AS k
      |  FROM p),
      |r AS (
      |  SELECT doc_id, para_no, para,
      |         CASE WHEN is_empty THEN TRUE
      |              ELSE row_number() OVER (PARTITION BY k
      |                     ORDER BY doc_id, para_no) = 1 END AS keep
      |  FROM t)
      |SELECT doc_id,
      |       coalesce(string_agg(CASE WHEN keep THEN para END,
      |                           ' ' ORDER BY para_no), '') AS text,
      |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_kept,
      |       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
      |         AS n_dropped
      |FROM r GROUP BY doc_id""".stripMargin

  /** Per-epoch deterministic reshuffle
    * ([[graft.pipeline.Examples.epochShuffle]]): 3 epochs × 8 shards —
    * every epoch re-orders the full corpus independently under
    * epoch-salted hashes.
    */
  private def q240(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Examples.epochShuffle(Tables.documents(s, dir),
      "doc_id", nEpochs = 3, nShards = 8)

  /** Control-character sanitation
    * ([[graft.text.TextAnalysis.sanitizeControlChars]]) over the
    * corpus with planted C0/DEL bytes (`chr(7)·chr(31)·chr(127)` —
    * all < 128, where Spark's byte-valued `chr` and DuckDB's codepoint
    * `chr` agree — repeated `doc_id % 3` times).
    */
  private def q241(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.sanitizeControlChars(
      ctrlPlant(Tables.documents(s, dir)), "doc_id", "text")

  /** Streaming twin of q241 (stateless map-only; shares its oracle). */
  private def q242(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      graft.text.TextAnalysis.sanitizeControlChars(
        ctrlPlant(StreamingPrep.streamDocuments(s, dir)),
        "doc_id", "text"))

  /** The q241/q242 plant. */
  private def ctrlPlant(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      concat(col("text"),
        expr("repeat(chr(7) || chr(31) || chr(127)," +
          " CAST(doc_id % 3 AS INT))")).as("text"))

  /** One-call intake cleaning ([[graft.pipeline.Pipelines.intakeClean]]:
    * control-strip → NFC → C4 line/page rules) over a corpus planted
    * with all three defects at once — the multi-line c4 plant, every
    * `merge` decomposed (`me` + U+0301 + `rge`), and a C0/DEL tail.
    * Each kernel keeps its own gate (q232/q237/q241); this one proves
    * the COMPOSITION (the q214 cross-family-funnel pattern).
    */
  private def q243(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Pipelines.intakeClean(
      intakePlant(c4Plant(Tables.documents(s, dir))), "doc_id", "text")

  /** The q243/q244/q245 defect plant over an already-c4-planted frame:
    * every `merge` decomposed + a C0/DEL tail. Streaming-safe.
    */
  private def intakePlant(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(regexp_replace(col("text"), "merge", "me\u0301rge"),
        expr("repeat(chr(7) || chr(31) || chr(127)," +
          " CAST(doc_id % 3 AS INT))")).as("text"))

  /** Streaming twin of q243 \u2014 the intake cleaner at ingest: the fused
    * strip\u2192NFC\u2192C4 pass is stateless column algebra, so it runs
    * unchanged per micro-batch (the q180 pattern; shares q243's
    * oracle).
    */
  private def q244(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      graft.pipeline.Pipelines.intakeClean(
        intakePlant(c4Plant(StreamingPrep.streamDocuments(s, dir))),
        "doc_id", "text"))

  /** Per-source intake attrition report \u2014 the q213 funnel shape at the
    * intake stage: one agg over the q243 verdict frame (docs in/kept,
    * kept lines, stripped controls, residual non-ASCII, per source).
    * The ops report a crawl team actually reads.
    */
  private def q245(s: SparkSession, dir: String): DataFrame =
    q243(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep_doc").cast("long")).as("n_keep"),
        sum(col("n_kept")).as("n_lines_kept"),
        sum(col("n_ctrl_removed")).as("n_ctrl_removed"),
        sum(col("n_nonascii")).as("n_nonascii"))

  /** The q243 oracle: the same three plants, then the strip / NFC /
    * line-rule chain replayed stage for stage.
    */
  private val intakeCleanSql: String =
    s"""WITH $c4PlantCtes,
      |d0 AS (SELECT doc_id, array_to_string(ls, chr(10)) AS t0 FROM pl),
      |d1 AS (SELECT doc_id,
      |         regexp_replace(t0, 'merge', 'me' || chr(769) || 'rge', 'g')
      |           || repeat(chr(7) || chr(31) || chr(127),
      |                     CAST(doc_id % 3 AS INT)) AS t1
      |       FROM d0),
      |d2 AS (SELECT doc_id, t1, regexp_replace(t1,
      |         '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g') AS t2
      |       FROM d1),
      |d3 AS (SELECT doc_id, t1, t2, nfc_normalize(t2) AS t3 FROM d2),
      |f AS (SELECT doc_id, t1, t2, t3,
      |        list_filter(string_split_regex(t3, '\r?\n'),
      |          l -> regexp_matches(l, '[.!?"]$$')
      |            AND len(list_filter(str_split(trim(l), ' '),
      |                  t -> len(t) > 0)) >= 3) AS kept
      |      FROM d3)
      |SELECT doc_id,
      |  coalesce(array_to_string(kept, chr(10)), '') AS text_kept,
      |  CAST(length(t1) - length(t2) AS BIGINT) AS n_ctrl_removed,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  (NOT contains(lower(t3), 'lorem ipsum'))
      |    AND (NOT contains(t3, '{'))
      |    AND len(kept) >= 3 AS keep_doc,
      |  CAST(length(coalesce(array_to_string(kept, chr(10)), ''))
      |       - length(regexp_replace(
      |           coalesce(array_to_string(kept, chr(10)), ''),
      |           '[^ -~\\t\\n\\r]', '', 'g')) AS BIGINT) AS n_nonascii
      |FROM f""".stripMargin

  /** Weighted sampling without replacement
    * ([[graft.pipeline.Curation.weightedSample]], Efraimidis–Spirakis):
    * 100 docs drawn ∝ n_chars — the deterministic A-ES key replayed
    * through DuckDbXxHash and DuckDB's `ln`.
    */
  private def q246(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Curation.weightedSample(
      Tables.documents(s, dir).select("doc_id", "n_chars"),
      "doc_id", "n_chars", k = 100)

  private def q246Sql: String = {
    val M = 1L << 20
    s"""WITH wkeys AS (
       |  SELECT doc_id, n_chars AS wt,
       |         'wsr:' || CAST(doc_id AS VARCHAR) AS s
       |  FROM documents WHERE n_chars > 0),
       |${graft.oracle.DuckDbXxHash.xxh64Ctes("wkeys", "s", "wh",
          idCols = "doc_id, wt")},
       |wm AS (SELECT doc_id, wt,
       |         ((${graft.oracle.DuckDbXxHash.signedSql("h64")} % $M)
       |           + $M) % $M AS m
       |       FROM wh),
       |wsc AS (SELECT doc_id, wt,
       |          ln((CAST(m AS DOUBLE) + 0.5) / ${M.toDouble})
       |            / CAST(wt AS DOUBLE) AS key
       |        FROM wm)
       |SELECT doc_id, CAST(wt AS BIGINT) AS weight,
       |       CAST(floor(key * 1000000000000.0) AS BIGINT) AS key_fp
       |FROM wsc
       |ORDER BY key DESC, doc_id
       |LIMIT 100""".stripMargin
  }

  /** Blocklist page gate ([[graft.text.Quality.blocklistGate]] — the
    * remaining C4 page rule) over a corpus with planted blocklist
    * tokens: zero / one / several hits per page.
    */
  private def q247(s: SparkSession, dir: String): DataFrame =
    graft.text.Quality.blocklistGate(
      Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 31 === 0,
          concat(col("text"), lit(" graftbad")))
          .when(col("doc_id") % 37 === 0,
            concat(col("text"), lit(" graftbad graftworse graftbad")))
          .otherwise(col("text")).as("text")),
      "doc_id", "text", Seq("graftbad", "graftworse"))

  private val blocklistSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 31 = 0 THEN text || ' graftbad'
      |         WHEN doc_id % 37 = 0
      |           THEN text || ' graftbad graftworse graftbad'
      |         ELSE text END AS t
      |  FROM documents),
      |n AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(
      |      regexp_split_to_array(
      |        trim(regexp_replace(lower(t), '\s+', ' ', 'g')), '\s+'),
      |      w -> w IN ('graftbad', 'graftworse'))) AS BIGINT) AS n_blocked
      |  FROM p)
      |SELECT doc_id, n_blocked, n_blocked = 0 AS keep FROM n""".stripMargin

  /** Streaming twin of q247 — blocklist gating at ingest: stateless
    * map-only membership per micro-batch (the q180 pattern; shares
    * q247's oracle).
    */
  private def q249(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      graft.text.Quality.blocklistGate(
        StreamingPrep.streamDocuments(s, dir).select(col("doc_id"),
          when(col("doc_id") % 31 === 0,
            concat(col("text"), lit(" graftbad")))
            .when(col("doc_id") % 37 === 0,
              concat(col("text"), lit(" graftbad graftworse graftbad")))
            .otherwise(col("text")).as("text")),
        "doc_id", "text", Seq("graftbad", "graftworse")))

  /** Per-group weighted sampling
    * ([[graft.pipeline.Curation.weightedSamplePerGroup]]): the best 10
    * docs per source drawn ∝ n_chars — balanced A-ES selection, the
    * WindowGroupLimit shape.
    */
  private def q248(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Curation.weightedSamplePerGroup(
      Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", "source", k = 10)

  private def q248Sql: String = {
    val M = 1L << 20
    s"""WITH gkeys AS (
       |  SELECT doc_id, source AS grp, n_chars AS wt,
       |         'wsrg:' || CAST(doc_id AS VARCHAR) AS s
       |  FROM documents WHERE n_chars > 0),
       |${graft.oracle.DuckDbXxHash.xxh64Ctes("gkeys", "s", "gh",
          idCols = "doc_id, grp, wt")},
       |gm AS (SELECT doc_id, grp, wt,
       |         ((${graft.oracle.DuckDbXxHash.signedSql("h64")} % $M)
       |           + $M) % $M AS m
       |       FROM gh),
       |gsc AS (SELECT doc_id, grp, wt,
       |          ln((CAST(m AS DOUBLE) + 0.5) / ${M.toDouble})
       |            / CAST(wt AS DOUBLE) AS key
       |        FROM gm),
       |gr AS (SELECT doc_id, grp, wt, key, row_number() OVER (
       |         PARTITION BY grp ORDER BY key DESC, doc_id) AS rn
       |       FROM gsc)
       |SELECT grp AS source, doc_id, CAST(wt AS BIGINT) AS weight,
       |       CAST(floor(key * 1000000000000.0) AS BIGINT) AS key_fp,
       |       CAST(rn AS INT) AS rank
       |FROM gr WHERE rn <= 10""".stripMargin
  }

  /** Intake-ENABLED curation composition — the q123-pattern gate for
    * [[graft.pipeline.Pipelines.CurationConfig.intakeC4]]: the corpus
    * is the q232 C4-variety plant UNIONed with a byte-twin copy of
    * every doc (a BEL control char + the café suffix in DECOMPOSED
    * form, `e`+U+0301, vs the original's composed U+00E9), then ONE
    * `curateCorpus(intakeC4 = true)` call. Intake hygiene must run
    * BEFORE content keys: strip+NFC collapse each twin pair to one
    * fingerprint, so keep-first dedup keeps exactly the original
    * doc_ids — the survivors, token counts, and pack offsets gate the
    * whole interaction (without intake, every twin would survive and
    * shift every downstream pack offset).
    */
  private def q250(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val base = c4Plant(d).join(d.select("doc_id", "source"), Seq("doc_id"))
    val composed = base.select(col("doc_id"),
      concat(col("text"), lit("\none two caf\u00e9.")).as("text"),
      col("source"))
    val twins = base.select((col("doc_id") + lit(10000000L)).as("doc_id"),
      concat(col("text"), lit("\u0007\none two cafe\u0301.")).as("text"),
      col("source"))
    val benchmark = d.filter(col("doc_id") % 10 === 0)
      .select(regexp_replace(col("text"), " ", "  ").as("text"))
    graft.pipeline.Pipelines.curateCorpus(composed.unionAll(twins),
        benchmark, graft.pipeline.Pipelines.CurationConfig(intakeC4 = true))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("seq_id"), col("seq_offset"))
  }

  /** The q250 oracle: plant (c4PlantCtes + café twins) → intake
    * (strip → nfc_normalize → C4 line/page rules) → the q219 scrub +
    * quality/repetition gate fragments → decontaminate → keep-first
    * dedup → the q82 pack replay, stage for stage.
    */
  private def q250Sql: String =
    s"""WITH $c4PlantCtes,
       |base AS (
       |  SELECT pl.doc_id,
       |         array_to_string(pl.ls, chr(10)) AS btext,
       |         d.source
       |  FROM pl JOIN documents d USING (doc_id)),
       |corpus AS (
       |  SELECT doc_id,
       |         btext || chr(10) || 'one two caf' || chr(233) || '.' AS text,
       |         source
       |  FROM base
       |  UNION ALL
       |  SELECT doc_id + 10000000 AS doc_id,
       |         btext || chr(7) || chr(10) || 'one two cafe' || chr(769)
       |           || '.' AS text,
       |         source
       |  FROM base),
       |ik0 AS (
       |  SELECT doc_id, source,
       |    nfc_normalize(regexp_replace(text,
       |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')) AS ct
       |  FROM corpus),
       |ik1 AS (
       |  SELECT doc_id, source, ct,
       |    list_filter(string_split_regex(ct, '\r?\n'),
       |      l -> regexp_matches(l, '[.!?"]$$')
       |        AND len(list_filter(str_split(trim(l), ' '),
       |              t -> len(t) > 0)) >= 3) AS kept
       |  FROM ik0),
       |intake AS (
       |  SELECT doc_id, source,
       |         coalesce(array_to_string(kept, chr(10)), '') AS text
       |  FROM ik1
       |  WHERE (NOT contains(lower(ct), 'lorem ipsum'))
       |    AND (NOT contains(ct, '{'))
       |    AND len(kept) >= 3),
       |sc1 AS (
       |  SELECT doc_id, source,
       |    regexp_replace(text,
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
       |      '<EMAIL>', 'g') AS t1
       |  FROM intake),
       |sc2 AS (
       |  SELECT doc_id, source,
       |    regexp_replace(regexp_replace(t1,
       |      '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
       |      '<IP>', 'g'),
       |      '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g') AS text
       |  FROM sc1),
       |pr0 AS (
       |  SELECT doc_id, source, text,
       |    regexp_split_to_array(trim(text), '\\s+') AS ws,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS wsl,
       |    list_filter(regexp_split_to_array(
       |      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |      x -> x <> '') AS wn
       |  FROM sc2),
       |wc AS (SELECT doc_id, w, count(*) AS c
       |       FROM (SELECT doc_id, unnest(wn) AS w FROM pr0) GROUP BY 1, 2),
       |rep AS (SELECT doc_id, max(c) AS top_word, sum(c) AS n_words
       |        FROM wc GROUP BY 1),
       |feat AS (
       |  SELECT p.doc_id, p.source, p.text,
       |    CAST(len(p.ws) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(p.text) = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE len(regexp_replace(p.text, '[^.!?,;:]', '', 'g'))
       |              / CAST(len(p.text) AS DOUBLE) END AS pr,
       |    len(list_filter(p.wsl, x -> list_contains(
       |      ['the','a','an','and','or','of','to','in','is','it'], x)))
       |      / CAST(len(p.ws) AS DOUBLE) AS sr,
       |    r.top_word, r.n_words
       |  FROM pr0 p LEFT JOIN rep r USING (doc_id)),
       |gated AS (
       |  SELECT doc_id, source, text, n_tokens
       |  FROM feat
       |  WHERE least(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE))
       |          * (CAST(1.0 AS DOUBLE) - pr) * (CAST(0.5 AS DOUBLE) + sr)
       |          > 0.3
       |    AND n_words > 0
       |    AND CAST(top_word AS DOUBLE) / n_words <= 0.5),
       |bmk AS (
       |  SELECT DISTINCT md5(trim(regexp_replace(
       |    lower(replace(text, ' ', '  ')), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents WHERE doc_id % 10 = 0),
       |cleaned AS (
       |  SELECT doc_id, source, n_tokens,
       |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM gated g
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM bmk
       |    WHERE bmk.fp = md5(trim(regexp_replace(
       |      lower(g.text), '\\s+', ' ', 'g'))))),
       |ddp AS (
       |  SELECT doc_id, source, n_tokens,
       |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
       |  FROM cleaned),
       |srv AS (SELECT doc_id, source, n_tokens FROM ddp WHERE rk = 1),
       |cum AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY source
       |                                  ORDER BY doc_id) AS BIGINT) AS cm
       |  FROM srv)
       |SELECT doc_id, source, n_tokens,
       |       (cm - n_tokens) // 1024 AS seq_id,
       |       (cm - n_tokens) % 1024 AS seq_offset
       |FROM cum""".stripMargin

  /** Winnow-join shared-region localization
    * ([[graft.dedup.Dedup.winnowMatches]], the MOSS report): the q229
    * corpus×benchmark fixture (bench = first-half words of every tenth
    * doc, ids +500000) joined on winnowing fingerprints — per (doc,
    * bench) pair the matched spans in each text and the distinct
    * shared-fingerprint count. k=20 (≈3–4 words of the synthetic
    * vocabulary) keeps accidental gram collisions rare so the report
    * localizes REAL shared regions, not stop-gram noise.
    */
  private def q251(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    Dedup.winnowMatches(docs, "doc_id", "text", bench, "bench_id", "text",
      k = 20, w = 8, minSharedFps = 2, maxBenchFpFreq = 64L)
  }

  /** The q251 oracle: [[winnowFpSql]] over the corpus∪bench union
    * (the q229 union trick — one gram-hash chain), split on the
    * +500000 id plane, bench-side frequency cap, fp equi-join, span
    * hulls + distinct-fp counts.
    */
  /** The corpus∪benchmark union relation of the q251/q256/q257
    * oracles (the q229 fixture: bench = first-half words of every
    * tenth doc, ids +500000).
    */
  /** The benchmark-only branch of [[winnowUnionSrc]] (ids +500000) —
    * the raw-coordinate oracle fingerprints it through its own hash
    * chain (its corpus side needs the token map, so the union trick
    * doesn't apply there).
    */
  private def winnowBenchSrcWhere(pred: String): String =
    s"""(SELECT doc_id + 500000 AS doc_id,
       |         array_to_string(wd[1:greatest(CAST(len(wd) // 2 AS INT),
       |           5)], ' ') AS text
       |  FROM (SELECT doc_id,
       |          string_split_regex(trim(trim(regexp_replace(
       |            lower(text), '\\s+', ' ', 'g'))), '\\s+') AS wd
       |        FROM documents WHERE $pred)) AS b""".stripMargin

  private val winnowBenchSrc: String =
    winnowBenchSrcWhere("doc_id % 10 = 0")

  // concatenated, never re-stripped (the one-strip rule)
  private val winnowUnionSrc: String =
    "(SELECT doc_id, text FROM documents\n" +
      "  UNION ALL\n  SELECT doc_id, text FROM " + winnowBenchSrc +
      ") AS u"

  private def q251Sql(k: Int = 20, w: Int = 8, minShared: Int = 2,
      maxFreq: Int = 64): String = {
    val src = winnowUnionSrc
    s"""WITH fps AS MATERIALIZED (${winnowFpSql(src, k, w)}),
       |dfp AS (SELECT doc_id, pos, fp FROM fps WHERE doc_id < 500000),
       |bfp AS (SELECT doc_id AS bench_id, pos, fp FROM fps
       |        WHERE doc_id >= 500000),
       |rare AS (SELECT fp FROM bfp GROUP BY fp
       |         HAVING count(*) <= $maxFreq),
       |jn AS (SELECT d.doc_id, b.bench_id, d.pos AS dpos, b.pos AS bpos,
       |              d.fp
       |       FROM dfp d JOIN bfp b USING (fp) JOIN rare USING (fp))
       |SELECT doc_id, bench_id,
       |       CAST(count(DISTINCT fp) AS BIGINT) AS n_shared_fps,
       |       min(dpos) AS doc_lo,
       |       max(dpos) + ${k - 1} AS doc_hi,
       |       min(bpos) AS bench_lo,
       |       max(bpos) + ${k - 1} AS bench_hi
       |FROM jn GROUP BY 1, 2
       |HAVING count(DISTINCT fp) >= $minShared""".stripMargin
  }

  /** Surgical span-removal decontamination
    * ([[graft.dedup.Dedup.winnowDecontaminate]]): instead of dropping
    * every doc that quotes a benchmark item (the whole-doc
    * decontaminate), cut exactly the winnow-localized regions and keep
    * the rest — every corpus doc returns a row with its cleaned
    * NORMALIZED text and span/char attrition. Same q229 fixture and
    * evidence floor as q251.
    */
  private def q257(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    Dedup.winnowDecontaminate(docs, "doc_id", "text",
      bench, "bench_id", "text",
      k = 20, w = 8, minSharedFps = 2, maxBenchFpFreq = 64L)
  }

  /** The q257 oracle: the q251 match CTEs, then per-pair evidence
    * floor → tainted [p, p+k−1] char cover → gaps-and-islands interval
    * union → lag-based segment stitching over the normalized text.
    */
  private def q257Sql(k: Int = 20, w: Int = 8, minShared: Int = 2,
      maxFreq: Int = 64): String =
    s"""WITH fps AS MATERIALIZED (${winnowFpSql(winnowUnionSrc, k, w)}),
       |dfp AS (SELECT doc_id, pos, fp FROM fps WHERE doc_id < 500000),
       |bfp AS (SELECT doc_id AS bench_id, pos, fp FROM fps
       |        WHERE doc_id >= 500000),
       |rare AS (SELECT fp FROM bfp GROUP BY fp
       |         HAVING count(*) <= $maxFreq),
       |jn AS (SELECT d.doc_id, b.bench_id, d.pos AS dpos, d.fp
       |       FROM dfp d JOIN bfp b USING (fp) JOIN rare USING (fp)),
       |okp AS (SELECT doc_id, bench_id FROM jn GROUP BY 1, 2
       |        HAVING count(DISTINCT fp) >= $minShared),
       |cov0 AS (SELECT doc_id, unnest(range(dpos, dpos + $k)) AS cp
       |         FROM jn JOIN okp USING (doc_id, bench_id)),
       |cov AS (SELECT DISTINCT doc_id, CAST(cp AS BIGINT) AS cp
       |        FROM cov0),
       |isl AS (SELECT doc_id, cp,
       |          cp - row_number() OVER (PARTITION BY doc_id
       |                                  ORDER BY cp) AS g
       |        FROM cov),
       |mg AS (SELECT doc_id, min(cp) AS s, max(cp) AS e
       |       FROM isl GROUP BY doc_id, g),
       |cnorm AS (SELECT doc_id,
       |            trim(regexp_replace(lower(coalesce(text, '')),
       |                 '\\s+', ' ', 'g')) AS t
       |          FROM documents),
       |iv AS (SELECT doc_id, s, e,
       |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s),
       |                  0) AS pe
       |       FROM mg),
       |cuts AS (
       |  SELECT i.doc_id,
       |    string_agg(substr(n.t, CAST(i.pe + 1 AS INT),
       |      CAST(i.s - i.pe - 1 AS INT)), '' ORDER BY i.s) AS pre,
       |    max(i.e) AS laste,
       |    count(*) AS nsp,
       |    sum(i.e - i.s + 1) AS removed
       |  FROM iv i JOIN cnorm n USING (doc_id)
       |  GROUP BY 1)
       |SELECT n.doc_id,
       |       CASE WHEN c.doc_id IS NULL THEN n.t
       |            ELSE c.pre || substr(n.t, CAST(c.laste + 1 AS INT))
       |       END AS text_clean,
       |       CAST(coalesce(c.nsp, 0) AS BIGINT) AS n_spans,
       |       CAST(coalesce(c.removed, 0) AS BIGINT) AS n_removed_chars
       |FROM cnorm n LEFT JOIN cuts c USING (doc_id)""".stripMargin

  /** RAW-coordinate surgical decontamination
    * ([[graft.dedup.Dedup.winnowDecontaminateRaw]]): the q257 fixture
    * and evidence floor, but spans are cut from the ORIGINAL text —
    * an untouched doc round-trips byte-identical (casing, whitespace,
    * NULLs), and a touched one keeps its original bytes minus exactly
    * the matched spans. q257's normalized output remains as the
    * forensic twin; this is the production form (the r15 verdict's
    * top operator gap).
    */
  private def q260(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    Dedup.winnowDecontaminateRaw(docs, "doc_id", "text",
      bench, "bench_id", "text",
      k = 20, w = 8, minSharedFps = 2, maxBenchFpFreq = 64L)
  }

  /** The q260 oracle: replay the kernel's inline normalization as a
    * TOKEN MAP (per raw char: whitespace classification → run
    * grouping → interior-run space tokens + char tokens, each with
    * its raw [rs, re] span), derive the corpus fingerprints from the
    * token-built normalized text via [[winnowFpCoreSql]] (one chain —
    * fp positions and token positions can't drift), join each
    * selected gram's first/last token for its raw hull, then the q257
    * evidence floor → raw-interval union (running-max sweep) →
    * lag-stitched cut over the ORIGINAL text. The bench side is
    * [[winnowFpSql]] over [[winnowBenchSrc]].
    */
  /** The raw-coordinate corpus fingerprint CTE chain shared by the
    * q260/q267/q268 oracles: token map (per raw char: whitespace
    * classification → run grouping → interior-run space tokens + char
    * tokens, each with its raw [rs, re] span) → token-built normalized
    * text → [[winnowFpCoreSql]] fingerprints → `dfpr` =
    * `(doc_id, pos, fp, rlo, rhi)`. `srcRel` must expose
    * `(doc_id, text)`. No leading WITH; splice after one.
    */
  private def winnowRawFpCtes(k: Int, w: Int,
      srcRel: String = "documents"): String =
    s"""rawd AS (SELECT doc_id, coalesce(text, '') AS raw
       |              FROM $srcRel),
       |lw AS (SELECT doc_id, lower(raw) AS lo FROM rawd),
       |chs AS (SELECT doc_id, CAST(i AS BIGINT) AS rp,
       |          substr(lo, CAST(i AS INT), 1) AS c
       |        FROM (SELECT doc_id, lo,
       |                unnest(range(1, len(lo) + 1)) AS i FROM lw)),
       |cw AS (SELECT doc_id, rp, c,
       |         c IN (' ', chr(9), chr(10), chr(11), chr(12), chr(13))
       |           AS ws
       |       FROM chs),
       |runs AS (SELECT doc_id, rp, c, ws,
       |           rp - row_number() OVER (PARTITION BY doc_id, ws
       |                                   ORDER BY rp) AS rg
       |         FROM cw),
       |tok0 AS (
       |  SELECT doc_id, rp AS rs, rp AS re, c AS nc
       |  FROM runs WHERE NOT ws
       |  UNION ALL
       |  SELECT doc_id, min(rp) AS rs, max(rp) AS re, ' ' AS nc
       |  FROM runs WHERE ws GROUP BY doc_id, rg),
       |bnds AS (SELECT doc_id, min(rs) AS fnw, max(rs) AS lnw
       |         FROM tok0 WHERE nc <> ' ' GROUP BY doc_id),
       |tok AS MATERIALIZED (
       |  SELECT t.doc_id, t.rs, t.re, t.nc,
       |    row_number() OVER (PARTITION BY t.doc_id ORDER BY t.rs)
       |      AS np
       |  FROM tok0 t JOIN bnds b USING (doc_id)
       |  WHERE t.nc <> ' ' OR (t.rs > b.fnw AND t.re < b.lnw)),
       |cn AS (SELECT doc_id, string_agg(nc, '' ORDER BY np) AS t
       |       FROM tok GROUP BY doc_id),
       |dfp AS MATERIALIZED (
       |  SELECT doc_id, pos, fp FROM (
       |    WITH norm AS (SELECT doc_id, t FROM cn),
       |    ${winnowFpCoreSql(k, w)})),
       |dfpr AS (
       |  SELECT f.doc_id, f.pos, f.fp, ts.rs AS rlo, te.re AS rhi
       |  FROM dfp f
       |  JOIN tok ts ON ts.doc_id = f.doc_id AND ts.np = f.pos
       |  JOIN tok te ON te.doc_id = f.doc_id
       |             AND te.np = f.pos + ${k - 1})""".stripMargin

  /** The raw-surgery CTE chain shared by the q260 and q268 oracles:
    * capped bench fps (`benchRel` must expose `(doc_id, text)`) joined
    * to `dfpr` (from [[winnowRawFpCtes]]), the evidence floor,
    * raw-interval union (running-max sweep), and the lag-stitched cut
    * over `rawRel`'s original text — ends with
    * `surgout(doc_id, text_clean, n_spans, n_removed_chars)`. No
    * leading WITH; splice after [[winnowRawFpCtes]].
    */
  private def winnowRawSurgeryCtes(k: Int, w: Int, minShared: Int,
      maxFreq: Int, benchRel: String, rawRel: String): String =
    s"""bfp AS MATERIALIZED (
       |  SELECT doc_id AS bench_id, pos, fp FROM (
       |    ${winnowFpSql(benchRel, k, w)})),
       |rare AS (SELECT fp FROM bfp GROUP BY fp
       |         HAVING count(*) <= $maxFreq),
       |jn AS (SELECT d.doc_id, b.bench_id, d.rlo, d.rhi, d.fp
       |       FROM dfpr d JOIN bfp b USING (fp) JOIN rare USING (fp)),
       |okp AS (SELECT doc_id, bench_id FROM jn GROUP BY 1, 2
       |        HAVING count(DISTINCT fp) >= $minShared),
       |iv0 AS (SELECT DISTINCT doc_id, rlo AS s, rhi AS e
       |        FROM jn JOIN okp USING (doc_id, bench_id)),
       |flag AS (SELECT doc_id, s, e,
       |           CASE WHEN max(e) OVER w0 IS NULL
       |                  OR s > max(e) OVER w0 + 1
       |                THEN 1 ELSE 0 END AS nf
       |         FROM iv0
       |         WINDOW w0 AS (PARTITION BY doc_id ORDER BY s, e
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |isl AS (SELECT doc_id, s, e,
       |          sum(nf) OVER (PARTITION BY doc_id ORDER BY s, e
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS g
       |        FROM flag),
       |mg AS (SELECT doc_id, min(s) AS s, max(e) AS e
       |       FROM isl GROUP BY doc_id, g),
       |iv AS (SELECT doc_id, s, e,
       |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s),
       |                  0) AS pe
       |       FROM mg),
       |craw AS (SELECT doc_id, text AS t FROM $rawRel),
       |cuts AS (
       |  SELECT i.doc_id,
       |    string_agg(substr(n.t, CAST(i.pe + 1 AS INT),
       |      CAST(i.s - i.pe - 1 AS INT)), '' ORDER BY i.s) AS pre,
       |    max(i.e) AS laste,
       |    count(*) AS nsp,
       |    sum(i.e - i.s + 1) AS removed
       |  FROM iv i JOIN craw n USING (doc_id)
       |  GROUP BY 1),
       |surgout AS (
       |  SELECT n.doc_id,
       |         CASE WHEN c.doc_id IS NULL THEN n.t
       |              ELSE c.pre || substr(n.t, CAST(c.laste + 1 AS INT))
       |         END AS text_clean,
       |         CAST(coalesce(c.nsp, 0) AS BIGINT) AS n_spans,
       |         CAST(coalesce(c.removed, 0) AS BIGINT)
       |           AS n_removed_chars
       |  FROM craw n LEFT JOIN cuts c USING (doc_id))""".stripMargin

  private def q260Sql(k: Int = 20, w: Int = 8, minShared: Int = 2,
      maxFreq: Int = 64): String =
    "WITH " + winnowRawFpCtes(k, w) + ",\n" +
      winnowRawSurgeryCtes(k, w, minShared, maxFreq,
        winnowBenchSrc, "documents") +
      "\nSELECT doc_id, text_clean, n_spans, n_removed_chars FROM surgout"

  /** SURGICAL curation — `curateCorpus(surgicalDecon = true)` end to
    * end: the default scrub→gate chain, then the benchmark
    * decontamination stage CUTS the winnow-localized spans from the
    * original text instead of dropping whole documents (a doc quoting
    * one benchmark item keeps everything but the quote; fully-cut
    * docs drop), exact dedup keys on the post-surgery text, and the
    * export layer shards the survivors. Gates the export UNITS (the
    * curated `(doc_id, text)` relation) so the cut text itself is
    * hash-compared. Benchmark fixture: first-half words of every
    * tenth doc (partial quotes — surgery, not deletion).
    */
  private def q268(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select(array_join(slice(ws, lit(1),
        greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
        .as("text"))
    val res = Pipelines.exportTrainingData(docs, bench,
      cfg = Pipelines.CurationConfig(surgicalDecon = true), nShards = 8)
    val out = res.units.localCheckpoint()
    res.release()
    out
  }

  /** The q268 bench relation: the pipeline's internal identity is
    * md5 of the DISTINCT benchmark text (duplicate items are one
    * item) — mirrored here so the frequency cap counts the same rows.
    */
  private val q268BenchSrc: String =
    s"""(SELECT md5(coalesce(text, '')) AS doc_id, text FROM (
       |  SELECT DISTINCT array_to_string(
       |    wd[1:greatest(CAST(len(wd) // 2 AS INT), 5)], ' ') AS text
       |  FROM (SELECT string_split_regex(trim(trim(regexp_replace(
       |          lower(text), '\\s+', ' ', 'g'))), '\\s+') AS wd
       |        FROM documents WHERE doc_id % 10 = 0))) AS b""".stripMargin

  /** The q268 oracle: [[q219GatedCtes]] (scrub → gates), the raw
    * token-map fingerprints over the GATED text, the shared surgery
    * chain vs [[q268BenchSrc]], the empty-survivor filter, and the
    * keep-first dedup on the post-surgery fingerprint.
    */
  private def q268Sql(k: Int = 20, w: Int = 8, minShared: Int = 2,
      maxFreq: Int = 64): String =
    "WITH " + q219GatedCtes + ",\n" +
      winnowRawFpCtes(k, w, srcRel = "gated") + ",\n" +
      winnowRawSurgeryCtes(k, w, minShared, maxFreq,
        q268BenchSrc, "gated") + ",\n" +
      s"""surg AS (
         |  SELECT doc_id, text_clean AS text FROM surgout
         |  WHERE trim(text_clean) <> ''),
         |ddp AS (
         |  SELECT doc_id, text,
         |         row_number() OVER (PARTITION BY
         |           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         |           ORDER BY doc_id) AS rk
         |  FROM surg)
         |SELECT doc_id, text FROM ddp WHERE rk = 1""".stripMargin

  /** Streaming twin of q268 — surgical curation at ingest
    * ([[graft.streaming.StreamingCuration.FrozenConfig.surgicalDecon]]):
    * the documents corpus as two ordered micro-batches through the
    * frozen gates, each batch surgically cut against the FROZEN
    * benchmark side, the cross-batch fingerprint index keying on the
    * POST-surgery text. Surgery verdicts are batch-local and ingest
    * is ordered, so keep-first elects the batch run's survivors —
    * q268's oracle shared verbatim.
    */
  private def q269(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val d = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = d.filter(col("doc_id") % 10 === 0)
      .select(array_join(slice(ws, lit(1),
        greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
        .as("text"))
      .localCheckpoint()
    val scratch = scratchDir("stream_surgical_curation")
    val stream = stageOrderedBatches(s, scratch,
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("source", StringType))),
      midpointHalves(d.select("doc_id", "text", "source")))
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = graft.streaming.StreamingCuration.start(
      stream, "doc_id", bench,
      graft.streaming.StreamingCuration.FrozenConfig(surgicalDecon = true),
      mixtureRates = None,
      fpIndexTable = s"graft_ssc_fp_$sfx",
      packStateTable = s"graft_ssc_pack_$sfx") { (batch, _) =>
      buf ++= batch.select(col("doc_id"), col("text"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
    }
    try q.processAllAvailable()
    finally {
      q.stop()
      s.sql(s"DROP TABLE IF EXISTS graft_ssc_fp_$sfx")
      s.sql(s"DROP TABLE IF EXISTS graft_ssc_pack_$sfx")
    }
    import s.implicits._
    buf.toSeq.toDF("doc_id", "text")
  }

  /** Contamination fractions against the standing index
    * ([[graft.dedup.WinnowIndex.contamination]]): the q265 gating
    * metric under the q258 cost model — benchmark artifact built once,
    * each corpus batch pays one fingerprint pass + the fp probe. On a
    * fresh index row-identical to the one-shot q265 — oracle shared
    * verbatim; checkpointed before the tables drop.
    */
  private def q270(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    val name = "graft_cwidx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      graft.dedup.WinnowIndex.build(bench, "bench_id", "text", name,
        k = 20, w = 8)
      graft.dedup.WinnowIndex.contamination(s, name, docs,
        "doc_id", "text", maxBenchFpFreq = 64L)
        .localCheckpoint()
    } finally graft.dedup.WinnowIndex.drop(s, name)
  }

  /** MOSS span report with RAW doc-side coordinates
    * ([[graft.dedup.Dedup.winnowMatchesRaw]]): q251's report plus the
    * code-point hull in the ORIGINAL document — what a reviewer or
    * highlighting UI reads before q260's surgery acts. Same fixture,
    * cap and evidence floor as q251.
    */
  private def q267(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    Dedup.winnowMatchesRaw(docs, "doc_id", "text",
      bench, "bench_id", "text",
      k = 20, w = 8, minSharedFps = 2, maxBenchFpFreq = 64L)
  }

  /** The q267 oracle: [[winnowRawFpCtes]]' raw-span corpus
    * fingerprints joined to the q251-style bench side, with both the
    * normalized and the raw hulls aggregated per pair.
    */
  private def q267Sql(k: Int = 20, w: Int = 8, minShared: Int = 2,
      maxFreq: Int = 64): String =
    "WITH " + winnowRawFpCtes(k, w) + ",\n" +
    s"""bfp AS MATERIALIZED (
       |  SELECT doc_id AS bench_id, pos, fp FROM (
       |    ${winnowFpSql(winnowBenchSrc, k, w)})),
       |rare AS (SELECT fp FROM bfp GROUP BY fp
       |         HAVING count(*) <= $maxFreq),
       |jn AS (SELECT d.doc_id, b.bench_id, d.pos AS dpos,
       |              d.rlo, d.rhi, b.pos AS bpos, d.fp
       |       FROM dfpr d JOIN bfp b USING (fp) JOIN rare USING (fp))
       |SELECT doc_id, bench_id,
       |       CAST(count(DISTINCT fp) AS BIGINT) AS n_shared_fps,
       |       min(dpos) AS doc_lo,
       |       max(dpos) + ${k - 1} AS doc_hi,
       |       min(rlo) AS doc_raw_lo,
       |       max(rhi) AS doc_raw_hi,
       |       min(bpos) AS bench_lo,
       |       max(bpos) + ${k - 1} AS bench_hi
       |FROM jn GROUP BY 1, 2
       |HAVING count(DISTINCT fp) >= $minShared""".stripMargin

  /** Index-probed raw surgical decontamination
    * ([[graft.dedup.WinnowIndex.decontaminateRaw]]): the standing-
    * service cost model (benchmark artifact built once, geometry and
    * too-common model frozen) composed with q260's raw surgery. On a
    * fresh index the result is row-identical to the one-shot q260 —
    * oracle shared verbatim; checkpointed before the tables drop (the
    * q258 discipline).
    */
  private def q261(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    val name = "graft_rwidx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      graft.dedup.WinnowIndex.build(bench, "bench_id", "text", name,
        k = 20, w = 8)
      graft.dedup.WinnowIndex.decontaminateRaw(s, name, docs,
        "doc_id", "text", minSharedFps = 2, maxBenchFpFreq = 64L)
        .localCheckpoint()
    } finally graft.dedup.WinnowIndex.drop(s, name)
  }

  /** Streaming raw surgical decontamination — the full standing
    * service: the benchmark artifact is built ONCE before the stream
    * (the q259 frozen-artifact discipline), each corpus micro-batch
    * is surgically cleaned against it, and cleaned documents stream
    * out with their ORIGINAL bytes minus the matched spans. A doc's
    * fingerprints ride one batch and every doc emits exactly one row
    * from its own batch, so the union over any split equals the batch
    * run, which on a fresh index equals the one-shot q260 — oracle
    * shared verbatim.
    */
  private def q262(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    val name = "graft_srwidx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val buf = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, Long, Long)]
    try {
      graft.dedup.WinnowIndex.build(bench, "bench_id", "text", name,
        k = 20, w = 8)
      val stream = StreamingPrep.streamDocuments(s, dir)
        .select("doc_id", "text")
      val q = stream.writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          // catalog reads through the stream clone's session (the
          // foreachBatch table discipline)
          buf ++= graft.dedup.WinnowIndex.decontaminateRaw(
              b.sparkSession, name, b.localCheckpoint(true),
              "doc_id", "text", minSharedFps = 2, maxBenchFpFreq = 64L)
            .collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
              r.getLong(3)))
          ()
        }.start()
      try q.processAllAvailable()
      finally q.stop()
      import s.implicits._
      buf.toSeq
        .toDF("doc_id", "text_clean", "n_spans", "n_removed_chars")
    } finally graft.dedup.WinnowIndex.drop(s, name)
  }

  /** Winnow-index refresh-drift report
    * ([[graft.dedup.WinnowIndex.driftReport]]): build on HALF the
    * benchmark (every 20th doc), refresh with the other half (every
    * 10th-but-not-20th) — the freq-less share over distinct index fps
    * is the rebuild signal for the frozen too-common model. The
    * oracle derives both halves' fingerprint sets independently and
    * counts `|B \ A|` over `|A ∪ B|`.
    */
  private def q263(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    def benchSlice(pred: Column) = docs.filter(pred)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    val benchA = benchSlice(col("doc_id") % 20 === 0)
    val benchB = benchSlice(col("doc_id") % 10 === 0 &&
      col("doc_id") % 20 =!= 0)
    val name = "graft_dwidx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      graft.dedup.WinnowIndex.build(benchA, "bench_id", "text", name,
        k = 20, w = 8)
      graft.dedup.WinnowIndex.refresh(benchB, "bench_id", "text", name)
      graft.dedup.WinnowIndex.driftReport(s, name).localCheckpoint()
    } finally graft.dedup.WinnowIndex.drop(s, name)
  }

  /** The q263 oracle: the two bench halves' fingerprint sets via
    * [[winnowFpSql]] over predicate-parameterized [[winnowBenchSrc]]
    * slices; freq-less = the refresh half's fps EXCEPT the build
    * half's.
    */
  private def q263Sql(k: Int = 20, w: Int = 8): String =
    s"""WITH afp AS MATERIALIZED (SELECT fp FROM (
       |    ${winnowFpSql(winnowBenchSrcWhere("doc_id % 20 = 0"), k, w)})),
       |bfp AS MATERIALIZED (SELECT fp FROM (
       |    ${winnowFpSql(winnowBenchSrcWhere(
              "doc_id % 10 = 0 AND doc_id % 20 <> 0"), k, w)})),
       |tot AS (SELECT count(DISTINCT fp) AS nt FROM
       |          (SELECT fp FROM afp UNION ALL SELECT fp FROM bfp)),
       |wo AS (SELECT count(*) AS nw0 FROM
       |         (SELECT fp FROM bfp EXCEPT SELECT fp FROM afp))
       |SELECT CAST(tot.nt AS BIGINT) AS n_fps_total,
       |       CAST(wo.nw0 AS BIGINT) AS n_fps_without_freq,
       |       round(CAST(wo.nw0 AS DOUBLE)
       |         / greatest(tot.nt, 1), 6) AS drift_frac
       |FROM tot, wo""".stripMargin

  /** Within-corpus MOSS self-report
    * ([[graft.dedup.Dedup.winnowSelfMatches]]): which corpus documents
    * share which regions with EACH OTHER — cross-document
    * plagiarism/boilerplate forensics over the documents table itself,
    * no benchmark side. The corpus-wide fp document-frequency cap
    * (≤ 4 carrying docs) is the quadratic guard: the synthetic
    * vocabulary's stop-grams die there, real shared runs survive.
    */
  private def q264(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowSelfMatches(Tables.documents(s, dir), "doc_id", "text",
      k = 20, w = 8, minSharedFps = 2, maxFpDocs = 4L)

  private def q264Sql(k: Int = 20, w: Int = 8, minShared: Int = 2,
      maxFpDocs: Int = 4): String =
    s"""WITH fps AS MATERIALIZED (${winnowFpSql("documents", k, w)}),
       |rare AS (SELECT fp FROM fps GROUP BY fp
       |         HAVING count(DISTINCT doc_id) <= $maxFpDocs),
       |f AS (SELECT doc_id, pos, fp FROM fps
       |      JOIN rare USING (fp)),
       |jn AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              a.pos AS apos, b.pos AS bpos, a.fp
       |       FROM f a JOIN f b USING (fp)
       |       WHERE a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |       CAST(count(DISTINCT fp) AS BIGINT) AS n_shared_fps,
       |       min(apos) AS a_lo,
       |       max(apos) + ${k - 1} AS a_hi,
       |       min(bpos) AS b_lo,
       |       max(bpos) + ${k - 1} AS b_hi
       |FROM jn GROUP BY 1, 2
       |HAVING count(DISTINCT fp) >= $minShared""".stripMargin

  /** q264 with RAW coordinates on BOTH sides
    * ([[graft.dedup.Dedup.winnowSelfMatchesRaw]]): the within-corpus
    * forensics report a highlighting UI reads — both members of a
    * pair are corpus documents someone opens in an editor, so each
    * side carries its code-point hull in the ORIGINAL text alongside
    * the normalized hulls (the q267 treatment applied to the q264
    * report). Same cap, evidence floor and single-kernel-pass plan.
    */
  private def q271(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowSelfMatchesRaw(Tables.documents(s, dir), "doc_id",
      "text", k = 20, w = 8, minSharedFps = 2, maxFpDocs = 4L)

  /** The q271 oracle: [[winnowRawFpCtes]]' raw-span corpus
    * fingerprints self-joined under q264's doc-frequency cap, with
    * BOTH sides' normalized and raw hulls aggregated per pair.
    */
  private def q271Sql(k: Int = 20, w: Int = 8, minShared: Int = 2,
      maxFpDocs: Int = 4): String =
    "WITH " + winnowRawFpCtes(k, w) + ",\n" +
    s"""rare AS (SELECT fp FROM dfpr GROUP BY fp
       |         HAVING count(DISTINCT doc_id) <= $maxFpDocs),
       |f AS (SELECT doc_id, pos, fp, rlo, rhi FROM dfpr
       |      JOIN rare USING (fp)),
       |jn AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              a.pos AS apos, b.pos AS bpos,
       |              a.rlo AS arlo, a.rhi AS arhi,
       |              b.rlo AS brlo, b.rhi AS brhi, a.fp
       |       FROM f a JOIN f b USING (fp)
       |       WHERE a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |       CAST(count(DISTINCT fp) AS BIGINT) AS n_shared_fps,
       |       min(apos) AS a_lo,
       |       max(apos) + ${k - 1} AS a_hi,
       |       min(arlo) AS a_raw_lo,
       |       max(arhi) AS a_raw_hi,
       |       min(bpos) AS b_lo,
       |       max(bpos) + ${k - 1} AS b_hi,
       |       min(brlo) AS b_raw_lo,
       |       max(brhi) AS b_raw_hi
       |FROM jn GROUP BY 1, 2
       |HAVING count(DISTINCT fp) >= $minShared""".stripMargin

  /** Streaming twin of q264 — the self-report over a corpus that
    * ARRIVES: each micro-batch pays its kernel fingerprint pass at
    * ingest and appends per-(fp, doc) hulls to a standing table (a
    * doc's fingerprints ride one batch, so its hulls are complete
    * within that batch); the corpus-global doc-frequency cap +
    * pairing fold ([[graft.dedup.Dedup.winnowSelfPairsFromHulls]])
    * runs ONCE at end of ingest over the standing table. The cap is
    * deliberately NOT applied per batch: a fingerprint's carrier
    * count only grows, so a pair emitted early could be invalidated
    * by a later batch pushing its fp over the cap — per-batch
    * emission cannot match the one-shot report, the end-of-ingest
    * fold matches it exactly (shares q264's oracle). The standing
    * hull table is the q218 incremental-artifact discipline: ingest
    * work is O(batch), the final fold is one join-free job over
    * fingerprint-hull rows, never over text.
    */
  private def q272(s: SparkSession, dir: String): DataFrame = {
    val stream = StreamingPrep.streamDocuments(s, dir)
      .select("doc_id", "text")
    val tbl = "graft_selfm_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val hulls = graft.streaming.StandingTable(tbl)
    val q = graft.streaming.StandingTable.foreachBatch(stream, tbl) {
      (b: DataFrame, batchId: Long) =>
        // q95 discipline: write through the stream's clone session.
        // Keyed by batchId: a retried micro-batch replaces its own
        // hull partition instead of appending its rows twice, which
        // would perturb the end-of-ingest doc-frequency cap
        hulls.foldPartition(Dedup.winnowSelfHulls(b.localCheckpoint(true),
          "doc_id", "text", k = 20, w = 8), batchId)
    }
    try q.processAllAvailable()
    finally q.stop()
    import s.implicits._
    val out =
      try {
        Dedup.winnowSelfPairsFromHulls(hulls.read(s).get, k = 20,
            minSharedFps = 2, maxFpDocs = 4L, raw = false)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
          .toSeq
      } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
    out.toDF("doc_a", "doc_b", "n_shared_fps",
      "a_lo", "a_hi", "b_lo", "b_hi")
  }

  /** The q273/q274/q275 benchmark fixture — q265's (first-half words
    * of every tenth doc, ids offset to 500000).
    */
  private[graft] def winnowRouteBench(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
  }

  /** Contamination-fraction ROUTING ([[graft.dedup.Dedup.winnowRoute]]):
    * the disposition a pipeline takes with q265's metric in one call —
    * fraction ≥ 0.4 drops the doc, the [0.05, 0.4) mid band is
    * surgically cut (q260's raw surgery — original bytes minus the
    * spans), the noise floor keeps the original text byte-identical.
    * The fixture's bench sources land in the drop band, partial
    * quoters in cut, the rest keep — all three verdicts populated.
    */
  private def q273(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowRoute(Tables.documents(s, dir), "doc_id", "text",
      winnowRouteBench(s, dir), "bench_id", "text",
      cutFloor = 0.05, dropFloor = 0.4,
      k = 20, w = 8, minSharedFps = 2, maxBenchFpFreq = 64L)

  /** The q273 oracle: the q265 fraction chain and the q260 surgery
    * chain over the SAME token-map CTEs, routed by the two floors.
    */
  private def q273Sql(k: Int = 20, w: Int = 8, minShared: Int = 2,
      maxFreq: Int = 64, cutFloor: Double = 0.05,
      dropFloor: Double = 0.4): String =
    "WITH " + winnowRawFpCtes(k, w) + ",\n" +
      winnowRawSurgeryCtes(k, w, minShared, maxFreq,
        winnowBenchSrc, "documents") + ",\n" +
    s"""cdfp AS (SELECT DISTINCT doc_id, fp FROM dfp),
       |cbset AS (SELECT DISTINCT fp FROM bfp JOIN rare USING (fp)),
       |fr AS (SELECT d.doc_id,
       |         round(CAST(count(b.fp) AS DOUBLE) / count(*), 6)
       |           AS frac
       |       FROM cdfp d LEFT JOIN cbset b ON b.fp = d.fp
       |       GROUP BY 1)
       |SELECT n.doc_id,
       |       round(coalesce(fr.frac, 0.0), 6) AS contamination_frac,
       |       CASE WHEN coalesce(fr.frac, 0.0) >= $dropFloor
       |              THEN 'drop'
       |            WHEN coalesce(fr.frac, 0.0) >= $cutFloor THEN 'cut'
       |            ELSE 'keep' END AS verdict,
       |       CASE WHEN coalesce(fr.frac, 0.0) >= $dropFloor THEN NULL
       |            WHEN coalesce(fr.frac, 0.0) >= $cutFloor
       |              THEN s.text_clean
       |            ELSE n.text END AS text_out
       |FROM documents n
       |LEFT JOIN fr USING (doc_id)
       |LEFT JOIN surgout s USING (doc_id)""".stripMargin

  /** Streaming routing twin — the keep/cut/drop gate at ingest: every
    * doc's fraction and surgery depend only on its own fingerprints
    * and the FROZEN benchmark side, so each micro-batch runs
    * [[graft.dedup.Dedup.winnowRoute]] verbatim (the q231
    * frozen-static-side pattern) and the union over any split equals
    * the batch run — shares q273's oracle.
    */
  private def q274(s: SparkSession, dir: String): DataFrame = {
    val bench = winnowRouteBench(s, dir).localCheckpoint(true)
    val stream = StreamingPrep.streamDocuments(s, dir)
      .select("doc_id", "text")
    val buf = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Double, String, String)]
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf ++= Dedup.winnowRoute(b.localCheckpoint(true),
            "doc_id", "text", bench, "bench_id", "text",
            cutFloor = 0.05, dropFloor = 0.4,
            k = 20, w = 8, minSharedFps = 2, maxBenchFpFreq = 64L)
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
            r.getString(3)))
        ()
      }.start()
    try q.processAllAvailable()
    finally q.stop()
    import s.implicits._
    buf.toSeq.toDF("doc_id", "contamination_frac", "verdict",
      "text_out")
  }

  /** ROUTED surgical curation —
    * `curateCorpus(surgicalDecon = true, routeFloors = Some((0.05,
    * 0.4)))` end to end: the q268 pipeline with the decontamination
    * stage upgraded to the keep/cut/drop disposition — benchmark
    * copies (fraction ≥ 0.4) DROP instead of surviving as husks,
    * partial quoters are cut, the noise floor passes with no surgery
    * artifacts. Gates the export units so the routed text itself is
    * hash-compared.
    */
  private def q277(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select(array_join(slice(ws, lit(1),
        greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
        .as("text"))
    val res = Pipelines.exportTrainingData(docs, bench,
      cfg = Pipelines.CurationConfig(surgicalDecon = true,
        routeFloors = Some((0.05, 0.4))), nShards = 8)
    val out = res.units.localCheckpoint()
    res.release()
    out
  }

  /** The q277 oracle: q268's gated chain + surgery, plus the fraction
    * CTE over the same token-map fingerprints, routed by the floors —
    * the drop band filtered before the empty-survivor and dedup
    * stages.
    */
  private def q277Sql(k: Int = 20, w: Int = 8, minShared: Int = 2,
      maxFreq: Int = 64, cutFloor: Double = 0.05,
      dropFloor: Double = 0.4): String =
    "WITH " + q219GatedCtes + ",\n" +
      winnowRawFpCtes(k, w, srcRel = "gated") + ",\n" +
      winnowRawSurgeryCtes(k, w, minShared, maxFreq,
        q268BenchSrc, "gated") + ",\n" +
      s"""fr AS (SELECT d.doc_id,
         |         round(CAST(count(b.fp) AS DOUBLE) / count(*), 6)
         |           AS frac
         |       FROM (SELECT DISTINCT doc_id, fp FROM dfp) d
         |       LEFT JOIN (SELECT DISTINCT fp FROM bfp
         |                  JOIN rare USING (fp)) b ON b.fp = d.fp
         |       GROUP BY 1),
         |routed AS (
         |  SELECT g.doc_id,
         |    CASE WHEN coalesce(fr.frac, 0.0) >= $cutFloor
         |           THEN s.text_clean ELSE g.text END AS text
         |  FROM gated g
         |  LEFT JOIN fr USING (doc_id)
         |  LEFT JOIN surgout s USING (doc_id)
         |  WHERE coalesce(fr.frac, 0.0) < $dropFloor),
         |surg AS (SELECT doc_id, text FROM routed
         |         WHERE trim(text) <> ''),
         |ddp AS (
         |  SELECT doc_id, text,
         |         row_number() OVER (PARTITION BY
         |           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         |           ORDER BY doc_id) AS rk
         |  FROM surg)
         |SELECT doc_id, text FROM ddp WHERE rk = 1""".stripMargin

  /** Streaming routed curation — the q269 harness with
    * [[graft.streaming.StreamingCuration.FrozenConfig.routeFloors]]:
    * each arriving doc routes keep/cut/drop against the FROZEN
    * benchmark side (batch-local verdicts), the cross-batch dedup
    * keys on the post-routing text, ordered ingest folds keep-first
    * to the batch run — q277's oracle shared verbatim.
    */
  private def q278(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val d = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = d.filter(col("doc_id") % 10 === 0)
      .select(array_join(slice(ws, lit(1),
        greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
        .as("text"))
      .localCheckpoint()
    val scratch = scratchDir("stream_routed_curation")
    val stream = stageOrderedBatches(s, scratch,
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("source", StringType))),
      midpointHalves(d.select("doc_id", "text", "source")))
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = graft.streaming.StreamingCuration.start(
      stream, "doc_id", bench,
      graft.streaming.StreamingCuration.FrozenConfig(
        surgicalDecon = true, routeFloors = Some((0.05, 0.4))),
      mixtureRates = None,
      fpIndexTable = s"graft_src_fp_$sfx",
      packStateTable = s"graft_src_pack_$sfx") { (batch, _) =>
      buf ++= batch.select(col("doc_id"), col("text"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
    }
    try q.processAllAvailable()
    finally {
      q.stop()
      s.sql(s"DROP TABLE IF EXISTS graft_src_fp_$sfx")
      s.sql(s"DROP TABLE IF EXISTS graft_src_pack_$sfx")
    }
    import s.implicits._
    buf.toSeq.toDF("doc_id", "text")
  }

  /** Streaming per-source routing audit — the q276 data card over a
    * corpus that ARRIVES: each micro-batch routes against the FROZEN
    * benchmark side and appends its per-source partial rollup to a
    * standing table; the final report is one group-sum over the
    * partials. Every audit column is a sum/count of per-doc
    * contributions and verdicts are doc-local vs the frozen side, so
    * the fold over any split equals the batch run — shares q276's
    * oracle.
    */
  private def q279(s: SparkSession, dir: String): DataFrame = {
    val bench = winnowRouteBench(s, dir).localCheckpoint(true)
    val stream = StreamingPrep.streamDocuments(s, dir)
      .select("doc_id", "text", "source")
    val tbl = "graft_rtrep_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val partials = graft.streaming.StandingTable(tbl)
    val q = graft.streaming.StandingTable.foreachBatch(stream, tbl) {
      (b: DataFrame, batchId: Long) =>
        // keyed by batchId: a retried batch replaces its own report
        // partials instead of doubling them in the end-of-ingest sum
        partials.foldPartition(Dedup.winnowRouteReport(b.localCheckpoint(true),
            "doc_id", "text", "source", bench, "bench_id", "text",
            cutFloor = 0.05, dropFloor = 0.4,
            k = 20, w = 8, minSharedFps = 2, maxBenchFpFreq = 64L), batchId)
    }
    try q.processAllAvailable()
    finally q.stop()
    import s.implicits._
    val out =
      try {
        partials.read(s).get.groupBy(col("source"))
          .agg(sum("n_docs").as("n_docs"),
            sum("n_keep").as("n_keep"),
            sum("n_cut").as("n_cut"),
            sum("n_drop").as("n_drop"),
            sum("contamination_fp6_sum").as("contamination_fp6_sum"),
            sum("n_removed_chars").as("n_removed_chars"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
          .toSeq
      } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
    out.toDF("source", "n_docs", "n_keep", "n_cut", "n_drop",
      "contamination_fp6_sum", "n_removed_chars")
  }

  /** Boilerplate-family clustering
    * ([[graft.dedup.Dedup.winnowSelfClusters]]): connected components
    * over the q264 self-report pairs — documents sharing localized
    * regions directly or transitively fold into one family label (the
    * per-family grouping a pipeline caps or samples, vs q264's
    * per-pair forensics). Star-CC on top of the capped join-free
    * pairing; the oracle replays the closure as a recursive
    * min-reachable-label CTE over the q264 pair chain.
    */
  private def q280(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowSelfClusters(Tables.documents(s, dir), "doc_id",
        "text", k = 20, w = 8, minSharedFps = 2, maxFpDocs = 4L)
      .select(col("id").as("doc_id"), col("cluster_id"))

  private def q280Sql(k: Int = 20, w: Int = 8, minShared: Int = 2,
      maxFpDocs: Int = 4): String =
    s"""WITH RECURSIVE
       |fps AS MATERIALIZED (${winnowFpSql("documents", k, w)}),
       |rare AS (SELECT fp FROM fps GROUP BY fp
       |         HAVING count(DISTINCT doc_id) <= $maxFpDocs),
       |f AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp)),
       |prs AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM f a JOIN f b USING (fp)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(DISTINCT fp) >= $minShared),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM prs
       |  UNION SELECT doc_b, doc_a FROM prs),
       |lab(id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, l.label FROM lab l JOIN edges e ON e.src = l.id)
       |SELECT id AS doc_id, min(label) AS cluster_id
       |FROM lab GROUP BY id""".stripMargin

  /** Per-family admission cap
    * ([[graft.dedup.Dedup.winnowFamilyCap]]): the q280 family labels
    * put to work — at most 2 documents admitted per shared-region
    * family (lowest doc ids win, the domain-quota discipline applied
    * to content families), docs in no family pass. Full verdict frame
    * gated: `(doc_id, cluster_id, rank_in_family, kept)`.
    */
  private def q281(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowFamilyCap(Tables.documents(s, dir), "doc_id", "text",
      capPerFamily = 2, k = 20, w = 8, minSharedFps = 2,
      maxFpDocs = 4L)

  /** The q281 oracle: q280's family chain as a derived table, ranked
    * per family by doc_id, left-joined to the corpus (NULL family =
    * rank 1, kept).
    */
  private def q281Sql(cap: Int = 2): String =
    s"""WITH famq AS (SELECT * FROM (${q280Sql()})),
       |rk AS (SELECT doc_id, cluster_id,
       |         CAST(row_number() OVER (PARTITION BY cluster_id
       |           ORDER BY doc_id) AS INT) AS rank_in_family
       |       FROM famq)
       |SELECT d.doc_id, r.cluster_id,
       |       CAST(coalesce(r.rank_in_family, 1) AS INT)
       |         AS rank_in_family,
       |       coalesce(r.rank_in_family, 1) <= $cap AS kept
       |FROM documents d LEFT JOIN rk r USING (doc_id)""".stripMargin

  /** Streaming family cap — the q281 admission verdicts over a corpus
    * that ARRIVES: each micro-batch pays its kernel pass and appends
    * per-(fp, doc) hulls AND its doc roster to standing tables; at
    * end of ingest the corpus-global pairing
    * ([[graft.dedup.Dedup.winnowSelfPairsFromHulls]]) → star-CC →
    * cap assembly runs once (the q272 discipline — family membership
    * is corpus-global, so per-batch verdicts could be invalidated by
    * later arrivals). Shares q281's oracle.
    */
  private def q282(s: SparkSession, dir: String): DataFrame = {
    val stream = StreamingPrep.streamDocuments(s, dir)
      .select("doc_id", "text")
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val hullTbl = s"graft_fcap_h_$sfx"
    val docTbl = s"graft_fcap_d_$sfx"
    val hulls = graft.streaming.StandingTable(hullTbl)
    val roster = graft.streaming.StandingTable(docTbl)
    val q = graft.streaming.StandingTable.foreachBatch(stream, hullTbl) {
      (b: DataFrame, batchId: Long) =>
        val bb = b.localCheckpoint(true)
        // keyed by batchId: a retried batch replaces its own hull and
        // roster rows instead of duplicating them, which would perturb
        // the fp-frequency cap and the rank assembly
        hulls.foldPartition(
          Dedup.winnowSelfHulls(bb, "doc_id", "text", k = 20, w = 8), batchId)
        roster.foldPartition(bb.select("doc_id"), batchId)
    }
    try q.processAllAvailable()
    finally q.stop()
    import s.implicits._
    val out =
      try {
        val pairs = Dedup.winnowSelfPairsFromHulls(hulls.read(s).get,
            k = 20, minSharedFps = 2, maxFpDocs = 4L, raw = false)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
        val labels = Dedup.clustersStar(pairs)
          .select(col("id").as("doc_id"), col("cluster_id"))
        Dedup.winnowFamilyCapFromLabels(roster.read(s).get.select("doc_id"),
            labels, capPerFamily = 2)
          .collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) null.asInstanceOf[java.lang.Long]
            else java.lang.Long.valueOf(r.getLong(1)),
            r.getInt(2), r.getBoolean(3)))
          .toSeq
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $hullTbl")
        s.sql(s"DROP TABLE IF EXISTS $docTbl")
      }
    out.toDF("doc_id", "cluster_id", "rank_in_family", "kept")
  }

  /** Per-source routing audit
    * ([[graft.dedup.Dedup.winnowRouteReport]]): the data-card rollup a
    * pipeline owner reads to see WHICH source quotes the benchmark —
    * per `source`, verdict counts, fixed-point contamination mass and
    * surgically removed characters (q245's intake report gets its
    * contamination sibling).
    */
  private def q276(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowRouteReport(Tables.documents(s, dir), "doc_id", "text",
      "source", winnowRouteBench(s, dir), "bench_id", "text",
      cutFloor = 0.05, dropFloor = 0.4,
      k = 20, w = 8, minSharedFps = 2, maxBenchFpFreq = 64L)

  /** The q276 oracle: q273's routed relation as a derived table,
    * joined back to `documents` for the group key and original
    * length, folded per source with the fsum fixed-point discipline.
    */
  private def q276Sql(): String =
    s"""WITH routedq AS (SELECT * FROM (${q273Sql()})),
       |dl AS (SELECT doc_id, source,
       |         length(coalesce(text, '')) AS olen FROM documents)
       |SELECT d.source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(CASE WHEN r.verdict = 'keep' THEN 1 END)
       |         AS BIGINT) AS n_keep,
       |       CAST(count(CASE WHEN r.verdict = 'cut' THEN 1 END)
       |         AS BIGINT) AS n_cut,
       |       CAST(count(CASE WHEN r.verdict = 'drop' THEN 1 END)
       |         AS BIGINT) AS n_drop,
       |       CAST(sum(CAST(floor(r.contamination_frac * 1e6)
       |         AS BIGINT)) AS BIGINT) AS contamination_fp6_sum,
       |       CAST(sum(CASE WHEN r.verdict = 'cut'
       |                THEN d.olen - length(r.text_out)
       |                ELSE 0 END) AS BIGINT) AS n_removed_chars
       |FROM routedq r JOIN dl d USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** Index-probed routing ([[graft.dedup.WinnowIndex.route]]): the
    * keep/cut/drop disposition under the standing-artifact cost model
    * (frozen geometry + too-common model). On a fresh index
    * row-identical to the one-shot — shares q273's oracle;
    * checkpointed before the tables drop (the q258 discipline).
    */
  private def q275(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_rtidx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      graft.dedup.WinnowIndex.build(winnowRouteBench(s, dir),
        "bench_id", "text", name, k = 20, w = 8)
      graft.dedup.WinnowIndex.route(s, name, Tables.documents(s, dir),
        "doc_id", "text", cutFloor = 0.05, dropFloor = 0.4,
        minSharedFps = 2, maxBenchFpFreq = 64L)
        .localCheckpoint()
    } finally graft.dedup.WinnowIndex.drop(s, name)
  }

  /** Per-document contamination fraction
    * ([[graft.dedup.Dedup.winnowContamination]]): the gating metric a
    * pipeline thresholds to route docs between keep / surgical cut
    * (q260) / whole-doc drop — share of each doc's distinct winnow
    * fingerprints matching the capped benchmark side. Same q229
    * fixture as the winnow family.
    */
  private def q265(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    Dedup.winnowContamination(docs, "doc_id", "text",
      bench, "bench_id", "text", k = 20, w = 8, maxBenchFpFreq = 64L)
  }

  private def q265Sql(k: Int = 20, w: Int = 8, maxFreq: Int = 64): String =
    s"""WITH fps AS MATERIALIZED (${winnowFpSql(winnowUnionSrc, k, w)}),
       |dfp AS (SELECT DISTINCT doc_id, fp FROM fps
       |        WHERE doc_id < 500000),
       |bfp AS (SELECT doc_id AS bench_id, pos, fp FROM fps
       |        WHERE doc_id >= 500000),
       |rare AS (SELECT fp FROM bfp GROUP BY fp
       |         HAVING count(*) <= $maxFreq),
       |bset AS (SELECT DISTINCT fp FROM bfp JOIN rare USING (fp))
       |SELECT d.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_fps,
       |       CAST(count(b.fp) AS BIGINT) AS n_matched_fps,
       |       round(CAST(count(b.fp) AS DOUBLE) / count(*), 6)
       |         AS contamination_frac
       |FROM dfp d LEFT JOIN bset b ON b.fp = d.fp
       |GROUP BY 1""".stripMargin

  /** Streaming contamination fraction — the gating metric at ingest:
    * every doc's fraction depends only on its own fingerprints and
    * the FROZEN benchmark side, so each micro-batch runs
    * [[graft.dedup.Dedup.winnowContamination]] verbatim (the q231
    * frozen-static-side pattern) and the union over any split equals
    * the batch run — shares q265's oracle.
    */
  private def q266(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
      .localCheckpoint(true)
    val stream = StreamingPrep.streamDocuments(s, dir)
      .select("doc_id", "text")
    val buf = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf ++= Dedup.winnowContamination(b.localCheckpoint(true),
            "doc_id", "text", bench, "bench_id", "text",
            k = 20, w = 8, maxBenchFpFreq = 64L)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3)))
        ()
      }.start()
    try q.processAllAvailable()
    finally q.stop()
    import s.implicits._
    buf.toSeq
      .toDF("doc_id", "n_fps", "n_matched_fps", "contamination_frac")
  }

  /** Persistent winnow-index lifecycle ([[graft.dedup.WinnowIndex]]):
    * build the benchmark fingerprint artifact once, then probe the
    * corpus against it by name — the standing-decontamination cost
    * model (the q177/q108b lifecycle pattern). On a fresh index the
    * probe is row-identical to the one-shot [[q251]], so the oracle is
    * shared verbatim; the result is checkpointed before the tables
    * drop (a lazy plan would re-probe the dropped artifact).
    */
  private def q258(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    val name = "graft_widx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      graft.dedup.WinnowIndex.build(bench, "bench_id", "text", name,
        k = 20, w = 8)
      graft.dedup.WinnowIndex.probe(s, name, docs, "doc_id", "text",
        minSharedFps = 2, maxBenchFpFreq = 64L).localCheckpoint()
    } finally graft.dedup.WinnowIndex.drop(s, name)
  }

  /** Streaming probe of the persistent winnow index — the full
    * standing-decontamination service shape: the benchmark artifact is
    * built ONCE before the stream starts (the frozen-static-side
    * discipline), and each corpus micro-batch probes it by name. A
    * doc's fingerprints ride one batch, so the per-pair report never
    * spans batches and the union over any split equals the batch
    * probe, which equals the one-shot q251 — oracle shared verbatim.
    */
  private def q259(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = graft.text.TextAnalysis.words(
      graft.text.TextAnalysis.normalizeText(col("text")))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("bench_id"),
        array_join(slice(ws, lit(1),
          greatest((size(ws) / lit(2)).cast("int"), lit(5))), " ")
          .as("text"))
    val name = "graft_swidx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val buf = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long, Long)]
    try {
      graft.dedup.WinnowIndex.build(bench, "bench_id", "text", name,
        k = 20, w = 8)
      val stream = StreamingPrep.streamDocuments(s, dir)
        .select("doc_id", "text")
      val q = stream.writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          // catalog reads through the stream clone's session (the
          // foreachBatch table discipline)
          buf ++= graft.dedup.WinnowIndex.probe(b.sparkSession, name,
              b.localCheckpoint(true), "doc_id", "text",
              minSharedFps = 2, maxBenchFpFreq = 64L)
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
          ()
        }.start()
      try q.processAllAvailable()
      finally q.stop()
    } finally graft.dedup.WinnowIndex.drop(s, name)
    import s.implicits._
    buf.toSeq.toDF("doc_id", "bench_id", "n_shared_fps",
      "doc_lo", "doc_hi", "bench_lo", "bench_hi")
  }

  /** Chunked export ([[graft.pipeline.Pipelines.exportTrainingData]]
    * with `chunkTokens`): the q219 default-config curation re-united
    * as 12-token/stride-8 sliding windows (the unit a context-bound
    * trainer loads), then the q206 manifest over the chunk units —
    * unit ids are `"<doc>:<chunk>"` strings, so the shard hash keys
    * differ from the doc-level export by construction.
    */
  private def q252(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val benchmark = docs.filter(col("doc_id") % 10 === 0)
      .select(regexp_replace(col("text"), " ", "  ").as("text"))
    val res = Pipelines.exportTrainingData(docs, benchmark, nShards = 8,
      chunkTokens = Some(12), chunkStride = Some(8))
    val out = res.manifest.localCheckpoint()
    res.release()
    out
  }

  /** Per-epoch training order over the chunked export units
    * ([[graft.pipeline.Pipelines.exportTrainingData]] with `epochs`):
    * the q240 epoch-salted (shard, ord) assignment computed over the
    * q252 chunk units — the full epoch-varying read plan a trainer
    * replays from ids alone.
    */
  private def q253(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val benchmark = docs.filter(col("doc_id") % 10 === 0)
      .select(regexp_replace(col("text"), " ", "  ").as("text"))
    val res = Pipelines.exportTrainingData(docs, benchmark, nShards = 8,
      chunkTokens = Some(12), chunkStride = Some(8), epochs = Some(2))
    val out = res.epochOrder.get.localCheckpoint()
    res.release()
    out
  }

  /** Streaming twin of q250 — intake-enabled curation at ingest
    * ([[graft.streaming.StreamingCuration.FrozenConfig.intakeC4]]):
    * the same planted byte-twin corpus delivered as two ordered
    * micro-batches (originals first, twins second — the midpoint
    * split lands exactly on the +10M id plane), each running the
    * stateless strip→NFC→C4 intake before the frozen gates. Under
    * ordered ingest the cross-batch fingerprint index elects the same
    * keep-first survivors as the batch run, so q250's oracle is
    * shared verbatim (the q124 pattern).
    */
  private def q255(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val d = Tables.documents(s, dir)
    val base = c4Plant(d).join(d.select("doc_id", "source"), Seq("doc_id"))
    val planted = base.select(explode(array(
        struct(col("doc_id"),
          concat(col("text"), lit("\none two caf\u00e9.")).as("text"),
          col("source")),
        struct((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(col("text"), lit("\u0007\none two cafe\u0301."))
            .as("text"),
          col("source")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
        col("r.source").as("source"))
    val benchmark = d.filter(col("doc_id") % 10 === 0)
      .select(regexp_replace(col("text"), " ", "  ").as("text"))
      .localCheckpoint()
    val scratch = scratchDir("stream_intake_curation")
    val stream = stageOrderedBatches(s, scratch,
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("source", StringType))),
      midpointHalves(planted))
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val buf = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, Long, Long, Long)]
    val q = graft.streaming.StreamingCuration.start(
      stream, "doc_id", benchmark,
      graft.streaming.StreamingCuration.FrozenConfig(intakeC4 = true),
      mixtureRates = None,
      fpIndexTable = s"graft_sic_fp_$sfx",
      packStateTable = s"graft_sic_pack_$sfx") { (batch, _) =>
      buf ++= batch
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("seq_id"), col("seq_offset"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
    }
    try q.processAllAvailable()
    finally {
      q.stop()
      s.sql(s"DROP TABLE IF EXISTS graft_sic_fp_$sfx")
      s.sql(s"DROP TABLE IF EXISTS graft_sic_pack_$sfx")
    }
    import s.implicits._
    buf.toSeq
      .toDF("doc_id", "source", "n_tokens", "seq_id", "seq_offset")
  }

  /** The chunk-unit relation shared by the q252/q253 oracles:
    * the q219 curated corpus re-derived, then the q223 chunk replay —
    * `(doc_id: "<doc>:<chunk>", text: chunk_text)`.
    */
  private def chunkedUnitsSql(chunkTokens: Int = 12, stride: Int = 8)
      : String = {
    val wordsExpr = """list_filter(string_split_regex(trim(trim(""" +
      """regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))), """ +
      """'\s+'), x -> len(x) > 0)"""
    s"""SELECT CAST(doc_id AS VARCHAR) || ':' ||
       |         CAST(s // $stride AS VARCHAR) AS doc_id,
       |       array_to_string(list_slice(w, CAST(s + 1 AS INT),
       |         CAST(s + $chunkTokens AS INT)), ' ') AS text
       |FROM (
       |  WITH cur AS MATERIALIZED ($q219CuratedSql),
       |  ws AS (SELECT doc_id, $wordsExpr AS w FROM cur)
       |  SELECT doc_id, w, CAST(s AS BIGINT) AS s
       |  FROM (SELECT doc_id, w, unnest(range(0, len(w), $stride)) AS s
       |        FROM ws WHERE len(w) > 0))""".stripMargin
  }

  private val sanitizeCtrlSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    text || repeat(chr(7) || chr(31) || chr(127),
      |                   CAST(doc_id % 3 AS INT)) AS t
      |  FROM documents)
      |SELECT doc_id,
      |  regexp_replace(t, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')
      |    AS text_clean,
      |  CAST(length(t) - length(regexp_replace(t,
      |         '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS BIGINT)
      |    AS n_removed
      |FROM p""".stripMargin

  /** NSP pair generation ([[graft.pipeline.Examples.nspPairs]]): the
    * BERT next-segment task over the q223 segment grid — hash coin
    * keeps the true next segment or swaps in a corpus-random one via
    * the bucketed dense-rank two-level pick (the scale-correct
    * deterministic-random-row pattern: no global index window).
    */
  private def q224(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Examples.nspPairs(Tables.documents(s, dir),
      "doc_id", "text")

  /** Credit-card exposure audit
    * ([[graft.text.TextAnalysis.creditCardExposure]]): candidate
    * detection + Luhn mod-10 validation (the PAN member of the PII
    * family). Planted (q164 precedent — the synthetic corpus carries
    * no card numbers): every doc_id%4==0 doc gains the canonical
    * valid test PAN and an id-derived 16-digit number whose Luhn
    * verdict is data-dependent — both engines judge it.
    */
  private def q225(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val planted = docs.withColumn("text",
      when(col("doc_id") % 4 === 0,
        concat(col("text"), lit(" card 4111-1111-1111-1111 ref "),
          lpad(((col("doc_id") * 7919L) % 10000000000000000L).cast("string"),
            16, "0")))
        .otherwise(col("text")))
    graft.text.TextAnalysis.creditCardExposure(planted, "doc_id", "text")
  }

  private def q225Sql(): String =
    s"""WITH pl AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN
       |      text || ' card 4111-1111-1111-1111 ref ' ||
       |        lpad(CAST((doc_id * 7919) % 10000000000000000 AS VARCHAR),
       |          16, '0')
       |    ELSE text END AS text
       |  FROM documents),
       |cd AS (
       |  SELECT doc_id,
       |         regexp_extract_all(coalesce(text, ''),
       |           '\\b(?:[0-9][ -]?){12,18}[0-9]\\b') AS cs
       |  FROM pl),
       |nm AS (
       |  SELECT doc_id, len(cs) AS nc,
       |         list_transform(cs,
       |           c -> regexp_replace(c, '[ -]', '', 'g')) AS ds
       |  FROM cd)
       |SELECT doc_id, CAST(nc AS BIGINT) AS n_candidates,
       |  CAST(len(list_filter(ds, d ->
       |    len(d) >= 13 AND len(d) <= 19 AND
       |    list_reduce(list_prepend(0, list_transform(range(1, len(d) + 1),
       |      i -> CASE WHEN i % 2 = 1
       |                THEN CAST(substr(reverse(d), CAST(i AS INT), 1) AS INT)
       |                ELSE CASE WHEN 2 * CAST(substr(reverse(d),
       |                            CAST(i AS INT), 1) AS INT) > 9
       |                     THEN 2 * CAST(substr(reverse(d),
       |                            CAST(i AS INT), 1) AS INT) - 9
       |                     ELSE 2 * CAST(substr(reverse(d),
       |                            CAST(i AS INT), 1) AS INT) END END)),
       |      (a, b) -> a + b) % 10 = 0)) AS BIGINT) AS n_luhn_valid
       |FROM nm""".stripMargin

  /** Zipf rank–frequency fit ([[graft.pipeline.Profiling.zipfFit]]):
    * the corpus-health power-law scalar — least squares of ln(count)
    * on ln(rank) over the top tokens, all four regression moments
    * integer fixed-point so the whole row hash-gates.
    */
  private def q226(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Profiling.zipfFit(Tables.documents(s, dir), "text",
      topK = 100)

  private def q226Sql(topK: Int = 100): String = {
    val wordsExpr = """list_filter(string_split_regex(trim(trim(""" +
      """regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))), """ +
      """'\s+'), x -> len(x) > 0)"""
    s"""WITH tok AS (
       |  SELECT unnest($wordsExpr) AS token FROM documents),
       |cnts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
       |tots AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |                count(*) AS vocab_size FROM cnts),
       |topk AS (SELECT token, cnt FROM cnts
       |         ORDER BY cnt DESC, token LIMIT $topK),
       |rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token)
       |         AS rank FROM topk),
       |mom AS (
       |  SELECT count(*) AS k_used,
       |    CAST(sum(CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0)
       |      AS BIGINT)) AS BIGINT) AS sx,
       |    CAST(sum(CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0)
       |      AS BIGINT)) AS BIGINT) AS sy,
       |    CAST(sum(CAST(floor(ln(CAST(rank AS DOUBLE))
       |      * ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT)
       |      AS sxy,
       |    CAST(sum(CAST(floor(ln(CAST(rank AS DOUBLE))
       |      * ln(CAST(rank AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT)
       |      AS sxx
       |  FROM rk)
       |SELECT k_used, n_tokens, CAST(vocab_size AS BIGINT) AS vocab_size,
       |       sx, sy, sxy, sxx,
       |       CAST(floor(-(
       |         (CAST(k_used AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1000000.0)
       |          - (CAST(sx AS DOUBLE) / 1000000.0)
       |            * (CAST(sy AS DOUBLE) / 1000000.0))
       |         / (CAST(k_used AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1000000.0)
       |            - (CAST(sx AS DOUBLE) / 1000000.0)
       |              * (CAST(sx AS DOUBLE) / 1000000.0)))
       |         * 1000000.0) AS BIGINT) AS alpha_fp
       |FROM mom CROSS JOIN tots""".stripMargin
  }

  private def q214Sql(): String = funnelSql(
    s"""SELECT g.doc_id, g.ok_words, g.ok_stop, e.entropy_ok,
       |       (l.lang_pred = d.lang) AS ok_lang
       |FROM (${q156Sql()}) g
       |JOIN (${q201Sql(q201Lo, q201Hi)}) e USING (doc_id)
       |JOIN (${q199Sql()}) l USING (doc_id)
       |JOIN documents d USING (doc_id)""".stripMargin,
    q214Rules)

  /** Streaming twin of q156: the Gopher rule report is pure
    * per-document column arithmetic (zero shuffle), so it runs
    * stateless per micro-batch and admits identical rows — shares
    * q156's oracle (the q139 map-only-twin pattern).
    */
  private def q157(s: SparkSession, dir: String): DataFrame =
    StreamingPrep.runToMemory(
      graft.text.Quality.gopherGates(
        StreamingPrep.streamDocuments(s, dir), "doc_id", "text",
        minWords = 30, stopWords = Seq("the", "a"), minStopWords = 2))

  /** q123 oracle: the FULL curateCorpus composition in one DuckDB
    * chain, assembled from the per-stage fragments that are already
    * individually hash-gated (q110/q116 intake, q89 scrub, q82 gates,
    * q97 paragraph dedup, q100 fluency, q117 DSIR, q75 decontaminate,
    * q82 dedup+pack, q88 mixture). Stage order and every expression
    * tree mirror `Pipelines.curateCorpus` exactly.
    */
  private def q123Sql: String = {
    val w = q113Weights
    s"""WITH du AS (
       |  SELECT doc_id, text, lang, source,
       |         'http://' || source || CAST((doc_id // 2) % 5 AS VARCHAR)
       |           || '.com/d/' || CAST(doc_id // 2 AS VARCHAR) AS url
       |  FROM documents),
       |-- URL keep-first dedup: canonical = url minus scheme (host is
       |-- already lowercase, no www/port/query/trailing-slash)
       |own AS (
       |  SELECT substr(url, 8) AS ukey, min(doc_id) AS doc_id
       |  FROM du GROUP BY 1),
       |dedup0 AS (
       |  SELECT du.* FROM du JOIN own USING (doc_id)),
       |-- domain cap: registrable domain of the 2-label host = host
       |capd AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY regexp_extract(substr(url, 8), '^[^/?]*')
       |      ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM dedup0),
       |intake AS (SELECT doc_id, text, lang, source FROM capd WHERE rn <= 30),
       |-- PII scrub cascade (q89) + lang gate
       |sc1 AS (
       |  SELECT doc_id, lang, source,
       |    regexp_replace(text,
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
       |      '<EMAIL>', 'g') AS t1
       |  FROM intake WHERE lang = 'en'),
       |sc2 AS (
       |  SELECT doc_id, lang, source,
       |    regexp_replace(regexp_replace(t1,
       |      '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
       |      '<IP>', 'g'),
       |      '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g') AS text
       |  FROM sc1),
       |-- quality + repetition + classifier gates (q82/q87/q113 trees)
       |pr0 AS (
       |  SELECT doc_id, lang, source, text,
       |    regexp_split_to_array(trim(text), '\\s+') AS ws,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS wsl,
       |    list_filter(regexp_split_to_array(
       |      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |      x -> x <> '') AS wn
       |  FROM sc2),
       |wc AS (SELECT doc_id, w, count(*) AS c
       |       FROM (SELECT doc_id, unnest(wn) AS w FROM pr0) GROUP BY 1, 2),
       |rep AS (SELECT doc_id, max(c) AS top_word, sum(c) AS n_words
       |        FROM wc GROUP BY 1),
       |feat AS (
       |  SELECT p.doc_id, p.lang, p.source, p.text,
       |    CAST(len(p.ws) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(p.text) = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE len(regexp_replace(p.text, '[^.!?,;:]', '', 'g'))
       |              / CAST(len(p.text) AS DOUBLE) END AS pr,
       |    len(list_filter(p.wsl, x -> list_contains(
       |      ['the','a','an','and','or','of','to','in','is','it'], x)))
       |      / CAST(len(p.ws) AS DOUBLE) AS sr,
       |    r.top_word, r.n_words
       |  FROM pr0 p LEFT JOIN rep r USING (doc_id)),
       |gated AS (
       |  SELECT doc_id, lang, source, text, n_tokens
       |  FROM feat
       |  WHERE least(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE))
       |          * (CAST(1.0 AS DOUBLE) - pr) * (CAST(0.5 AS DOUBLE) + sr) > 0.3
       |    AND n_words > 0
       |    AND CAST(top_word AS DOUBLE) / n_words <= 0.5
       |    AND CAST(${w.bias} AS DOUBLE)
       |        + CAST(${w.lenSat} AS DOUBLE)
       |          * least(CAST(1.0 AS DOUBLE), n_tokens / CAST(${w.lenCap} AS DOUBLE))
       |        + CAST(${w.punct} AS DOUBLE) * pr
       |        + CAST(${w.stop} AS DOUBLE) * sr
       |        + CAST(${w.cpt} AS DOUBLE) * (CAST(len(text) AS DOUBLE) / n_tokens)
       |        > 0),
       |-- paragraph dedup: curateCorpus calls Dedup.paragraphDedup on
       |-- the REAL line structure (newline separator; q97's 15-word
       |-- chunking is that query's own pre-step, not the operator's).
       |-- Single-line fixture docs therefore dedup as whole lines.
       |pp AS (
       |  SELECT doc_id, u.i AS para_no, u.p AS para
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(str_split(text, chr(10)),
       |            (x, i) -> {'i': i, 'p': x})) AS u
       |        FROM gated)),
       |pt AS (
       |  SELECT doc_id, para_no, para,
       |         trim(para) = '' AS is_empty,
       |         md5(lower(trim(regexp_replace(para, '\\s+', ' ', 'g')))) AS k
       |  FROM pp),
       |pk AS (
       |  SELECT doc_id, para_no, para,
       |         CASE WHEN is_empty THEN TRUE
       |              ELSE row_number() OVER (PARTITION BY k
       |                     ORDER BY doc_id, para_no) = 1 END AS keep
       |  FROM pt),
       |pd AS (
       |  SELECT doc_id,
       |         coalesce(string_agg(CASE WHEN keep THEN para END,
       |                             chr(10) ORDER BY para_no), '') AS text
       |  FROM pk GROUP BY doc_id),
       |paraclean AS (
       |  SELECT g.doc_id, g.lang, g.source, pd.text,
       |    CAST(len(regexp_split_to_array(trim(pd.text), '\\s+')) AS BIGINT)
       |      AS n_tokens
       |  FROM gated g JOIN pd USING (doc_id)
       |  WHERE pd.text <> ''),
       |-- exact fluency tiers (q100) trained ON paraclean; keep tiers
       |-- 1..2 plus unscorable (< 2 normalized words)
       |ft AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(
       |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |           x -> x <> '') AS ws
       |  FROM paraclean),
       |fw AS (SELECT doc_id, ws FROM ft WHERE len(ws) >= 2),
       |fb AS (SELECT doc_id,
       |              unnest(list_transform(range(len(ws) - 1), i -> ws[i + 1])) AS w1,
       |              unnest(list_transform(range(len(ws) - 1), i -> ws[i + 2])) AS w2
       |       FROM fw),
       |fc2 AS (SELECT w1, w2, count(*) AS c2 FROM fb GROUP BY 1, 2),
       |fc1 AS (SELECT w1, count(*) AS c1 FROM fb GROUP BY 1),
       |fv AS (SELECT count(DISTINCT tok) AS v
       |       FROM (SELECT unnest(ws) AS tok FROM ft)),
       |fl AS (
       |  SELECT fb.doc_id, count(*) AS n_bigrams,
       |         sum(CAST(floor(1e9 * (CAST(fc2.c2 + 1 AS DOUBLE) /
       |                                CAST(fc1.c1 + fv.v AS DOUBLE))) AS BIGINT))
       |           AS fluency_fp
       |  FROM fb JOIN fc2 USING (w1, w2) JOIN fc1 USING (w1) CROSS JOIN fv
       |  GROUP BY fb.doc_id),
       |fbk AS (
       |  SELECT doc_id,
       |         ntile(3) OVER (
       |           ORDER BY CAST(floor(fluency_fp / n_bigrams) AS BIGINT) DESC,
       |                    doc_id) AS bucket
       |  FROM fl),
       |fluent AS (
       |  SELECT p.* FROM paraclean p LEFT JOIN fbk USING (doc_id)
       |  WHERE fbk.bucket IS NULL OR fbk.bucket < 3),
       |-- DSIR importance resample (q117): raw = fluent corpus grams,
       |-- target = RAW documents doc_id%10=3; keep affinity >= 1e9
       |it AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(
       |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |           x -> x <> '') AS ws
       |  FROM fluent),
       |tt0 AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(
       |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |           x -> x <> '') AS ws
       |  FROM documents WHERE doc_id % 10 = 3),
       |ig AS (SELECT doc_id,
       |         unnest(list_transform(range(len(ws) - 1),
       |           i -> ws[i + 1] || ' ' || ws[i + 2])) AS gram
       |       FROM it WHERE len(ws) >= 2),
       |tg AS (SELECT doc_id,
       |         unnest(list_transform(range(len(ws) - 1),
       |           i -> ws[i + 1] || ' ' || ws[i + 2])) AS gram
       |       FROM tt0 WHERE len(ws) >= 2),
       |ib AS (SELECT doc_id,
       |         CAST(('0x' || substr(md5(gram), 1, 6))::BIGINT % 65536 AS BIGINT)
       |           AS bucket
       |       FROM ig),
       |tb AS (SELECT CAST(('0x' || substr(md5(gram), 1, 6))::BIGINT % 65536
       |                AS BIGINT) AS bucket, count(*) AS t_cnt
       |       FROM tg GROUP BY 1),
       |tt AS (SELECT count(*) AS t_total FROM tg),
       |rb AS (SELECT bucket, count(*) AS r_cnt FROM ib GROUP BY 1),
       |rt AS (SELECT count(*) AS r_total FROM ib),
       |isc AS (
       |  SELECT ib.doc_id,
       |    CAST(floor(1e9
       |      * (CAST(COALESCE(tb.t_cnt, 0) + 1 AS DOUBLE)
       |         * CAST(rt.r_total + 65536 AS DOUBLE))
       |      / (CAST(tt.t_total + 65536 AS DOUBLE)
       |         * CAST(rb.r_cnt + 1 AS DOUBLE))) AS BIGINT) AS r
       |  FROM ib
       |  LEFT JOIN tb USING (bucket)
       |  JOIN rb USING (bucket)
       |  CROSS JOIN tt CROSS JOIN rt),
       |iaff AS (
       |  SELECT doc_id,
       |         CAST(floor(CAST(sum(r) AS DOUBLE) / count(*)) AS BIGINT)
       |           AS affinity_fp
       |  FROM isc GROUP BY doc_id),
       |selected AS (
       |  SELECT f.* FROM fluent f JOIN iaff USING (doc_id)
       |  WHERE iaff.affinity_fp >= 700000000),
       |-- decontamination (q75/q82): benchmark = doc_id%10=0 docs with
       |-- doubled spaces; fingerprints collide with unmangled text
       |bm AS (
       |  SELECT DISTINCT md5(trim(regexp_replace(
       |    lower(replace(text, ' ', '  ')), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents WHERE doc_id % 10 = 0),
       |cleaned AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM selected s
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM bm
       |    WHERE bm.fp = md5(trim(regexp_replace(lower(s.text), '\\s+', ' ', 'g'))))),
       |-- exact keep-first dedup on the fingerprint
       |dd AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
       |  FROM cleaned),
       |survivors AS (SELECT doc_id, lang, source, n_tokens FROM dd WHERE rk = 1),
       |-- lang-budget temperature mixture (q88), budget 150
       |mc AS (SELECT lang, count(*) AS n FROM survivors GROUP BY 1),
       |ms AS (SELECT sum(sqrt(n)) AS sw FROM mc),
       |mr AS (SELECT lang,
       |              least(CAST(1.0 AS DOUBLE),
       |                    CAST(150.0 AS DOUBLE) * sqrt(n) / sw / n) AS rate
       |       FROM mc CROSS JOIN ms),
       |sampled AS (
       |  SELECT s.* FROM survivors s JOIN mr USING (lang)
       |  WHERE ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 6))::BIGINT
       |        < rate * 16777216.0),
       |-- sequence packing by source (q82)
       |pc AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY source
       |                                  ORDER BY doc_id) AS BIGINT) AS cum
       |  FROM sampled)
       |SELECT doc_id, source, lang, n_tokens,
       |       (cum - n_tokens) // 1024 AS seq_id,
       |       (cum - n_tokens) % 1024 AS seq_offset
       |FROM pc""".stripMargin
  }

  /** q170 oracle: the default-config curation chain (scrub → quality/
    * repetition gates → decontaminate → exact dedup — the q123
    * fragments minus url/lang/classifier/paragraph/fluency/DSIR/
    * mixture) with the SemDeDup drop set
    * ([[graft.oracle.AnnOracles.semanticDroppedCtes]]) anti-joined
    * between dedup and packing, exactly where `curateCorpus` runs it.
    */
  private def q170Sql: String = {
    s"""WITH
       |-- PII scrub cascade (q89), all langs (default config)
       |sc1 AS (
       |  SELECT doc_id, lang, source,
       |    regexp_replace(text,
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
       |      '<EMAIL>', 'g') AS t1
       |  FROM documents),
       |sc2 AS (
       |  SELECT doc_id, lang, source,
       |    regexp_replace(regexp_replace(t1,
       |      '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
       |      '<IP>', 'g'),
       |      '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g') AS text
       |  FROM sc1),
       |-- quality + repetition gates (q82/q87 trees; no classifier)
       |pr0 AS (
       |  SELECT doc_id, lang, source, text,
       |    regexp_split_to_array(trim(text), '\\s+') AS ws,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS wsl,
       |    list_filter(regexp_split_to_array(
       |      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |      x -> x <> '') AS wn
       |  FROM sc2),
       |wc AS (SELECT doc_id, w, count(*) AS c
       |       FROM (SELECT doc_id, unnest(wn) AS w FROM pr0) GROUP BY 1, 2),
       |rep AS (SELECT doc_id, max(c) AS top_word, sum(c) AS n_words
       |        FROM wc GROUP BY 1),
       |feat AS (
       |  SELECT p.doc_id, p.lang, p.source, p.text,
       |    CAST(len(p.ws) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(p.text) = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE len(regexp_replace(p.text, '[^.!?,;:]', '', 'g'))
       |              / CAST(len(p.text) AS DOUBLE) END AS pr,
       |    len(list_filter(p.wsl, x -> list_contains(
       |      ['the','a','an','and','or','of','to','in','is','it'], x)))
       |      / CAST(len(p.ws) AS DOUBLE) AS sr,
       |    r.top_word, r.n_words
       |  FROM pr0 p LEFT JOIN rep r USING (doc_id)),
       |gated AS (
       |  SELECT doc_id, lang, source, text, n_tokens
       |  FROM feat
       |  WHERE least(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE))
       |          * (CAST(1.0 AS DOUBLE) - pr) * (CAST(0.5 AS DOUBLE) + sr) > 0.3
       |    AND n_words > 0
       |    AND CAST(top_word AS DOUBLE) / n_words <= 0.5),
       |-- decontamination (q75): benchmark = doc_id%10=0, doubled spaces
       |bm AS (
       |  SELECT DISTINCT md5(trim(regexp_replace(
       |    lower(replace(text, ' ', '  ')), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents WHERE doc_id % 10 = 0),
       |cleaned AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM gated s
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM bm
       |    WHERE bm.fp = md5(trim(regexp_replace(lower(s.text), '\\s+', ' ', 'g'))))),
       |-- exact keep-first dedup on the fingerprint
       |dd AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
       |  FROM cleaned),
       |survivors AS (SELECT doc_id, lang, source, n_tokens FROM dd WHERE rk = 1),
       |-- SemDeDup drop set over the documents' embedding rows
       |${graft.oracle.AnnOracles.semanticDroppedCtes(
           "SELECT vec_id AS id, embedding AS v FROM embeddings",
           450000000000L)},
       |semfinal AS (
       |  SELECT s.* FROM survivors s
       |  LEFT JOIN sem_dropped d ON d.id = s.doc_id
       |  WHERE d.id IS NULL),
       |-- sequence packing by source (q82)
       |pc AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY source
       |                                  ORDER BY doc_id) AS BIGINT) AS cum
       |  FROM semfinal)
       |SELECT doc_id, source, lang, n_tokens,
       |       (cum - n_tokens) // 1024 AS seq_id,
       |       (cum - n_tokens) % 1024 AS seq_offset
       |FROM pc""".stripMargin
  }

  /** q124 oracle: the frozen-model streaming curation chain's batch
    * equivalent (ordered ingest ⇒ identical results). Shares q123's
    * gate fragments; differs in the model sourcing — DSIR counts come
    * from the RAW corpus snapshot (the frozen model), mixture rates
    * from raw lang counts, and there is no URL intake (that family
    * composes via its own index twin).
    */
  private def q124Sql: String = {
    val w = q113Weights
    s"""WITH sc1 AS (
       |  SELECT doc_id, lang, source,
       |    regexp_replace(text,
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
       |      '<EMAIL>', 'g') AS t1
       |  FROM documents WHERE lang = 'en'),
       |sc2 AS (
       |  SELECT doc_id, lang, source,
       |    regexp_replace(regexp_replace(t1,
       |      '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
       |      '<IP>', 'g'),
       |      '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g') AS text
       |  FROM sc1),
       |pr0 AS (
       |  SELECT doc_id, lang, source, text,
       |    regexp_split_to_array(trim(text), '\\s+') AS ws,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS wsl,
       |    list_filter(regexp_split_to_array(
       |      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |      x -> x <> '') AS wn
       |  FROM sc2),
       |wc AS (SELECT doc_id, w, count(*) AS c
       |       FROM (SELECT doc_id, unnest(wn) AS w FROM pr0) GROUP BY 1, 2),
       |rep AS (SELECT doc_id, max(c) AS top_word, sum(c) AS n_words
       |        FROM wc GROUP BY 1),
       |feat AS (
       |  SELECT p.doc_id, p.lang, p.source, p.text,
       |    CAST(len(p.ws) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(p.text) = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE len(regexp_replace(p.text, '[^.!?,;:]', '', 'g'))
       |              / CAST(len(p.text) AS DOUBLE) END AS pr,
       |    len(list_filter(p.wsl, x -> list_contains(
       |      ['the','a','an','and','or','of','to','in','is','it'], x)))
       |      / CAST(len(p.ws) AS DOUBLE) AS sr,
       |    r.top_word, r.n_words
       |  FROM pr0 p LEFT JOIN rep r USING (doc_id)),
       |gated AS (
       |  SELECT doc_id, lang, source, text, n_tokens
       |  FROM feat
       |  WHERE least(CAST(1.0 AS DOUBLE), n_tokens / CAST(100.0 AS DOUBLE))
       |          * (CAST(1.0 AS DOUBLE) - pr) * (CAST(0.5 AS DOUBLE) + sr) > 0.3
       |    AND n_words > 0
       |    AND CAST(top_word AS DOUBLE) / n_words <= 0.5
       |    AND CAST(${w.bias} AS DOUBLE)
       |        + CAST(${w.lenSat} AS DOUBLE)
       |          * least(CAST(1.0 AS DOUBLE), n_tokens / CAST(${w.lenCap} AS DOUBLE))
       |        + CAST(${w.punct} AS DOUBLE) * pr
       |        + CAST(${w.stop} AS DOUBLE) * sr
       |        + CAST(${w.cpt} AS DOUBLE) * (CAST(len(text) AS DOUBLE) / n_tokens)
       |        > 0),
       |-- frozen DSIR model: counts from the RAW corpus snapshot
       |rtok AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(
       |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |           x -> x <> '') AS ws
       |  FROM documents),
       |rg AS (SELECT doc_id,
       |         unnest(list_transform(range(len(ws) - 1),
       |           i -> ws[i + 1] || ' ' || ws[i + 2])) AS gram
       |       FROM rtok WHERE len(ws) >= 2),
       |rb2 AS (SELECT CAST(('0x' || substr(md5(gram), 1, 6))::BIGINT % 65536
       |                 AS BIGINT) AS bucket, count(*) AS r_cnt
       |        FROM rg GROUP BY 1),
       |rt2 AS (SELECT count(*) AS r_total FROM rg),
       |tb2 AS (SELECT CAST(('0x' || substr(md5(gram), 1, 6))::BIGINT % 65536
       |                 AS BIGINT) AS bucket, count(*) AS t_cnt
       |        FROM rg g JOIN documents d USING (doc_id)
       |        WHERE d.doc_id % 10 = 3 GROUP BY 1),
       |tt2 AS (SELECT count(*) AS t_total FROM rg g
       |        JOIN documents d USING (doc_id) WHERE d.doc_id % 10 = 3),
       |-- score the GATED (scrubbed) text under the frozen counts
       |gtok AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(
       |           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |           x -> x <> '') AS ws
       |  FROM gated),
       |gg AS (SELECT doc_id,
       |         unnest(list_transform(range(len(ws) - 1),
       |           i -> ws[i + 1] || ' ' || ws[i + 2])) AS gram
       |       FROM gtok WHERE len(ws) >= 2),
       |gsc AS (
       |  SELECT gg.doc_id,
       |    CAST(floor(1e9
       |      * (CAST(COALESCE(tb2.t_cnt, 0) + 1 AS DOUBLE)
       |         * CAST(rt2.r_total + 65536 AS DOUBLE))
       |      / (CAST(tt2.t_total + 65536 AS DOUBLE)
       |         * CAST(COALESCE(rb2.r_cnt, 0) + 1 AS DOUBLE))) AS BIGINT) AS r
       |  FROM gg
       |  LEFT JOIN tb2 ON tb2.bucket =
       |    CAST(('0x' || substr(md5(gg.gram), 1, 6))::BIGINT % 65536 AS BIGINT)
       |  LEFT JOIN rb2 ON rb2.bucket =
       |    CAST(('0x' || substr(md5(gg.gram), 1, 6))::BIGINT % 65536 AS BIGINT)
       |  CROSS JOIN tt2 CROSS JOIN rt2),
       |gaff AS (
       |  SELECT doc_id,
       |         CAST(floor(CAST(sum(r) AS DOUBLE) / count(*)) AS BIGINT)
       |           AS affinity_fp
       |  FROM gsc GROUP BY doc_id),
       |selected AS (
       |  SELECT g.* FROM gated g JOIN gaff USING (doc_id)
       |  WHERE gaff.affinity_fp >= 175000000),
       |bm AS (
       |  SELECT DISTINCT md5(trim(regexp_replace(
       |    lower(replace(text, ' ', '  ')), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents WHERE doc_id % 10 = 0),
       |cleaned AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM selected s
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM bm
       |    WHERE bm.fp = md5(trim(regexp_replace(lower(s.text), '\\s+', ' ', 'g'))))),
       |dd AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
       |  FROM cleaned),
       |survivors AS (SELECT doc_id, lang, source, n_tokens FROM dd WHERE rk = 1),
       |-- frozen mixture: rates from the RAW corpus lang counts
       |mc AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
       |ms AS (SELECT sum(sqrt(n)) AS sw FROM mc),
       |mr AS (SELECT lang,
       |              least(CAST(1.0 AS DOUBLE),
       |                    CAST(150.0 AS DOUBLE) * sqrt(n) / sw / n) AS rate
       |       FROM mc CROSS JOIN ms),
       |sampled AS (
       |  SELECT s.* FROM survivors s JOIN mr USING (lang)
       |  WHERE ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 6))::BIGINT
       |        < rate * 16777216.0),
       |pc AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY source
       |                                  ORDER BY doc_id) AS BIGINT) AS cum
       |  FROM sampled)
       |SELECT doc_id, source, lang, n_tokens,
       |       (cum - n_tokens) // 1024 AS seq_id,
       |       (cum - n_tokens) % 1024 AS seq_offset
       |FROM pc""".stripMargin
  }

  /** Shared by q76 (batch window) and q81 (stateful streaming twin). */
  private val sequencePackSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |           AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, n_tokens,
      |         CAST(sum(n_tokens) OVER (PARTITION BY lang
      |                                  ORDER BY doc_id) AS BIGINT) AS cum
      |  FROM t)
      |SELECT doc_id, lang, n_tokens,
      |       (cum - n_tokens) // 2048 AS seq_id,
      |       (cum - n_tokens) % 2048 AS seq_offset
      |FROM c""".stripMargin

  /** Shared by q75 (batch) and q77 (streaming twin). NOT EXISTS, not
    * NOT IN: a NULL fingerprint on either side of NOT IN collapses the
    * predicate to UNKNOWN (three-valued logic) while Spark's left_anti
    * keeps null-keyed rows — NOT EXISTS matches left_anti exactly.
    */
  private val decontaminateSql: String =
    """WITH bm AS (
      |  SELECT DISTINCT md5(trim(regexp_replace(
      |    lower(replace(text, ' ', '  ')), '\s+', ' ', 'g'))) AS fp
      |  FROM documents WHERE doc_id % 10 = 0)
      |SELECT doc_id, source FROM documents d
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM bm
      |  WHERE bm.fp = md5(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g'))))""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_project_filter" ->
      """SELECT l_orderkey AS okey, l_partkey AS pkey, l_quantity AS qty,
        |       l_extendedprice AS price
        |FROM lineitem WHERE l_quantity < 10""".stripMargin,
    "q02_dedup_full" ->
      s"""$ratingsCte
         |SELECT DISTINCT "user", item, rating, "time" FROM ratings""".stripMargin,
    "q03_dedup_keeplast" ->
      s"""$ratingsCte
         |SELECT "user", item, rating, "time" FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY "user", item
         |    ORDER BY "time" DESC, event_id DESC) AS rn
         |  FROM ratings) WHERE rn = 1""".stripMargin,
    "q04_split_train" ->
      s"""$ratingsCte
         |SELECT "user", item, rating, "time" FROM ratings
         |WHERE event_id % 10 < 7""".stripMargin,
    "q05_split_test" ->
      s"""$ratingsCte
         |SELECT "user", item, rating, "time" FROM ratings
         |WHERE event_id % 10 >= 7""".stripMargin,
    "q06_encode_dim" ->
      s"""$ratingsCte
         |SELECT "user",
         |       CAST(row_number() OVER (ORDER BY first_seen, "user") - 1 AS INT) AS u_id
         |FROM (SELECT "user", min("time") AS first_seen
         |      FROM ratings GROUP BY "user")""".stripMargin,
    "q07_global_stats" ->
      s"""$ratingsCte
         |SELECT count(*) AS n_ratings,
         |       count(DISTINCT "user") AS n_users,
         |       count(DISTINCT item) AS n_items,
         |       min(rating) AS min_rating,
         |       max(rating) AS max_rating,
         |       ${favgSql("rating")} AS mean_rating
         |FROM ratings""".stripMargin,
    "q08_json_extract" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,
    "q09_csv_roundtrip" ->
      s"""$ratingsCte
         |SELECT "user", item, rating, "time" FROM ratings""".stripMargin,
    "q24_json_etl" ->
      s"""$ratingsCte
         |SELECT "user", item, rating, "time" FROM ratings""".stripMargin,
    "q10_tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       ${fsumSql("l_quantity")} AS sum_qty,
         |       ${fsumSql("l_extendedprice")} AS sum_price,
         |       ${fsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |       ${favgSql("l_quantity")} AS avg_qty,
         |       ${favgSql("l_discount")} AS avg_disc,
         |       count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate < TIMESTAMP '1998-09-01'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q11_user_agg" ->
      s"""$ratingsCte
         |SELECT "user", ${fsumSql("rating")} AS sum_rating,
         |       count(*) AS n, count(DISTINCT item) AS n_items
         |FROM ratings GROUP BY "user"""".stripMargin,
    "q12_item_agg" ->
      s"""$ratingsCte
         |SELECT item, ${fsumSql("rating")} AS sum_rating, count(*) AS n
         |FROM ratings GROUP BY item""".stripMargin,
    "q13_join_broadcast" ->
      s"""SELECT p_brand,
         |       ${fsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |       count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand""".stripMargin,
    "q14_join_multiway" ->
      s"""SELECT r_name, n_name,
         |       ${fsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q15_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)""".stripMargin,
    "q16_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 260000)""".stripMargin,
    "q17_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (
        |           PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "q18_window_running" ->
      """SELECT event_id, user_id,
        |       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e6
        |         AS running_value
        |FROM events""".stripMargin,
    "q19_global_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q20_intersect" ->
      """SELECT CAST(c_nationkey AS INT) AS nkey FROM customer
        |INTERSECT
        |SELECT CAST(s_nationkey AS INT) AS nkey FROM supplier""".stripMargin,
    "q21_except" ->
      """SELECT c_custkey AS key FROM customer
        |EXCEPT
        |SELECT o_custkey AS key FROM orders
        |WHERE o_totalprice > 260000""".stripMargin,
    "q22_union_all" ->
      """SELECT c_custkey AS key, c_acctbal AS bal, 'customer' AS side FROM customer
        |UNION ALL
        |SELECT s_suppkey AS key, s_acctbal AS bal, 'supplier' AS side FROM supplier""".stripMargin,
    "q23_scalar_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |       abs(l_discount - 0.05) AS abs_d,
        |       l_quantity * l_quantity AS qty_sq,
        |       round(sqrt(l_extendedprice), 6) AS sqrt_price,
        |       CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_d,
        |       least(greatest(l_quantity, 5.0), 45.0) AS clipped_qty,
        |       CAST(l_quantity AS INT) AS qty_int
        |FROM lineitem""".stripMargin,
    "q28_rollup" ->
      s"""SELECT r_name, n_name, count(*) AS n_cust,
         |       ${fsumSql("c_acctbal")} AS sum_bal
         |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,
    "q29_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |       ${fsumSql("o_totalprice")} AS sum_price
         |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q37_bucketed_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |       ${fsumSql("o_totalprice")} AS sum_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""".stripMargin,
    "q38_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'error'),
        |     r AS (SELECT user_id, epoch_us(ts) AS pt,
        |                  max(event_id) AS p_id
        |           FROM events WHERE event_type = 'purchase'
        |           GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.t, r.p_id
        |FROM l ASOF JOIN r
        |ON l.user_id = r.user_id AND l.t >= r.pt""".stripMargin,
    "q59_audio_windows" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS len
        |  FROM documents WHERE doc_id % 3 = 1),
        |w AS (
        |  SELECT media_id, len,
        |         unnest(range((len + 127) // 128)) AS win_no
        |  FROM m WHERE len > 0)
        |SELECT media_id, win_no, win_no * 128 AS "offset",
        |       least(256, len - win_no * 128) AS win_len
        |FROM w""".stripMargin,
    "q40_text_profile" -> textProfileSql,
    "q60_vocabulary" ->
      """SELECT t.token, count(*) AS n_occurrences,
        |       count(DISTINCT doc_id) AS doc_freq
        |FROM (SELECT doc_id,
        |        unnest(regexp_split_to_array(
        |          trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
        |      FROM documents) t
        |GROUP BY t.token
        |ORDER BY n_occurrences DESC, t.token
        |LIMIT 50""".stripMargin,
    "q84_chunk_tokens" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         regexp_split_to_array(
        |           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ws, len(ws) AS n,
        |         greatest(1, CAST(ceil(CAST(len(ws) - 8 AS DOUBLE) / 24) AS INT)) AS nchunks
        |  FROM t WHERE len(ws) > 0),
        |e AS (SELECT doc_id, ws, n, unnest(range(nchunks)) AS i FROM c)
        |SELECT doc_id, CAST(i AS INT) AS chunk_no,
        |       CAST(i * 24 AS INT) AS chunk_start,
        |       CAST(least(32, n - i * 24) AS INT) AS n_chunk_tokens,
        |       array_to_string(ws[CAST(i * 24 + 1 AS INT) : CAST(i * 24 + 32 AS INT)], ' ')
        |         AS chunk_text
        |FROM e""".stripMargin,
    "q85_bigram_fluency" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         regexp_split_to_array(
        |           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 2),
        |b AS (SELECT doc_id,
        |             unnest(list_transform(range(len(ws) - 1), i -> ws[i + 1])) AS w1,
        |             unnest(list_transform(range(len(ws) - 1), i -> ws[i + 2])) AS w2
        |      FROM w),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v
        |      FROM (SELECT unnest(ws) AS tok FROM t))
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |       CAST(sum(CAST(floor(1e9 * (CAST(c2.c2 + 1 AS DOUBLE) /
        |                                  CAST(c1.c1 + v.v AS DOUBLE))) AS BIGINT))
        |            AS BIGINT) AS fluency_fp
        |FROM b
        |JOIN c2 USING (w1, w2)
        |JOIN c1 USING (w1)
        |CROSS JOIN v
        |GROUP BY b.doc_id""".stripMargin,
    "q87_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(
        |           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'),
        |           x -> x <> '') AS ws
        |  FROM documents
        |  WHERE len(list_filter(regexp_split_to_array(
        |          trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'),
        |          x -> x <> '')) > 0),
        |wc AS (SELECT doc_id, w, count(*) AS c
        |       FROM (SELECT doc_id, unnest(ws) AS w FROM t) GROUP BY 1, 2),
        |wstat AS (SELECT doc_id, CAST(sum(c) AS INTEGER) AS n_words,
        |                 CAST(count(*) AS INTEGER) AS n_distinct,
        |                 CAST(max(c) AS INTEGER) AS top_word
        |          FROM wc GROUP BY 1),
        |bg AS (SELECT doc_id,
        |              unnest(list_transform(range(len(ws) - 1),
        |                i -> ws[i + 1] || ' ' || ws[i + 2])) AS b
        |       FROM t WHERE len(ws) >= 2),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |bstat AS (SELECT doc_id, CAST(max(c) AS INTEGER) AS top_bigram
        |          FROM bc GROUP BY 1)
        |SELECT w.doc_id, n_words, n_distinct,
        |       CAST(top_word AS DOUBLE) / n_words AS top_word_ratio,
        |       CAST(n_words - n_distinct AS DOUBLE) / n_words AS dup_word_frac,
        |       CASE WHEN n_words < 2 THEN 0.0
        |            ELSE CAST(coalesce(top_bigram, 0) AS DOUBLE) / (n_words - 1)
        |       END AS top_bigram_ratio
        |FROM wstat w LEFT JOIN bstat USING (doc_id)""".stripMargin,
    "q88_mixture_sample" -> mixtureSampleSql,
    "q93_stream_mixture" -> mixtureSampleSql,
    // row-level split-assignment gate: same md5-prefix decision, any
    // engine; null langs hash as '' and take the default fraction
    "q80b_stratified_split_portable" ->
      """SELECT doc_id, lang,
        |       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
        |                           coalesce(lang, '')), 1, 6))::BIGINT
        |       < (CASE lang WHEN 'en' THEN 0.1 WHEN 'de' THEN 0.3
        |                    WHEN 'zh' THEN 0.5 ELSE 0.2 END) * 16777216.0
        |         AS held
        |FROM documents""".stripMargin,
    "q89_redact_pii" -> redactPiiSql,
    "q91_stream_redact" -> redactPiiSql,
    // CAST(sum(BIGINT) AS BIGINT) is load-bearing: DuckDB promotes
    // integer sums to HUGEINT (int128), which the driver's comparator
    // renders differently from Spark's BIGINT → spurious hash mismatch
    // with rows/schema green (the exact q94/q96 signature in
    // CORRECTNESS_r05). q73 always had the cast and always passed.
    "q94_compaction" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang""".stripMargin,
    "q96_zorder" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(user_id) AS BIGINT) AS sum_users,
         |       ${fsumSql("value")} AS sum_value
         |FROM events GROUP BY event_type""".stripMargin,
    // Same 15-word chunking, normalization, keep-first owner election
    // (row_number == Spark's min-struct — both are (doc_id, para_no)
    // lexicographic) and string_agg reassembly as q97's Spark side.
    "q97_paragraph_dedup" -> paragraphDedupSql,
    // the streaming twin is exactness-preserving under ordered ingest
    // (doc_id-midpoint file batches) — same oracle, hash-gated
    "q101_stream_paragraph_dedup" -> paragraphDedupSql,
    "q98_bpe_merges" -> bpeMergesSql(rounds = 6, maxVocab = 100),
    "q103_bpe_token_count" -> bpeTokenCountSql(rounds = 6, maxVocab = 100),
    // train on doc_id%2=0, tokenize the disjoint doc_id%10=1 corpus
    // under the saved/reloaded merge artifact; every test word replays
    // the 64 trained merges from characters (replay == vocab lookup
    // for trained words, exact OOV encoding for the rest)
    "q106_bpe_second_corpus" -> bpeSecondCorpusSql(rounds = 64, maxVocab = 100),
    // DuckDB replay of Urls.canonicalizeUrl over the synthetic raw
    // URLs (same CTE chain for all three; q111 plants colliding
    // recrawl pairs, q112 rolls up to registrable domains)
    "q110_url_canonicalize" ->
      s"""${urlCanonSql(urlMixedSql)}
         |SELECT crawl_id AS doc_id, url_canon, domain FROM canon""".stripMargin,
    // PSL-mode twin: domain from the generated PublicSuffix CASE (same
    // rule snapshot as the engine)
    "q110b_url_canonicalize_psl" ->
      s"""${urlCanonPslSql(urlPslSql)}
         |SELECT crawl_id AS doc_id, url_canon, domain FROM canon""".stripMargin,
    "q111_url_dedup" ->
      s"""${urlCanonSql(s"$urlCrawlASql UNION ALL $urlCrawlBSql")}
         |SELECT url_canon, min(crawl_id) AS owner_id, count(*) AS n_crawls
         |FROM canon GROUP BY url_canon""".stripMargin,
    "q112_domain_stats" ->
      s"""${urlCanonSql(urlMixedSql)}
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT url_canon) AS BIGINT) AS n_urls
         |FROM canon GROUP BY domain""".stripMargin,
    "q112b_domain_stats_psl" ->
      s"""${urlCanonPslSql(urlPslSql)}
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT url_canon) AS BIGINT) AS n_urls
         |FROM canon GROUP BY domain""".stripMargin,
    // fixed-weight linear quality gate: q40's feature fragments + an
    // all-DOUBLE-cast dot product (decimal literals would otherwise
    // route through DuckDB decimal arithmetic and drift a ulp)
    "q113_quality_score" -> qualityScoreSql(q113Weights),
    "q115_shuffle_shards" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 8 AS BIGINT) AS shard,
        |  md5('42|' || CAST(doc_id AS VARCHAR)) AS sort_key
        |FROM documents""".stripMargin,
    // deterministic per-domain cap: survivors are the 3 smallest
    // md5(42|doc_id) per registrable domain (same canon CTE chain,
    // same md5 text-prefix machinery as q115/q80b)
    "q116_domain_cap" ->
      s"""${urlCanonSql(urlMixedSql)},
         |capped AS (
         |  SELECT crawl_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY md5('42|' || CAST(crawl_id AS VARCHAR)), crawl_id) AS rn
         |  FROM canon)
         |SELECT crawl_id AS doc_id, domain FROM capped WHERE rn <= 3""".stripMargin,
    "q116b_domain_cap_psl" ->
      s"""${urlCanonPslSql(urlPslSql)},
         |capped AS (
         |  SELECT crawl_id, domain,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY md5('42|' || CAST(crawl_id AS VARCHAR)), crawl_id) AS rn
         |  FROM canon)
         |SELECT crawl_id AS doc_id, domain FROM capped WHERE rn <= 3""".stripMargin,
    // the full-composition curation chain — see q123Sql
    "q123_curation_full" -> q123Sql,
    // the frozen-model streaming curation twin — see q124Sql
    "q124_stream_curation" -> q124Sql,
    "q125_hll_registers" -> graft.oracle.SketchOracles.hllRegistersSql(
      """SELECT "user" AS s FROM ratings""",
      withHead = ratingsCte + ","),
    // merged per-shard registers must equal the whole-corpus registers
    // — same oracle, by design (mergeability is the contract)
    "q126_hll_merge" -> graft.oracle.SketchOracles.hllRegistersSql(
      """SELECT "user" AS s FROM ratings""",
      withHead = ratingsCte + ","),
    "q127_cm_sketch" -> graft.oracle.SketchOracles.cmSketchSql(
      "SELECT item AS s FROM ratings",
      withHead = ratingsCte + ","),
    "q128_hist_registers" -> graft.oracle.SketchOracles.histRegistersSql(
      "SELECT rating AS v FROM ratings", lo = 0.0, hi = 512.0,
      withHead = ratingsCte + ","),
    // rolling streaming fold == batch registers over everything (HLL
    // max-merge is order- and replay-insensitive)
    "q129_stream_hll" -> graft.oracle.SketchOracles.hllRegistersSql(
      "SELECT CAST(doc_id AS VARCHAR) AS s FROM documents"),
    // the partitioned-sink fold == the batch sketch (q127's oracle)
    "q130_stream_cm" -> graft.oracle.SketchOracles.cmSketchSql(
      "SELECT item AS s FROM ratings",
      withHead = ratingsCte + ","),
    "q131_bloom_bits" -> graft.oracle.SketchOracles.bloomBitsSql(
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS s
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    "q132_bloom_probe" -> graft.oracle.SketchOracles.bloomProbeSql(
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS s
        |FROM documents""".stripMargin,
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS s
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    "q133_pagerank_fixed" -> q133Sql(),
    // frozen-vocab WordPiece: the oracle re-derives the vocabulary from
    // the same even-doc_id slice and replays greedy longest-match via a
    // precomputed (word, pos) → max-match-length table + WordCap
    // unrolled steps
    "q136_wordpiece" -> graft.oracle.WordPieceOracles.tokenStatsSql(),
    // domain-graph PageRank: q110's canon chain + q133's modular link
    // rules lifted to domain edges, same unrolled integer replay
    "q137_domain_pagerank" -> q137Sql(),
    // the rank-rate composition: centrality-weighted mixture sampling
    "q138_rank_mixture" -> q138Sql(),
    // frozen-rates streaming twin — admits identical rows, same oracle
    "q142_stream_rank_mixture" -> q138Sql(),
    // map-only streaming twin — same rows as q136, same oracle
    "q139_stream_wordpiece" -> graft.oracle.WordPieceOracles.tokenStatsSql(),
    // artifact lifecycle: reloaded vocab tokenizes the disjoint slice
    "q145_wordpiece_artifact" -> graft.oracle.WordPieceOracles
      .tokenStatsSql(applyWhere = "WHERE doc_id % 10 = 1"),
    // per-source [UNK]-rate drift table (same vocab + match machinery)
    "q147_wordpiece_coverage" -> graft.oracle.WordPieceOracles.coverageSql(),
    // streaming coverage fold — same totals as q147, same oracle
    "q151_stream_wordpiece_coverage" ->
      graft.oracle.WordPieceOracles.coverageSql(),
    // hashed-rejection negative sampling, trials replayed via the
    // xxhash64 SQL construction
    "q148_negative_sample" -> q148Sql(),
    // round-robin positive×negative pairing over the same chain
    "q149_bpr_triplets" -> q149Sql(),
    // crawl-snapshot audit: full-outer fingerprint diff
    "q140_snapshot_diff" -> q140Sql,
    // best-k-per-domain under the quality model (PSL canon × q113
    // scoring × domain-partitioned row_number)
    "q141_domain_topk" -> q141Sql(),
    // centrality-ranked best-k: q137 replay x q141 window composition
    "q152_rank_best_k" -> q152Sql(),
    // BM25 top-k: fixed-point per-term weights summed as longs
    "q153_bm25_topk" -> q153Sql(),
    // retrieval shortlist × per-pair n-gram overlap audit
    "q154_retrieval_decontaminate" -> q154Sql(),
    // Gopher rule gates: all-integer cross-multiplied thresholds
    "q156_gopher_gates" -> q156Sql(),
    // map-only streaming twin — identical rows, same oracle
    "q157_stream_gopher_gates" -> q156Sql(),
    // HITS: unrolled max-normalized fixed-point replay (q133 class)
    "q158_hits_fixed" -> q158Sql(),
    // Unigram-LM: vocab re-derivation + unrolled integer-Viterbi replay
    "q159_unigram" -> graft.oracle.UnigramOracles.tokenStatsSql(),
    "q197_perplexity_buckets" -> graft.oracle.UnigramOracles.perplexitySql(
      headBelowFp = q197Head, midBelowFp = q197Mid),
    "q198_group_sample_exact" -> q198Sql(),
    "q199_langid_ngram" -> q199Sql(),
    // stateless map-only twin — the stream admits identical rows and
    // shares q199's oracle verbatim (the q161/q180 pattern)
    "q200_stream_langid" -> q199Sql(),
    "q201_entropy_gate" -> q201Sql(q201Lo, q201Hi),
    "q202_dup_clusters" -> graft.oracle.MinHashOracles.q202Sql(),
    "q203_mlm_mask" -> graft.oracle.ExampleOracles.q203Sql(),
    "q204_span_corrupt" -> graft.oracle.ExampleOracles.q204Sql(),
    "q205_shard_assign" -> graft.oracle.ExampleOracles.q205Sql(nShards = 8),
    "q206_shard_manifest" -> graft.oracle.ExampleOracles.q206Sql(nShards = 8),
    // stateless map-only twin under the frozen vocab artifact — the
    // stream admits identical rows and shares q203's oracle verbatim
    "q207_stream_mlm_mask" -> graft.oracle.ExampleOracles.q203Sql(),
    "q208_random_projection" -> graft.oracle.AnnOracles.q208Sql(),
    "q209_proj_refine_topk" -> graft.oracle.AnnOracles.q209Sql(),
    // the oracle derives the interleaved order via an ACTUAL global
    // sort, gating the engine's closed-form shuffle-free ordinal
    // against the naive definition
    "q210_curriculum_order" -> q210Sql(),
    // full train→score lifecycle replay: the oracle re-derives the
    // frozen counts from the same slice (the q159 discipline)
    "q211_bigram_perplexity" -> graft.oracle.BigramLmOracles.q211Sql(
      headBelowFp = q211Head, midBelowFp = q211Mid),
    // streaming manifest: count/sum/bit_xor are all merge-commutative,
    // so the complete-mode streaming aggregation over any micro-batch
    // split equals the batch manifest — shares q206's oracle verbatim
    "q212_stream_manifest" -> graft.oracle.ExampleOracles.q206Sql(nShards = 8),
    "q213_gate_funnel" -> q213Sql(),
    "q214_cross_family_funnel" -> q214Sql(),
    "q215_manifest_diff" -> graft.oracle.ExampleOracles.q215Sql(
      nShards = 8,
      baseSrc = "SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0",
      curSrc = "SELECT doc_id, text FROM documents"),
    "q216_pmi_collocations" -> graft.oracle.BigramLmOracles.q216Sql(),
    // incremental fold == full recompute (min-label closure is
    // associative over edge unions) — shares q202's oracle verbatim
    "q217_cc_incremental" -> graft.oracle.MinHashOracles.q202Sql(),
    // streaming labels-table fold: same associativity argument per
    // micro-batch (the q212 merge-commutativity pattern) — q202's oracle
    "q218_stream_cc_labels" -> graft.oracle.MinHashOracles.q202Sql(),
    // one-call export driver: q206's manifest SQL over the re-derived
    // default-config curated corpus (q170-class fragments, text kept)
    "q219_export_pipeline" -> graft.oracle.ExampleOracles.q206Sql(
      nShards = 8, docsSrc = q219CuratedSql),
    // q214's funnel + the bigram-LM perplexity gate (q211 lifecycle)
    "q220_bigram_funnel" -> q220Sql(),
    // quota-by-arrival admission under ordered ingest: batch ranks then
    // remaining-quota ranks, both by the batch cap's (md5, id) order
    "q221_stream_domain_cap" -> q221Sql(),
    // Kneser–Ney: same frozen counts as q211, fan-outs re-derived from
    // the retained bigram table, discount chain replayed per term
    "q222_kneser_ney_perplexity" -> graft.oracle.BigramLmOracles.q222Sql(
      headBelowFp = q222Head, midBelowFp = q222Mid),
    // sliding-window chunk grid + slices replayed verbatim
    "q223_chunk_documents" -> q223Sql(),
    // NSP: segment grid + coin/bucket/rank xxhash decisions + the
    // bucketed dense-rank negative pick, all replayed
    "q224_nsp_pairs" -> graft.oracle.ExampleOracles.q224Sql(),
    // planted PANs; candidate regex + the integer Luhn fold replayed
    "q225_credit_card_audit" -> q225Sql(),
    // rank-frequency moments integer fixed-point; ln chains portable
    "q226_zipf_fit" -> q226Sql(),
    // stateless map-only twins — identical rows, shared oracles
    "q227_stream_chunk" -> q223Sql(),
    "q228_stream_card_audit" -> q225Sql(),
    // asymmetric containment: shared band chain + exact i/|bench| verify
    "q229_containment_pairs" -> graft.oracle.MinHashOracles.q229Sql(),
    // winnowing: window argmin fold replayed struct-for-struct over
    // the re-derived signed gram hashes
    "q230_winnow_fingerprints" -> q230Sql(),
    // per-doc-independent vs the frozen benchmark — any batch split
    // folds to the batch run; shares q229's oracle verbatim
    "q231_stream_containment" -> graft.oracle.MinHashOracles.q229Sql(),
    // C4 line/page rules over the planted multi-line corpus
    "q232_c4_line_filter" -> c4FilterSql,
    // stateless map-only twin — identical rows, shared oracle
    "q233_stream_c4_filter" -> c4FilterSql,
    // frozen-centroid d² hardness rank, cross-multiplied keep test
    "q234_prototypicality_prune" -> graft.oracle.AnnOracles.q234Sql(),
    // literal-range charset counts over the chr()-planted corpus
    "q235_charset_profile" -> charsetProfileSql,
    // stateless map-only twin — identical rows, shared oracle
    "q236_stream_charset" -> charsetProfileSql,
    // Unicode NFC: both engines implement the same standard
    "q237_nfc_normalize" -> nfcNormalizeSql,
    // ORC round-trip: oracle reads the parquet original
    "q238_orc_roundtrip" -> orcRoundtripSql,
    // sentence-boundary rewrite + the q97 keep-first replay
    "q239_sentence_dedup" -> sentenceDedupSql,
    // epoch-salted shard/order hashes replayed via DuckDbXxHash
    "q240_epoch_shuffle" -> graft.oracle.ExampleOracles
      .q240Sql(nEpochs = 3, nShards = 8),
    // C0/DEL strip over the chr()-planted corpus (all < 128)
    "q241_sanitize_ctrl" -> sanitizeCtrlSql,
    // stateless map-only twin — identical rows, shared oracle
    "q242_stream_sanitize" -> sanitizeCtrlSql,
    // the strip → NFC → C4 composition, replayed stage for stage
    "q243_intake_clean" -> intakeCleanSql,
    // stateless map-only twin — identical rows, shared oracle
    "q244_stream_intake" -> intakeCleanSql,
    // per-source rollup of the verdict frame (HUGEINT sums re-cast).
    // Built by plain concatenation: a second stripMargin over the
    // embedded SQL would eat the first bar of every line-leading `||`
    "q245_intake_report" ->
      ("SELECT d.source, count(*) AS n_docs,\n" +
        "  CAST(sum(CASE WHEN v.keep_doc THEN 1 ELSE 0 END) AS BIGINT)" +
        " AS n_keep,\n" +
        "  CAST(sum(v.n_kept) AS BIGINT) AS n_lines_kept,\n" +
        "  CAST(sum(v.n_ctrl_removed) AS BIGINT) AS n_ctrl_removed,\n" +
        "  CAST(sum(v.n_nonascii) AS BIGINT) AS n_nonascii\n" +
        s"FROM ($intakeCleanSql) v\n" +
        "JOIN documents d USING (doc_id)\nGROUP BY 1"),
    // A-ES key u^(1/w) as ln(u)/w; u from the xxh64 replay
    "q246_weighted_sample" -> q246Sql,
    // token-level blocklist membership over the planted corpus
    "q247_blocklist_gate" -> blocklistSql,
    // the A-ES key ranked per group (WindowGroupLimit shape)
    "q248_group_weighted_sample" -> q248Sql,
    // stateless map-only twin — identical rows, shared oracle
    "q249_stream_blocklist" -> blocklistSql,
    // intake-enabled curation: strip→NFC→C4 before content keys, so
    // the decomposed/BEL byte twins collapse onto their originals
    "q250_intake_curation" -> q250Sql,
    // MOSS span report: shared winnow fps localized corpus×benchmark
    "q251_winnow_matches" -> q251Sql(),
    // q206's manifest over the chunked export units (q219 curation →
    // q223 chunk replay; "<doc>:<chunk>" string unit ids)
    "q252_chunked_export" -> graft.oracle.ExampleOracles.q206Sql(
      nShards = 8, docsSrc = chunkedUnitsSql()),
    // q240's epoch-salted read plan over the same chunk units
    "q253_epoch_order_export" -> graft.oracle.ExampleOracles.q240Sql(
      nEpochs = 2, nShards = 8, docsSrc = chunkedUnitsSql()),
    // the q220 funnel with Kneser-Ney as the fluency member (q222)
    "q254_kn_funnel" -> q254Sql(),
    // ordered-ingest streaming twin of the intake-enabled curation:
    // cross-batch keep-first elects the batch survivors — q250's oracle
    "q255_stream_intake_curation" -> q250Sql,
    // per-doc verdicts vs the frozen benchmark side: any batch split
    // folds to the batch run — shares q251's oracle verbatim
    "q256_stream_winnow_matches" -> q251Sql(),
    // surgical span removal: evidence floor → char cover → islands →
    // lag-stitched segments over the normalized text
    "q257_winnow_decontaminate" -> q257Sql(),
    // fresh build + probe == the one-shot operator — q251's oracle
    "q258_winnow_index_lifecycle" -> q251Sql(),
    // raw-coordinate span removal: token-map oracle over the original
    // text (untouched docs byte-identical)
    "q260_winnow_decontaminate_raw" -> q260Sql(),
    // fresh index + raw surgery == the one-shot — q260's oracle
    "q261_winnow_index_decon_raw" -> q260Sql(),
    // frozen artifact + per-batch surgery folds to the batch run
    "q262_stream_winnow_decon_raw" -> q260Sql(),
    // refresh-drift report: |B \ A| over |A ∪ B| distinct fps
    "q263_winnow_index_drift" -> q263Sql(),
    // within-corpus MOSS: doc-freq-capped fp self-join + span hulls
    "q264_winnow_self_matches" -> q264Sql(),
    // per-doc contamination fraction over distinct fps vs capped bench
    "q265_winnow_contamination" -> q265Sql(),
    // per-batch fraction vs the frozen bench folds to the batch run
    "q266_stream_winnow_contamination" -> q265Sql(),
    // q251's report + the raw code-point hull from the token map
    "q267_winnow_matches_raw" -> q267Sql(),
    // surgical curation end-to-end: gates → span cut → dedup → units
    "q268_surgical_curation" -> q268Sql(),
    // ordered ingest + frozen bench folds to the batch run
    "q269_stream_surgical_curation" -> q268Sql(),
    // fresh index + fraction probe == the one-shot — q265's oracle
    "q270_winnow_index_contamination" -> q265Sql(),
    // q264's report with both sides' raw hulls from the token map
    "q271_winnow_self_matches_raw" -> q271Sql(),
    // ingest-time hulls + end-of-ingest cap/pairing fold == one-shot
    "q272_stream_winnow_self_matches" -> q264Sql(),
    // keep/cut/drop routing: q265's fraction chain + q260's surgery
    "q273_winnow_route" -> q273Sql(),
    // per-batch routing vs the frozen bench folds to the batch run
    "q274_stream_winnow_route" -> q273Sql(),
    // fresh index + routing probe == the one-shot — q273's oracle
    "q275_winnow_index_route" -> q273Sql(),
    // per-source routing audit: verdict counts + fp6 mass + removed
    "q276_winnow_route_report" -> q276Sql(),
    // routed curation end-to-end: gates → keep/cut/drop → dedup → units
    "q277_routed_curation" -> q277Sql(),
    // ordered ingest + frozen bench folds to the batch run
    "q278_stream_routed_curation" -> q277Sql(),
    // per-batch audit partials group-sum to the batch report
    "q279_stream_route_report" -> q276Sql(),
    // family labels: recursive min-reachable CTE over q264's pairs
    "q280_winnow_self_clusters" -> q280Sql(),
    // per-family cap: q280's families ranked by doc_id, kept <= cap
    "q281_winnow_family_cap" -> q281Sql(),
    // ingest hulls+roster → end-of-ingest CC+cap fold == one-shot
    "q282_stream_family_cap" -> q281Sql(),
    // frozen index + per-batch probes fold to the batch probe — same
    "q259_stream_winnow_probe" -> q251Sql(),
    // artifact lifecycle: reloaded scored vocab on the disjoint slice
    "q160_unigram_artifact" -> graft.oracle.UnigramOracles
      .tokenStatsSql(applyWhere = "WHERE doc_id % 10 = 1"),
    // map-only streaming twin — identical rows, same oracle
    "q161_stream_unigram" -> graft.oracle.UnigramOracles.tokenStatsSql(),
    // BPR implicit serving twin: q31b's frozen states, PURE-dot rank
    "q155_bpr_topn_fixed" -> q155Sql(),
    // ranking metrics: train-split states ranked against the held-out
    // mod-split, DCG weights embedded as the same driver literals
    "q162_ranking_metrics" -> q162Sql(),
    // daily resample + LOCF: fill only moves stored values, no float
    "q163_resample_locf" -> q163Sql(),
    // streaming fold: max election is order-free — same oracle
    "q167_stream_resample" -> q163Sql(),
    // planted-PII exposure audit, q89 cascade counting semantics
    "q164_privacy_report" -> q164Sql,
    // content-keyed split: planted copies must land one side, row-exact
    "q165_leakage_safe_split" -> q165Sql,
    // cross-source duplication matrix with a planted mirror feed
    "q166_source_overlap" -> q166Sql,
    // SemDeDup under frozen centroids: exact-copy plants, integer dots
    "q168_semantic_dedup" -> graft.oracle.AnnOracles.q168Sql(),
    // streaming twin: id-ordered ingest + full fingerprint index ⇒
    // identical survivor set, oracle shared verbatim
    "q169_stream_semantic_dedup" -> graft.oracle.AnnOracles.q168Sql(),
    // the ordered out-of-order stream reproduces the batch operator's
    // survivor set exactly — shares q168's oracle verbatim (like q169)
    "q195_stream_semdedup_ordered" -> graft.oracle.AnnOracles.q168Sql(),
    "q196_nn_descent_round" -> graft.oracle.AnnOracles.q196Sql(),
    // curation composition with the SemDeDup stage (q123 fragments +
    // the sd_ drop-set CTEs)
    "q170_curate_semantic" -> q170Sql,
    // semantic dup clustering: SemDeDup pairs → recursive closure
    "q171_semantic_clusters" -> graft.oracle.AnnOracles.q171Sql(),
    // k-NN graph: unit-space assignment + within-list integer-dot top-k
    "q172_knn_graph" -> graft.oracle.AnnOracles.q172Sql(),
    // kNN-density outlier verdicts (floor(sum/count) double division)
    "q173_knn_density" -> graft.oracle.AnnOracles.q173Sql(),
    // D4 pipeline: SemDeDup survivors → survivor-set kNN density prune
    "q174_d4_select" -> graft.oracle.AnnOracles.q174Sql(),
    // MMR re-rank: k unrolled integer argmax steps over the shortlist
    "q175_mmr_rerank" -> graft.oracle.AnnOracles.q175Sql(),
    // semantic decontamination: corpus 1-NN × benchmark 2-probe pairs
    "q176_semantic_decontaminate" -> graft.oracle.AnnOracles.q176Sql(),
    // persistent BM25 index: frozen build-half stats, corpus-wide tf/dl
    "q177_bm25_index" -> q177Sql(),
    // streaming data card: batch-order-free folds ⇒ q144's oracle verbatim
    "q178_stream_data_card" -> q144Sql,
    // HTML extraction: identical regexp chain replayed in DuckDB
    "q179_html_extract" -> q179Sql,
    // map-only streaming twin ⇒ q179's oracle verbatim
    "q180_stream_html_extract" -> q179Sql,
    // stateless stream-static twin ⇒ q176's oracle verbatim
    "q181_stream_semantic_decontaminate" ->
      graft.oracle.AnnOracles.q176Sql(),
    // vocab drift: exact counts + cross-multiplied integer verdicts
    "q182_vocab_drift" -> q182Sql(),
    // embedding health: disjoint verdict cascade over planted defects
    "q183_embedding_health" -> q183Sql,
    // graph beam search: 3 unrolled expand/anti-join/beam rounds
    "q184_graph_beam_search" -> graft.oracle.AnnOracles.q184Sql(),
    // weighted 3-way content-keyed split, row-level assignment gate
    "q185_three_way_split" -> q185Sql,
    // hard negatives: q48b shortlist minus positives, re-ranked
    "q186_hard_negatives" -> q186Sql(),
    // token budget: two-level form vs the naive global-window replay
    "q187_token_budget_select" -> q187Sql,
    // repeat-cap upsampling: base copies + md5-fraction extra, capped
    "q188_repeat_upsample" -> q188Sql(),
    // cohort eval: q25's chain sliced by train activity quartile
    "q189_cohort_eval" -> q189Sql,
    // SQ8: frozen-bounds codes, asymmetric dequant dot, ordered fold
    "q190_sq8_topk" -> graft.oracle.AnnOracles.q190Sql(),
    // IVF-SQ8: q52b assignment/probe, dequant scoring in probed lists
    "q191_ivf_sq8_topk" -> graft.oracle.AnnOracles.q191Sql(),
    // streaming drift: commuting count folds ⇒ q182's oracle verbatim
    "q192_stream_vocab_drift" -> q182Sql(),
    // priority-policy exact dedup: min(struct(prio, id)) election
    "q143_priority_dedup" -> q143Sql,
    // per-source all-integer data card (q113 scoring chain reused)
    "q144_data_card" -> q144Sql,
    // incremental ≡ full recompute: the oracle scores snapshot B
    // directly; the Spark side diffs and carries
    "q146_incremental_reprocess" -> q146Sql,
    "q134_bottomk_sample" -> graft.oracle.SketchOracles.bottomKSql(
      """SELECT "user" AS s FROM ratings""", k = 64,
      withHead = ratingsCte + ","),
    "q135_hll_by_source" -> graft.oracle.SketchOracles.hllRegistersBySql(
      """SELECT source AS g,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS s
        |FROM documents""".stripMargin),
    // fixed-centroid cluster balance: centroids = embeddings of
    // vec_id<8 (both engines derive them from the data); distance is
    // the same left-associative 64-term double chain as the Spark
    // fold; argmin tie-break = smallest centroid id; then q122's
    // sqrt-rebalance + md5 row-hash machinery over cluster ids
    "q121b_cluster_balance_fixed" -> q121bSql,
    // domain-aware temperature mixture: q116's canon CTE chain feeds
    // q88's sqrt-rebalance rate table, keyed on registrable domain;
    // inclusion is the same md5 24-bit-prefix row hash
    "q122_domain_mixture" ->
      s"""${urlCanonSql(urlMixedSql)},
         |cnt AS (SELECT domain, count(*) AS n FROM canon GROUP BY 1),
         |s AS (SELECT sum(sqrt(n)) AS sw FROM cnt),
         |r AS (SELECT domain,
         |             least(CAST(1.0 AS DOUBLE),
         |                   CAST(150.0 AS DOUBLE) * sqrt(n) / sw / n) AS rate
         |      FROM cnt CROSS JOIN s)
         |SELECT c.crawl_id AS doc_id, c.domain
         |FROM canon c JOIN r USING (domain)
         |WHERE ('0x' || substr(md5(CAST(c.crawl_id AS VARCHAR)), 1, 6))::BIGINT
         |      < rate * 16777216.0""".stripMargin,
    // DSIR-style hashed-bigram affinity: q100's tokenization fragment,
    // md5-prefix buckets (q115's machinery), add-one-smoothed
    // target/raw ratio as a fixed tree of DOUBLE-cast ops, HUGEINT sum
    // → DOUBLE mean (mirrors Spark's decimal(38,0) accumulation)
    "q117_importance_resample" -> importanceSql,
    // frozen-model streaming twin scores the identical rows — same
    // oracle, hash-gated
    "q118_stream_importance" -> importanceSql,
    // the paper-form feature union — same scoring tail over uni∪bi
    "q120_importance_unigram" -> importanceUniSql,
    // q86's gram chain, kept as an audit: per benchmark doc, distinct
    // gram totals, corpus-dirty grams, distinct hit docs (zeros kept)
    "q119_contamination_report" ->
      """WITH dw AS (
        |  SELECT doc_id,
        |         regexp_split_to_array(
        |           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS ws
        |  FROM documents),
        |dg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(len(ws) - 12),
        |           i -> array_to_string(ws[i + 1 : i + 13], ' '))) AS g
        |  FROM dw WHERE len(ws) >= 13),
        |bg AS (
        |  SELECT DISTINCT doc_id AS bench_id, md5(g) AS gh
        |  FROM dg WHERE doc_id % 10 = 3),
        |tot AS (SELECT bench_id, count(*) AS n_grams FROM bg GROUP BY 1),
        |hits AS (
        |  SELECT DISTINCT bg.bench_id, dg.doc_id, bg.gh
        |  FROM dg JOIN bg ON md5(dg.g) = bg.gh),
        |agg AS (
        |  SELECT bench_id, count(DISTINCT gh) AS dirty,
        |         count(DISTINCT doc_id) AS docs
        |  FROM hits GROUP BY 1)
        |SELECT t.bench_id, t.n_grams,
        |       CAST(COALESCE(a.dirty, 0) AS BIGINT) AS n_dirty_grams,
        |       CAST(COALESCE(a.docs, 0) AS BIGINT) AS n_docs_hit
        |FROM tot t LEFT JOIN agg a USING (bench_id)""".stripMargin,
    // benchmark = doc_id % 10 = 3; ALL corpus occurrences of a
    // benchmark 20-gram are covered (no keep-first — benchmark text
    // must not survive anywhere), then the q99 reassembly tail
    "q104_span_decontaminate" -> spanDecontaminateSql,
    "q105_stream_span_decontaminate" -> spanDecontaminateSql,
    // w = 20: rolling-hash grams, keep-first owner election (window
    // row_number == Spark's min-struct), non-owner occurrences cover
    // their 20 positions, anti-join + ordered string_agg reassembly
    "q99_substring_dedup" -> substringDedupSql,
    // ordered-ingest streaming twin — same oracle, hash-gated
    "q102_stream_substring_dedup" -> substringDedupSql,
    // q85's fluency pipeline as a CTE, then the integer-floored
    // per-bigram score and a deterministic global ntile (ties on
    // doc_id); floor() before the BIGINT cast because DuckDB's
    // double->int cast rounds while Spark's truncates
    "q100_fluency_buckets" ->
      s"""$fluencyScoredCtes
        |SELECT doc_id, score_fp,
        |       CAST(ntile(3) OVER (ORDER BY score_fp DESC, doc_id)
        |         AS INTEGER) AS bucket
        |FROM sc""".stripMargin,
    // the production-path portable twin: same scored chain, thresholds
    // from the fixed-range histogram sketch replayed in SQL
    "q107b_fluency_buckets_portable" -> q107bSql(),
    "q92_table_profile" ->
      """SELECT 'l_quantity' AS "column", count(l_quantity) AS n,
        |       count(*) - count(l_quantity) AS n_null,
        |       count(DISTINCT l_quantity) AS n_distinct,
        |       CAST(min(l_quantity) AS DOUBLE) AS min_v,
        |       CAST(max(l_quantity) AS DOUBLE) AS max_v,
        |       CASE WHEN count(l_quantity) = 0 THEN 0.0
        |            ELSE CAST(sum(CAST(floor(CAST(l_quantity AS DOUBLE) * 1e6)
        |                              AS BIGINT)) AS DOUBLE)
        |                 / count(l_quantity) / 1e6 END AS mean_v
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', count(l_extendedprice),
        |       count(*) - count(l_extendedprice),
        |       count(DISTINCT l_extendedprice),
        |       CAST(min(l_extendedprice) AS DOUBLE),
        |       CAST(max(l_extendedprice) AS DOUBLE),
        |       CASE WHEN count(l_extendedprice) = 0 THEN 0.0
        |            ELSE CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 1e6)
        |                              AS BIGINT)) AS DOUBLE)
        |                 / count(l_extendedprice) / 1e6 END
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_discount', count(l_discount),
        |       count(*) - count(l_discount),
        |       count(DISTINCT l_discount),
        |       CAST(min(l_discount) AS DOUBLE),
        |       CAST(max(l_discount) AS DOUBLE),
        |       CASE WHEN count(l_discount) = 0 THEN 0.0
        |            ELSE CAST(sum(CAST(floor(CAST(l_discount AS DOUBLE) * 1e6)
        |                              AS BIGINT)) AS DOUBLE)
        |                 / count(l_discount) / 1e6 END
        |FROM lineitem""".stripMargin,
    "q61_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |m AS (
        |  SELECT user_id, t, event_id,
        |         CASE WHEN prev IS NULL OR t - prev > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT user_id, t,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       count(*) AS n_events, max(t) - min(t) AS duration_us
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    "q62_lag_lead_features" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t, value
        |  FROM events)
        |SELECT event_id, user_id,
        |       value - lag(value) OVER w AS value_delta,
        |       t - lag(t) OVER w AS gap_us,
        |       lead(event_type) OVER w AS next_type
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)""".stripMargin,
    "q63_pivot" ->
      """SELECT user_id,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "q64_percentile_group" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS median_value,
        |       round(quantile_cont(value, 0.9), 6) AS p90_value,
        |       count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q65_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |       ${fsumSql("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin,
    "q66_salted_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |       ${fsumSql("o_totalprice")} AS sum_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""".stripMargin,
    "q67_range_join" ->
      s"""SELECT band_id, count(*) AS n_lines,
         |       ${fsumSql("l_extendedprice")} AS sum_price
         |FROM lineitem l
         |JOIN (VALUES (0, 0.0, 10000.0), (1, 10000.0, 20000.0),
         |             (2, 20000.0, 40000.0), (3, 40000.0, 70000.0),
         |             (4, 70000.0, 1e9)) AS b(band_id, lo, hi)
         |  ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
         |GROUP BY band_id""".stripMargin,
    "q68_orc_roundtrip" ->
      s"""$ratingsCte
         |SELECT "user", item, rating, "time" FROM ratings""".stripMargin,
    "q69_stream_session" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |m AS (
        |  SELECT user_id, t,
        |         CASE WHEN prev IS NULL OR t - prev >= 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT user_id, t,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY t
        |                          ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM m)
        |SELECT user_id, min(t) AS session_start,
        |       max(t) + 1800000000 AS session_end, count(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    "q70_ntile_binning" ->
      """SELECT event_id, event_type, value,
        |       CAST(ntile(10) OVER (PARTITION BY event_type
        |                            ORDER BY value, event_id) AS INT) AS decile
        |FROM events""".stripMargin,
    "q71_zscore" ->
      s"""WITH m AS (
         |  SELECT event_type, ${fsumSql("value")} AS s1,
         |         ${fsumSql("value * value")} AS s2, count(*) AS n
         |  FROM events GROUP BY event_type),
         |mm AS (
         |  SELECT event_type, s1 / n AS mean,
         |         sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd
         |  FROM m)
         |SELECT e.event_id, e.event_type,
         |       round((e.value - mm.mean) / mm.sd, 6) AS z
         |FROM events e JOIN mm USING (event_type)""".stripMargin,
    "q72_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(
        |           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |idf AS (
        |  SELECT token,
        |         ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)
        |            / count(DISTINCT doc_id)) AS idf
        |  FROM toks GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, round(tf.tf * idf.idf, 6) AS tfidf,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |                            ORDER BY round(tf.tf * idf.idf, 6) DESC,
        |                                     tf.token) AS rk
        |  FROM tf JOIN idf USING (token))
        |SELECT doc_id, token AS top_term, tfidf
        |FROM scored WHERE rk = 1""".stripMargin,
    "q41_fingerprint" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,
    "q42_dedup_exact_docs" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, replace(text, ' ', '  ') FROM documents)
        |SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |       count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM all_docs GROUP BY 1""".stripMargin,
    // MinHash/SimHash family: generated oracles that replay Spark's
    // xxhash64 inside DuckDB (graft.oracle.DuckDbXxHash) and share the
    // engine's permutation constants (Dedup.permA/permB).
    "q31b_topn_fixed_state" ->
      s"""$ratingsCte,
         |us AS (SELECT "user", CAST(count(*) AS DOUBLE) AS c,
         |              ${fsumSql("rating")} AS s1, ${fsumSql("rating*rating")} AS s2
         |       FROM ratings GROUP BY 1),
         |it AS (SELECT item, CAST(count(*) AS DOUBLE) AS c,
         |              ${fsumSql("rating")} AS s1, ${fsumSql("rating*rating")} AS s2
         |       FROM ratings GROUP BY 1),
         |itb AS (SELECT item, c, s1, s2, s1 / c AS i_bias FROM it),
         |sc AS (SELECT u."user", i.item,
         |              (u.c * i.c + u.s1 * i.s1 + u.s2 * i.s2) + i.i_bias AS score
         |       FROM us u CROSS JOIN itb i),
         |rk AS (SELECT "user", item,
         |              CAST(row_number() OVER (PARTITION BY "user"
         |                ORDER BY score DESC, item) AS INT) AS "rank"
         |       FROM sc)
         |SELECT "user", item, "rank" FROM rk WHERE "rank" <= 5""".stripMargin,
    "q43_minhash_neardup" -> graft.oracle.MinHashOracles.q43Sql(),
    "q44_simhash_neardup" -> graft.oracle.MinHashOracles.q44Sql(),
    "q54_dedup_pipeline" -> graft.oracle.MinHashOracles.q54Sql(),
    "q90_incremental_neardup" -> graft.oracle.MinHashOracles.q90Sql(),
    "q95_stream_neardup" -> graft.oracle.MinHashOracles.q95Sql(),
    "q48b_ann_lsh_fixed" -> graft.oracle.AnnOracles.q48bSql(),
    "q52b_ann_ivf_fixed" -> graft.oracle.AnnOracles.q52bSql(),
    "q53b_embed_neardup_fixed" -> graft.oracle.AnnOracles.q53bSql(),
    "q78b_ann_pq_fixed" -> graft.oracle.AnnOracles.q78bSql(),
    // the fixed index lifecycles must equal their one-shot twins —
    // same oracle, by design (see q108b/q109b)
    "q108b_ann_ivf_index_fixed" -> graft.oracle.AnnOracles.q52bSql(),
    "q109b_ann_pq_index_fixed" -> graft.oracle.AnnOracles.q78bSql(),
    "q45_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(len(ws) - 2),
        |      i -> concat_ws(' ', ws[i+1], ws[i+2], ws[i+3]))) AS s
        |  FROM (SELECT doc_id, source,
        |          regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS ws
        |        FROM documents))
        |SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |       round(len(list_intersect(l.s, r.s)) /
        |         CAST(len(l.s) + len(r.s) - len(list_intersect(l.s, r.s)) AS DOUBLE), 6) AS jaccard
        |FROM sh l JOIN sh r ON l.source = r.source AND l.doc_id < r.doc_id
        |WHERE len(list_intersect(l.s, r.s)) /
        |      CAST(len(l.s) + len(r.s) - len(list_intersect(l.s, r.s)) AS DOUBLE) >= 0.12""".stripMargin,
    "q46_embed_neardup" ->
      """WITH e AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
        |  FROM embeddings)
        |SELECT l.id AS id_a, r.id AS id_b,
        |       round(list_cosine_similarity(l.v, r.v), 4) AS cos_sim
        |FROM e l JOIN e r ON l.id < r.id
        |WHERE list_cosine_similarity(l.v, r.v) >= 0.45""".stripMargin,
    "q47_ann_bruteforce" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |q AS (SELECT vec_id, v FROM c WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(c.v, q.v) AS cs
        |  FROM c JOIN q ON c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, rank, round(cs, 4) AS cos_sim FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin,
    "q49_item_item_sim" ->
      s"""$ratingsCte,
         |-- mirror the operator's default per-user history cap (recency
         |-- order, item tie-break); it never binds at test scale (max 99
         |-- ratings/user) but the oracle must encode the same semantics
         |r AS (SELECT "user", item, rating FROM (
         |  SELECT "user", item, rating,
         |         row_number() OVER (PARTITION BY "user" ORDER BY "time" DESC, item) AS __rn
         |  FROM ratings) WHERE __rn <= 1000),
         |norms AS (SELECT item, ${fsumSql("rating * rating")} AS norm_sq FROM r GROUP BY item),
         |pairs AS (
         |  SELECT l.item AS item_a, r2.item AS item_b,
         |         ${fsumSql("l.rating * r2.rating")} AS dot
         |  FROM r l JOIN r r2 ON l."user" = r2."user" AND l.item < r2.item
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_a, item_b, dot FROM pairs
         |        UNION ALL
         |        SELECT item_b, item_a, dot FROM pairs),
         |scored AS (
         |  SELECT s.item_a, s.item_b,
         |         s.dot / sqrt(na.norm_sq * nb.norm_sq) AS cs
         |  FROM sym s
         |  JOIN norms na ON s.item_a = na.item
         |  JOIN norms nb ON s.item_b = nb.item)
         |SELECT item_a, item_b, rank, round(cs, 6) AS cos_sim FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY item_a ORDER BY cs DESC, item_b) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin,
    "q26_encode_join" ->
      s"""$ratingsCte,
         |udim AS (
         |  SELECT "user",
         |         CAST(row_number() OVER (ORDER BY fs, "user") - 1 AS INT) AS u_id
         |  FROM (SELECT "user", min("time") AS fs FROM ratings GROUP BY 1)),
         |idim AS (
         |  SELECT item,
         |         CAST(row_number() OVER (ORDER BY fs, item) - 1 AS INT) AS i_id
         |  FROM (SELECT item, min("time") AS fs FROM ratings GROUP BY 1))
         |SELECT u.u_id, i.i_id, r.rating, r."time"
         |FROM ratings r JOIN udim u ON r."user" = u."user"
         |JOIN idim i ON r.item = i.item""".stripMargin,
    "q51_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
        |         octet_length(encode(text)) // 4 AS fl
        |  FROM documents)
        |SELECT media_id, kind, f.frame_no, fl AS frame_len
        |FROM m CROSS JOIN (SELECT unnest(range(4)) AS frame_no) f
        |WHERE fl > 0""".stripMargin,
    "q55_stream_window_agg" ->
      s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start, event_type,
         |       count(*) AS n, ${fsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,
    "q56_stream_dedup" ->
      s"""$ratingsCte
         |SELECT DISTINCT "user", item FROM ratings""".stripMargin,
    "q57_stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.user_n
        |FROM events e
        |JOIN (SELECT user_id, count(*) AS user_n FROM events GROUP BY 1) c
        |USING (user_id)""".stripMargin,
    "q58_stream_interval_join" ->
      """SELECT p.event_id AS p_id, e.event_id AS e_id, p.user_id
        |FROM events p JOIN events e
        |ON p.user_id = e.user_id
        |AND p.event_type = 'purchase' AND e.event_type = 'error'
        |AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL '10 minutes'""".stripMargin,
    "q25_bias_serve_eval" ->
      s"""$ratingsCte,
         |train AS (SELECT * FROM ratings WHERE event_id % 10 < 7),
         |test  AS (SELECT * FROM ratings WHERE event_id % 10 >= 7),
         |stats AS (SELECT ${favgSql("rating")} AS mean_r, min(rating) AS min_r,
         |                 max(rating) AS max_r FROM train),
         |ub AS (SELECT "user",
         |              ${favgSql("rating - (SELECT mean_r FROM stats)")} AS u_bias
         |       FROM train GROUP BY "user"),
         |ib AS (SELECT item,
         |              ${favgSql("rating - (SELECT mean_r FROM stats)")} AS i_bias
         |       FROM train GROUP BY item),
         |pred AS (
         |  SELECT t.rating,
         |         CASE WHEN ub.u_bias IS NOT NULL AND ib.i_bias IS NOT NULL
         |              THEN least(greatest(s.mean_r + ub.u_bias + ib.i_bias,
         |                                  s.min_r), s.max_r)
         |              ELSE s.mean_r END AS prediction
         |  FROM test t CROSS JOIN stats s
         |  LEFT JOIN ub ON t."user" = ub."user"
         |  LEFT JOIN ib ON t.item = ib.item)
         |SELECT ${favgSql("abs(prediction - rating)")} AS mae,
         |       ${favgSql("(prediction - rating) * (prediction - rating)")} AS mse,
         |       sqrt(${favgSql("(prediction - rating) * (prediction - rating)")}) AS rmse
         |FROM pred""".stripMargin,
    "q73_partitioned_lake" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang""".stripMargin,
    "q74_upsert_merge" ->
      """WITH merged AS (
        |  SELECT doc_id, text, 1 AS version FROM documents
        |  UNION ALL
        |  SELECT doc_id, text || ' v2', 2 FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT -(doc_id + 1), text, 2 FROM documents WHERE doc_id % 7 = 0),
        |ranked AS (
        |  SELECT doc_id, version, text,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY version DESC) AS rk
        |  FROM merged)
        |SELECT doc_id, CAST(version AS BIGINT) AS version,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM ranked WHERE rk = 1""".stripMargin,
    "q75_decontaminate" -> decontaminateSql,
    // NOT EXISTS (not NOT IN) for the same three-valued-logic reason as
    // q75; hit = any shared 13-gram of normalized words
    "q86_ngram_decontaminate" ->
      """WITH dw AS (
        |  SELECT doc_id, source,
        |         regexp_split_to_array(
        |           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS ws
        |  FROM documents),
        |dg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(len(ws) - 12),
        |           i -> array_to_string(ws[i + 1 : i + 13], ' '))) AS g
        |  FROM dw WHERE len(ws) >= 13),
        |bg AS (
        |  SELECT DISTINCT md5(g) AS gh
        |  FROM dg WHERE doc_id % 10 = 3),
        |hits AS (
        |  SELECT DISTINCT doc_id FROM dg JOIN bg ON md5(dg.g) = bg.gh)
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = d.doc_id)""".stripMargin,
    "q76_sequence_pack" -> sequencePackSql,
    "q77_stream_decontaminate" -> decontaminateSql,
    // the streaming profile computes exactly the batch profile (q40)
    "q79_stream_profile" -> textProfileSql,
    // the stateful streaming pack computes exactly the batch pack (q76)
    "q81_stream_pack" -> sequencePackSql,
    // the ordered streaming packer must reproduce the BATCH assignment
    // even under interleaved arrival — same oracle as q81
    "q83_stream_pack_ordered" -> sequencePackSql,
    "q82_curation_e2e" ->
      """WITH p AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    len(regexp_replace(text, '[^.!?,;:]', '', 'g')) / CAST(len(text) AS DOUBLE) AS pr,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w)))
        |      / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS sr
        |  FROM documents WHERE lang = 'en'),
        |f AS (
        |  SELECT doc_id, source, text, n_tokens
        |  FROM p
        |  WHERE round(least(1.0, n_tokens / 100.0) * (1 - pr) * (0.5 + sr), 6) > 0.3),
        |bm AS (
        |  SELECT DISTINCT md5(trim(regexp_replace(
        |    lower(replace(text, ' ', '  ')), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 10 = 0),
        |cleaned AS (
        |  SELECT doc_id, source, n_tokens,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM f
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM bm
        |    WHERE bm.fp = md5(trim(regexp_replace(lower(f.text), '\s+', ' ', 'g'))))),
        |deduped AS (
        |  SELECT doc_id, source, n_tokens,
        |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
        |  FROM cleaned),
        |s AS (SELECT doc_id, source, n_tokens FROM deduped WHERE rk = 1),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY source
        |                                  ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM s)
        |SELECT doc_id, source, n_tokens,
        |       (cum - n_tokens) // 1024 AS seq_id,
        |       (cum - n_tokens) % 1024 AS seq_offset
        |FROM c""".stripMargin)
}
