package graft.prep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.encode.Encoding

/** Preparation operators (SURVEY §2.2–2.3): projection/rename, dedup,
  * keep-last-per-key dedup, column drop, train/test split.
  *
  * All operators are single declarative plans — dedups are one shuffle
  * (hash-partition by key), splits are scan-local (no shuffle at all) —
  * so each survives a 1000-executor / 100 TB scale-up unchanged.
  */
object Prep {

  /** Keep 4 of ~12 review columns + positional rename in one projection
    * (reference `json-to-csv.py:10-11`). Catalyst pushes the pruning into
    * the scan.
    */
  def projectRename(df: DataFrame, keep: Seq[String], names: Seq[String]): DataFrame = {
    require(keep.length == names.length, "keep/names arity mismatch")
    df.select(keep.zip(names).map { case (c, n) => col(c).as(n) }: _*)
  }

  /** Full-row distinct (reference `run_als.py:9` `drop_duplicates()`).
    * One hash-repartition on all columns + per-partition hash dedup;
    * map-side partial aggregation bounds the shuffle volume by the number
    * of distinct rows, not the input size.
    */
  def dedupExact(df: DataFrame): DataFrame = df.dropDuplicates()

  /** Keep-last-per-key dedup (reference `run_als.py:10`:
    * `sort_values('time').drop_duplicates(subset=['item','user'],
    * keep="last")`).
    *
    * Spark-first formulation: no global sort — a global sort is a
    * range-partition shuffle of the whole table whose only purpose in the
    * reference is to define "last". `row_number` over
    * `partitionBy(keys).orderBy(order desc)` needs just one hash
    * shuffle by key and sorts only within partitions.
    *
    * Pandas breaks `time` ties by file order (unspecified for us —
    * SURVEY §2.3); callers pass extra `orderBy` columns to make the
    * survivor deterministic (e.g. a unique event id).
    */
  def dedupKeepLast(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keep-FIRST-per-key twin of [[dedupKeepLast]] (ascending order —
    * e.g. survivor = lowest doc id per content fingerprint). Same
    * single-shuffle window shape.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy.map(_.asc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Column drop (reference `run_als.py:11` `df.drop('time', axis=1)`). */
  def dropColumns(df: DataFrame, cols: String*): DataFrame = df.drop(cols: _*)

  /** Seeded random 70/30-style split (reference `run_als.py:13-14`:
    * `df.sample(frac, random_state)` + index-complement). `randomSplit`
    * evaluates a per-row seeded Bernoulli draw at the scan — zero
    * shuffles, unlike the reference's driver-side index anti-join.
    * Returns (train, test); complement is exact (each row lands in
    * exactly one side).
    *
    * The draw is per partition (each partition sorted, then sampled
    * with a seed offset by its index), so the split is a function of
    * `df`'s partitioning as well as its rows: the same rows spread over
    * other partitions split differently. A plan whose partitions AQE
    * may coalesce therefore splits differently persisted (a cached plan
    * keeps its shuffle partitions) and unpersisted;
    * [[graft.pipeline.Pipelines.prepare]] splits a frame over a fixed,
    * already-run shuffle for that reason.
    */
  def randomSplit(df: DataFrame, trainFrac: Double, seed: Long): (DataFrame, DataFrame) = {
    val parts = df.randomSplit(Array(trainFrac, 1.0 - trainFrac), seed)
    (parts(0), parts(1))
  }

  /** Salted join for skewed keys: replicate each right-side row
    * `saltFactor` times with a salt column, salt the left side randomly
    * but deterministically (hash of all columns), join on (key, salt).
    * Spreads one hot key over `saltFactor` shuffle partitions. AQE's
    * skew-join split handles moderate skew automatically; explicit
    * salting is for the pathological single-key case (one user/item
    * holding a double-digit percentage of rows).
    */
  def saltedJoin(
      left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col): _*), lit(saltFactor)).cast("int"))
    val saltedRight = right.crossJoin(
      right.sparkSession.range(saltFactor).select(col("id").cast("int").as("__salt")))
    saltedLeft.join(saltedRight, Seq(key, "__salt")).drop("__salt")
  }

  /** Deterministic, engine-independent split on a stable key expression:
    * row goes to train iff `key mod buckets < trainBuckets`. Used by the
    * oracle-differential tests (a seeded RNG can never hash-match across
    * engines); also the right tool at 100 TB when a split must be
    * reproducible across reruns and engines.
    */
  def modSplit(df: DataFrame, key: Column, buckets: Int, trainBuckets: Int): (DataFrame, DataFrame) = {
    val bucket = pmod(key, lit(buckets))
    (df.filter(bucket < trainBuckets), df.filter(bucket >= trainBuckets))
  }

  /** Stratified deterministic split: a per-stratum sampling fraction
    * (e.g. hold out 10% of `en` docs but 50% of low-resource `zh`),
    * decided by a hash of the row key so the assignment is reproducible
    * at any parallelism and cluster size — the scale-safe analog of
    * `DataFrameStatFunctions.sampleBy`, and like the other splits it is
    * scan-local: zero shuffles, the strata fractions ride along as one
    * broadcast join against a tiny fraction table when given as a
    * DataFrame, or fold into a literal CASE expression as here.
    * Returns (selected, rest); the two sides partition the input
    * exactly.
    */
  def stratifiedSplit(
      df: DataFrame, stratumCol: String, keyCol: Column,
      fractions: Map[String, Double], defaultFraction: Double = 0.0)
      : (DataFrame, DataFrame) = {
    require((defaultFraction +: fractions.values.toSeq)
      .forall(f => f >= 0.0 && f <= 1.0), "fractions must be in [0,1]")
    // u01 from the key hash: uniform in [0,1), pure per-row expression
    val u = (xxhash64(keyCol, col(stratumCol)).cast("double")
      / lit(1.8446744073709552e19)) + lit(0.5)
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum, lit(f)).otherwise(acc)
    }
    (df.filter(u < frac), df.filter(!(u < frac)))
  }

  /** [[stratifiedSplit]] with an ENGINE-PORTABLE inclusion decision: a
    * row is held out iff the first 24 bits of
    * md5(key || '|' || stratum) clear the stratum's fraction — the
    * same md5-prefix machinery as
    * [[graft.pipeline.Curation.applyMixtureRates]], reproducible in
    * any engine with md5 (which is what lets q80b hash-gate the split
    * assignment row-by-row against DuckDB). xxhash64
    * ([[stratifiedSplit]]) remains the scan-cheapest default; this
    * form pays one md5 per row and buys cross-engine verifiability.
    * Null strata take `defaultFraction` and hash as the empty string.
    */
  def stratifiedSplitPortable(
      df: DataFrame, stratumCol: String, keyCol: Column,
      fractions: Map[String, Double], defaultFraction: Double = 0.0)
      : (DataFrame, DataFrame) = {
    require((defaultFraction +: fractions.values.toSeq)
      .forall(f => f >= 0.0 && f <= 1.0), "fractions must be in [0,1]")
    val h = conv(substring(md5(concat(keyCol.cast("string"), lit("|"),
      coalesce(col(stratumCol), lit("")))), 1, 6), 16, 10).cast("long")
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum, lit(f)).otherwise(acc)
    }
    val sel = h < frac * lit(16777216.0)
    (df.filter(sel), df.filter(!sel))
  }

  /** Deterministic EXACT-k uniform sample per group — the eval-set /
    * inspection-set construction ("20 documents per language, the
    * same 20 every run and every engine") a rate-based sampler
    * ([[graft.pipeline.Curation]] mixtures — binomial counts) cannot
    * express. Rows rank within their group by the md5 of their key
    * (the [[stratifiedSplitPortable]] portable-hash discipline — a
    * uniform, engine-replayable order) and the first `k` win; groups
    * smaller than `k` keep everything.
    *
    * Scale shape: ONE (group)-partitioned `row_number ≤ k` window —
    * InferWindowGroupLimit prunes to k·map-tasks rows per group
    * map-side before the sort (the domainCap plan class); no
    * group-size skew reaches the shuffle. `salt` varies the draw
    * (a different salt = an independent sample).
    */
  def sampleExactPerGroup(df: DataFrame, groupCol: String, keyCol: Column,
      k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h = md5(concat(keyCol.cast("string"), lit("|"), lit(salt)))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(h.asc, keyCol.cast("string").asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Deterministic NEGATIVE SAMPLING for implicit-feedback training
    * (the BPR/ALS-implicit data-prep step): up to `k` unseen items per
    * user, chosen by hashed rejection trials — trial t proposes item
    * index xxhash64(user "|" t) mod |items|, seen proposals are
    * rejected, survivors keep their earliest trial and the first k by
    * (trial, item) win. Fully deterministic (same corpus ⇒ same
    * negatives, any engine — the q148 oracle replays the trials
    * through the xxhash64 SQL construction), unlike rand()-based
    * samplers whose epochs never reproduce.
    *
    * Scale shape: trials explode to |users|·k·`oversample` rows (a
    * constant per user — never |users|·|items|); the item dimension
    * is |items| rows, built through [[graft.encode.Encoding.dimensionAuto]]
    * (single-partition window below ~50M items, range-partition +
    * zipWithIndex above — identical mapping, so the hash gate is
    * unaffected by the switch) and broadcast for the index join ONLY
    * while its estimated bytes fit `autoBroadcastDimBytes` (the
    * Encoding.dimBytes estimate — a 10^9-item catalog degrades to a shuffle
    * join instead of a driver OOM); rejection is one (user, item)
    * anti-join against the ratings; the final selection is
    * `row_number <= k` under a (user)-partitioned window —
    * InferWindowGroupLimit applies. A user who has rated nearly every
    * item may yield fewer than k negatives at low oversample — raise
    * `oversample` (collision probability decays geometrically).
    *
    * The proposal index stays LONG end-to-end (dimensionAuto's
    * at-scale path emits long ids), so past 2^31 items nothing wraps
    * — the mod is against the exact long item count.
    *
    * Returns (user, item, neg_no) with neg_no in [0, k).
    */
  def negativeSample(ratings: DataFrame, userCol: String, itemCol: String,
      k: Int, oversample: Int = 3,
      autoBroadcastDimBytes: Long = Encoding.DefaultAutoBroadcastDimBytes): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(oversample >= 1, s"oversample must be >= 1, got $oversample")
    // null users/items are EXCLUDED on both engine sides: NULL sorts
    // first in a Spark window but last in DuckDB's, so an unguarded
    // null item would shift every dense index and desync the replay
    val base = ratings.select(col(itemCol).as("item"))
      .filter(col("item").isNotNull)
    // ONE distinct-count job: the scalar the proposal mod needs is
    // also dimensionAuto's scale-dispatch input (the q133 nn
    // precedent); the same pass samples the average key width so the
    // broadcast gate accounts for long string keys (URLs, composite
    // ids) instead of assuming a flat per-row constant. The dimension
    // itself stays lazy in the plan.
    val probe = base.distinct().agg(
      count(lit(1)).as("n"),
      avg(length(col("item").cast("string"))).as("kb")).head()
    val nItems = probe.getLong(0)
    require(nItems > 0, "ratings must contain at least one item")
    val keyBytes = if (probe.isNullAt(1)) 0.0 else probe.getDouble(1)
    val itemDim = Encoding
      .dimensionAuto(base, "item", "item", "idx", approxKeys = nItems)
      .withColumn("idx", col("idx").cast("long"))
    // size-gate the dimension broadcast on the Encoding.dimBytes estimate:
    // row overhead + 8-byte idx + the SAMPLED key width
    val bDim = Encoding.gate(itemDim, Encoding.dimBytes(nItems, keyBytes + 8.0),
      autoBroadcastDimBytes)
    val trials = k * oversample
    val cand = ratings.select(col(userCol).as("user")).distinct()
      .filter(col("user").isNotNull)
      .select(col("user"), explode(sequence(lit(1), lit(trials))).as("t"))
      .withColumn("idx", pmod(
        xxhash64(concat(col("user"), lit("|"), col("t").cast("string"))),
        lit(nItems)))
    val seen = ratings
      .select(col(userCol).as("user"), col(itemCol).as("item")).distinct()
    val neg = cand.join(bDim, Seq("idx"))
      .select(col("user"), col("t"), col("item"))
      .join(seen, Seq("user", "item"), "left_anti")
      .groupBy(col("user"), col("item")).agg(min(col("t")).as("t"))
    val w = Window.partitionBy(col("user")).orderBy(col("t"), col("item"))
    neg.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("user"), col("item"), (col("__rn") - 1).as("neg_no"))
  }

  /** LEAKAGE-SAFE split: assign each row a side by hashing a caller
    * GROUP key (content fingerprint, dup-cluster owner, author id…)
    * instead of the row id, so every row sharing the key lands on the
    * SAME side — the split that keeps a benchmark's near-copies out of
    * the training half. A row-id split leaks: two copies of one
    * document straddle the boundary and the eval measures
    * memorization. Decision = md5 24-bit prefix of the group key
    * against `rate` (the q80b/q115 portable machinery: deterministic,
    * engine-exact, map-only — zero shuffle).
    *
    * @return (train, test) — test gets keys whose prefix falls below
    *         `rate·2²⁴`, train the rest.
    */
  def splitByKey(df: DataFrame, key: Column, rate: Double,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    val h = conv(substring(
      md5(concat_ws("|", lit(seed), key)), 1, 6), 16, 10).cast("long")
    val isTest = h < (rate * (1 << 24)).toLong
    (df.filter(!isTest), df.filter(isTest))
  }

  /** Weighted N-WAY form of [[splitByKey]] — the train/val/test (or
    * k-fold) assignment with the same leakage-safety contract: every
    * row sharing the key lands on ONE side, sides partition the
    * corpus exactly (the last bucket is the CASE fallthrough — no
    * uncovered hash range), and the decision is the md5 24-bit prefix
    * against driver-truncated cumulative thresholds (truncated, not
    * rounded — the DuckDB round-vs-truncate gotcha). Map-only, zero
    * shuffle; returns `df` plus an INT `side` column (0-based, in
    * `weights` order).
    */
  def splitByKeyN(df: DataFrame, key: Column, weights: Seq[Double],
      seed: Long = 42L): DataFrame = {
    require(weights.size >= 2, s"need >= 2 sides, got ${weights.size}")
    require(weights.forall(_ > 0.0),
      s"weights must be positive, got ${weights.mkString(", ")}")
    val total = weights.sum
    val cum = weights.scanLeft(0.0)(_ + _).tail
      .map(c => (c / total * (1 << 24)).toLong)
    val h = conv(substring(
      md5(concat_ws("|", lit(seed), key)), 1, 6), 16, 10).cast("long")
    val side = cum.init.zipWithIndex.reverse.foldLeft(
      lit(weights.size - 1): Column) {
      case (acc, (t, i)) => when(h < t, lit(i)).otherwise(acc)
    }
    df.withColumn("side", side)
  }

  /** Time-series resample + gap-fill (the downsample-to-fixed-interval
    * feature-engineering primitive): per key, events bucket into
    * `intervalUs`-wide windows on the microsecond timestamp, each
    * bucket keeps its LAST observation (ties broken by `tieCol` —
    * pass a unique id), missing buckets inside the key's observed span
    * are emitted and filled by LAST-OBSERVATION-CARRIED-FORWARD. No
    * arithmetic touches the carried value, so the result hash-gates
    * (the fill only MOVES stored values).
    *
    * Scale shape: one (key, bucket) aggregation (map-side-combinable
    * max-struct election), a per-key min/max agg whose gap explode is
    * bounded by span/interval (the caller's interval choice IS the
    * row-count knob — standard for resampling), and ONE per-key window
    * for the carry. Keys partition all three — no global sort.
    *
    * @return (key, bucket_start_us, value, observed)
    */
  def resampleLocf(df: DataFrame, keyCol: String, tsUsCol: Column,
      valueCol: String, tieCol: String, intervalUs: Long): DataFrame = {
    require(intervalUs > 0, s"intervalUs must be positive, got $intervalUs")
    locfExpand(
      resampleObserved(df, keyCol, tsUsCol, valueCol, tieCol, intervalUs)
        .groupBy(col("key"), col("bucket"))
        .agg(max(col("o")).as("o")),
      intervalUs)
  }

  /** The per-(key, bucket) observation rows of [[resampleLocf]] BEFORE
    * the last-observation election — `(key, bucket, o:(t, tb, v))`,
    * one row per event, exact integral bucketing (a double floor would
    * lose precision on large epoch-micros longs). Exposed so the
    * STREAMING fold ([[graft.streaming.StreamingResample]]) can append
    * per-batch maxima and elect globally at read time: `max(o)` is
    * idempotent and commutative, so out-of-order batches and
    * at-least-once replays both converge to the batch answer.
    */
  def resampleObserved(df: DataFrame, keyCol: String, tsUsCol: Column,
      valueCol: String, tieCol: String, intervalUs: Long): DataFrame =
    df.select(col(keyCol).as("key"), tsUsCol.cast("long").as("__ts"),
        col(tieCol).as("__tb"), col(valueCol).as("__v"))
      // FLOOR division, not `div`: `div` truncates toward zero, so
      // negative (pre-1970) epoch-micros would collapse the
      // (-interval, 0) and [0, interval) ranges into bucket 0 — and
      // diverge from the DuckDB oracle's flooring `//`. The all-integer
      // identity (a - ((a % b + b) % b)) div b floors for b > 0 without
      // the precision loss a double floor(a/b) has on large longs.
      .select(col("key"),
        expr(s"(__ts - ((__ts % $intervalUs) + $intervalUs) % $intervalUs)"
          + s" div $intervalUs").as("bucket"),
        struct(col("__ts").as("t"), col("__tb").as("tb"),
          col("__v").as("v")).as("o"))

  /** The gap-fill tail of [[resampleLocf]]: takes the ELECTED
    * per-(key, bucket) rows `(key, bucket, o)` and emits the full
    * per-key bucket range with last-observation-carried-forward.
    */
  def locfExpand(elected: DataFrame, intervalUs: Long): DataFrame = {
    val observed = elected
      .select(col("key"), col("bucket"), col("o.v").as("obs_value"))
    val spans = observed.groupBy("key")
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col("key"),
        explode(sequence(col("b0"), col("b1"))).as("bucket"))
    val w = Window.partitionBy(col("key")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spans.join(observed, Seq("key", "bucket"), "left")
      .select(col("key"),
        (col("bucket") * intervalUs).as("bucket_start_us"),
        last(col("obs_value"), ignoreNulls = true).over(w).as("value"),
        col("obs_value").isNotNull.as("observed"))
  }

  /** BPR pairwise-ranking triplets (Rendle et al. 2009): every
    * (user, positive) row paired ROUND-ROBIN with one of the user's
    * [[negativeSample]]d negatives — the training input of implicit
    * matrix factorization, deterministic end-to-end so an epoch's
    * exact triplet set reproduces across engines and retries.
    * The round-robin wraps over the user's ACTUAL negative count, so
    * a user whose sampler found only m < k negatives still pairs
    * every positive (cycling through the m available) — only users
    * with zero negatives contribute no triplets.
    *
    * Scale: positives rank under a (user)-partitioned window (the
    * dedupKeepLast shuffle class) and join the negatives on
    * (user, slot) — both sides O(interactions), never a cross join;
    * the per-user negative count is a |users|-row broadcast.
    */
  def bprTriplets(ratings: DataFrame, userCol: String, itemCol: String,
      k: Int, oversample: Int = 3): DataFrame = {
    val neg = negativeSample(ratings, userCol, itemCol, k, oversample)
      .select(col("user"), col("item").as("neg_item"), col("neg_no"))
    val negCnt = neg.groupBy(col("user")).agg(count(lit(1)).as("__m"))
    val pos = ratings
      .select(col(userCol).as("user"), col(itemCol).as("item")).distinct()
      .filter(col("user").isNotNull && col("item").isNotNull)
      .withColumn("pos_no", row_number().over(
        Window.partitionBy(col("user")).orderBy(col("item"))) - 1)
      .join(negCnt, Seq("user"))
      .withColumn("neg_no", pmod(col("pos_no"), col("__m")).cast("int"))
    pos.join(neg, Seq("user", "neg_no"))
      .select(col("user"), col("item").as("pos_item"), col("neg_item"))
  }
}
