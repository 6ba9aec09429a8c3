package graft.pipeline

import graft.SparkSpec
import graft.model.Rating
import graft.recommender.{AlsRecommender, GdMf}

/** End-to-end parity tests (FIXTURES.md F4 / SURVEY §5.5): the full
  * runner pipelines on Amazon-shaped synthetic 5-core data; assert
  * pipeline invariants and metric ranges, not exact floats.
  */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  /** Seeded ~6k-row, 300-user, 120-item set, ratings 1..5 skewed high,
    * with ~1% duplicate and re-review rows injected.
    */
  private lazy val synthetic: Seq[Rating] = {
    val rnd = new scala.util.Random(42)
    val base = for {
      u <- 0 until 300
      i <- 0 until 120
      if rnd.nextDouble() < 0.17
    } yield {
      val mean = 3.6 + 0.3 * (u % 3) - 0.4 * (i % 4)
      val r = math.max(1.0, math.min(5.0, math.round(mean + rnd.nextGaussian()).toDouble))
      Rating(s"u$u", s"i$i", r, 1000L + u * 500 + i)
    }
    val dups = base.take(30) // exact duplicates
    val rereviews = base.take(30).map(r => r.copy(rating = 5.0, time = r.time + 99999))
    rnd.shuffle(base ++ dups ++ rereviews)
  }

  test("jsonToCsv roundtrips the review ETL") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val reviews = synthetic.toDF
      .select($"user".as("reviewerID"), $"item".as("asin"),
        $"rating".as("overall"), $"time".as("unixReviewTime"))
    reviews.write.mode("overwrite").json(s"$tmp/reviews")
    val n = Pipelines.jsonToCsv(spark, s"$tmp/reviews", s"$tmp/ratings_csv")
    assert(n === synthetic.size)
    // the count is observed on the write: an empty input counts 0 rows
    reviews.limit(0).write.mode("overwrite").json(s"$tmp/none")
    assert(Pipelines.jsonToCsv(spark, s"$tmp/none", s"$tmp/none_csv") === 0L)
  }

  test("prepare dedups and splits exhaustively") {
    val (train, test) = Pipelines.prepare(synthetic.toDF, seed = 7L)
    val total = train.count() + test.count()
    // exact dups collapsed, re-reviews keep-last collapsed
    val expected = synthetic.map(r => (r.user, r.item)).distinct.size
    assert(total === expected)
    assert(train.intersect(test).count() === 0)
  }

  test("prepare's split is the same whether or not the caller persists it") {
    def split(persist: Boolean) = {
      val (train, test) = Pipelines.prepare(synthetic.toDF, seed = 7L)
      if (persist) { train.persist(); test.persist() }
      val sides = (train.collect().toSet, test.collect().toSet)
      train.unpersist(); test.unpersist()
      sides
    }
    val (train, test) = split(persist = false)
    val (trainP, testP) = split(persist = true)
    assert(train.size === trainP.size)
    assert(train === trainP)
    assert(test === testP)
  }

  test("prepare runs the source's one shuffle once, for both sides, and caches nothing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_prep").toString
    synthetic.toDF.write.mode("overwrite").csv(s"$tmp/ratings")
    val sc = spark.sparkContext
    val cached = sc.getPersistentRDDs.keySet
    val ((nTrain, nTest), shape) = shapeOf {
      val (train, test) = Pipelines.prepare(
        graft.io.RatingsIO.readRatingsCsv(spark, s"$tmp/ratings"), seed = 7L)
      (train.count(), test.count())
    }
    assert(nTrain + nTest === synthetic.map(r => (r.user, r.item)).distinct.size)
    def readsSource(s: org.apache.spark.scheduler.StageInfo) =
      s.rddInfos.exists(_.name == "FileScanRDD")
    assert(shape.shuffleMapStages.count(readsSource) === 1 &&
      shape.stages.count(readsSource) === 1,
      "stages: " + shape.stages.map(s => (s.stageId, s.rddInfos.map(_.name))))
    assert(sc.getPersistentRDDs.keySet === cached)
  }

  test("runAls end-to-end beats the global-mean baseline on held-out data") {
    val res = Pipelines.runAlsOn(synthetic.toDF,
      AlsRecommender.Params(rank = 8, maxIter = 8, numBlocks = 4))
    val ratings = synthetic.map(_.rating)
    val mean = ratings.sum / ratings.size
    val sd = math.sqrt(ratings.map(r => (r - mean) * (r - mean)).sum / ratings.size)
    assert(res.metrics.rmse > 0 && res.metrics.rmse < sd,
      s"ALS rmse ${res.metrics.rmse} vs baseline sd $sd")
    assert(math.abs(res.metrics.rmse * res.metrics.rmse - res.metrics.mse) < 1e-9)
  }

  test("runFunkSvd end-to-end produces finite descending training error") {
    val res = Pipelines.runFunkSvdOn(synthetic.toDF,
      GdMf.Config(nFactors = 4, epochs = 3, lr = 0.002, reg = 0.001,
        collectErrors = true))
    assert(res.metrics.mae > 0 && !res.metrics.rmse.isNaN)
    // predictions bounded by the serving contract: [min,max] ∪ {mean}
    val (lo, hi) = (1.0, 5.0)
    val bad = res.predictions
      .filter(!($"prediction".between(lo, hi))).count()
    assert(bad === 0)
  }

  /** BASELINE.md Table 1 regression lock. The driver fixture's `value`
    * column is heavy-tailed telemetry (mean ≈ 50, sd ≈ 50), not 1–5
    * star ratings, so the Table-1 comparison runs on an Amazon-shaped
    * fixture at comparable conditions: integer 1–5 ratings with real
    * additive user/item structure plus σ≈0.7 noise — the global-mean
    * predictor scores ≈ 1.0 RMSE here, so the 0.92-class bound is only
    * reachable by actually learning the structure (reference Table 1:
    * FunkSVD 0.9207, ALS 0.9150).
    */
  private lazy val baselineFixture: Seq[Rating] = {
    val rnd = new scala.util.Random(7)
    val rows = for {
      u <- 0 until 600
      i <- 0 until 200
      if rnd.nextDouble() < 0.12
    } yield {
      val mean = 3.5 + 0.5 * (u % 3 - 1) - 0.5 * (i % 4 - 1.5)
      val r = math.max(1.0,
        math.min(5.0, math.round(mean + 0.7 * rnd.nextGaussian()).toDouble))
      Rating(s"u$u", s"i$i", r, 1000L + u * 997 + i)
    }
    rows
  }

  test("BASELINE.md Table 1: both runners land in the 0.92-RMSE class") {
    val df = baselineFixture.toDF
    val ratings = baselineFixture.map(_.rating)
    val mean = ratings.sum / ratings.size
    val sd = math.sqrt(ratings.map(r => (r - mean) * (r - mean)).sum / ratings.size)
    assert(sd > 0.95, s"fixture too easy: global sd $sd")
    val als = Pipelines.runAlsOn(df,
      AlsRecommender.Params(rank = 8, maxIter = 10, numBlocks = 4))
    info(f"ALS rmse ${als.metrics.rmse}%.4f vs global-sd baseline $sd%.4f")
    // 0.95 = the 0.92-class reference figures + slack for RNG
    // divergence across seeds/parallelism (r10 verdict: comment and
    // constant now agree)
    assert(als.metrics.rmse <= 0.95,
      s"ALS rmse ${als.metrics.rmse} above the 0.95 acceptance bound " +
        "(reference class: 0.92)")
    val funk = Pipelines.runFunkSvdOn(df,
      GdMf.Config(nFactors = 8, epochs = 15, lr = 0.005, reg = 0.01))
    info(f"FunkSVD rmse ${funk.metrics.rmse}%.4f vs global-sd baseline $sd%.4f")
    assert(funk.metrics.rmse <= 0.95,
      s"FunkSVD rmse ${funk.metrics.rmse} above the 0.95 acceptance bound " +
        "(reference class: 0.92)")
  }

  test("curateCorpus: one call gates, scrubs, decontaminates, dedups and packs") {
    import org.apache.spark.sql.functions._
    def goodText(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    val docs = Seq(
      (1L, goodText(1), "en", "srcA"),
      (2L, goodText(2), "en", "srcA"),
      (3L, goodText(2), "en", "srcB"),            // exact dup of 2 → dropped
      (4L, "spam " * 40, "en", "srcA"),            // repetitious → gated
      (5L, "tiny", "en", "srcB"),                  // low quality → gated
      (6L, goodText(6), "en", "srcB"),
      (7L, goodText(7) + " mail me a@b.co now", "en", "srcB"), // PII → scrubbed
      (8L, goodText(8), "en", "srcA")              // planted in benchmark
    ).toDF("doc_id", "text", "lang", "source")
    val benchmark = Seq(goodText(8)).toDF("text")

    val packed = Pipelines.curateCorpus(docs, benchmark,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100))
    val kept = packed.select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 2L, 6L, 7L))
    // PII is scrubbed in the surviving text
    val t7 = packed.filter($"doc_id" === 7L).select("text").as[String].head()
    assert(t7.contains("<EMAIL>") && !t7.contains("a@b.co"))
    // packing tiles each shard's token stream exactly
    val byShard = packed.select("source", "seq_id", "seq_offset", "n_tokens")
      .as[(String, Long, Long, Long)].collect().groupBy(_._1)
    byShard.values.foreach { rows =>
      var cum = 0L
      rows.sortBy(r => (r._2, r._3)).foreach { case (_, seq, off, n) =>
        assert(seq * 100 + off === cum)
        cum += n
      }
    }
  }

  test("curateCorpus gopherRules gate drops rule violators, same scan as the other gates") {
    import org.apache.spark.sql.functions._
    def goodText(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    val docs = Seq(
      (1L, goodText(1), "en", "srcA"),
      // 121 distinct words but too SHORT for the gopher minWords=200
      (2L, goodText(2), "en", "srcA"),
      (3L, goodText(3) + " " + goodText(4) + " " + goodText(5), "en", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
    val benchmark = Seq("nothing matches").toDF("text")
    val off = Pipelines.curateCorpus(docs, benchmark,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100))
      .select("doc_id").as[Long].collect().toSet
    assert(off === Set(1L, 2L, 3L), "without the gate all three survive")
    val on = Pipelines.curateCorpus(docs, benchmark,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100,
        gopherRules = Some(graft.text.Quality.GopherConfig(
          minWords = 200, minWordLen = 2, // fixture words avg < 3 chars
          stopWords = Seq("the", "of"), minStopWords = 2))))
      .select("doc_id").as[Long].collect().toSet
    assert(on === Set(3L), s"only the 360-word doc clears minWords=200: $on")
  }

  test("curateCorpus classifier gate drops docs the trained weights reject") {
    import org.apache.spark.sql.functions._
    def goodText(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    val wall = (0 until 40).map(_ => "!!! ,,, ;;; spamword").mkString(" ")
    val docs = Seq(
      (1L, goodText(1), "en", "srcA"),
      (2L, wall, "en", "srcA"), // punctuation wall: heuristic minQuality=0
      (3L, goodText(3), "en", "srcB")
    ).toDF("doc_id", "text", "lang", "source")
    val none = Seq.empty[String].toDF("text")
    // defaultWeights punish punctuation density hard (w_punct = -4)
    val cfg = Pipelines.CurationConfig(minQuality = 0.0, seqLen = 100,
      classifierWeights = Some(graft.text.Quality.defaultWeights))
    val kept = Pipelines.curateCorpus(docs, none, cfg)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 3L))
    // without the classifier the wall doc survives the zeroed heuristic
    val keptNoClf = Pipelines.curateCorpus(docs, none,
      Pipelines.CurationConfig(minQuality = 0.0, seqLen = 100))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptNoClf === Seq(1L, 2L, 3L))
  }

  test("curateCorpus urlCol intake collapses recrawls of one canonical URL") {
    import org.apache.spark.sql.functions._
    def goodText(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    // docs 1 and 2 are DIFFERENT content crawled from the same page
    // (tracking-param recrawl) — content dedup would keep both, URL
    // dedup keeps the earlier crawl only
    val docs = Seq(
      (1L, goodText(1), "en", "srcA", "https://www.site.com/page?utm_source=x"),
      (2L, goodText(2), "en", "srcA", "http://site.com/page/"),
      (3L, goodText(3), "en", "srcB", "https://site.com/other"),
      // URL-less docs must survive as singletons, not collapse into
      // one null-group survivor
      (4L, goodText(4), "en", "srcB", null),
      (5L, goodText(5), "en", "srcB", null)
    ).toDF("doc_id", "text", "lang", "source", "url")
    val none = Seq.empty[String].toDF("text")
    val kept = Pipelines.curateCorpus(docs, none,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100,
        urlCol = Some("url")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 3L, 4L, 5L))
    // without the intake stage both crawls survive (distinct content)
    val keptNoUrl = Pipelines.curateCorpus(docs, none,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptNoUrl === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("curateCorpus extractHtml intake strips markup before gates and dedup") {
    import org.apache.spark.sql.functions._
    def goodText(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    // docs 1 and 2: the SAME content under different page chrome —
    // only the extracted form shares a fingerprint; doc 3: distinct
    // content whose raw form is mostly script soup the quality gate
    // would reject unstripped
    val docs = Seq(
      (1L, s"<html><head><script>var a=1&&2;</script></head><body><p>${goodText(1)}</p></body></html>", "en", "srcA"),
      (2L, s"<html><body><div class='v2'><p>${goodText(1)}</p></div><!-- rev 2 --></body></html>", "en", "srcA"),
      (3L, s"<script>;;;(function(){!!!})();;;</script><p>${goodText(3)}</p>", "en", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
    val none = Seq.empty[String].toDF("text")
    val kept = Pipelines.curateCorpus(docs, none,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100,
        extractHtml = true))
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L), "recrawl chrome must collapse; soup must strip")
    // the surviving text is the extracted prose, not markup
    val texts = kept.select("text").as[String].collect()
    assert(texts.forall(t => !t.contains("<") && !t.contains("script")))
    // without extraction the markup twins survive as distinct docs
    val raw = Pipelines.curateCorpus(docs, none,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100))
      .select("doc_id").as[Long].collect().toSet
    assert(raw.contains(1L) && raw.contains(2L))
  }

  test("curateCorpus intakeC4 computes dedup keys post-NFC: byte twins collapse") {
    import org.apache.spark.sql.functions._
    // three C4-surviving lines (>= 3 words, terminal punct) with an
    // accent: doc 1 carries the COMPOSED form (U+00E9), doc 2 the
    // DECOMPOSED twin (e + U+0301) plus a BEL control char — same text
    // after strip+NFC, different bytes before. doc 3 is distinct.
    def line(tag: String) = s"the caf\u00e9 of $tag is the best one here."
    def lineD(tag: String) = s"the cafe\u0301 of $tag is the best one here."
    val composed = (1 to 3).map(i => line(s"t$i")).mkString("\n")
    val decomposed =
      "\u0007" + (1 to 3).map(i => lineD(s"t$i")).mkString("\n")
    val distinct3 = (1 to 3).map(i => line(s"z$i")).mkString("\n")
    val docs = Seq(
      (1L, composed, "en", "srcA"),
      (2L, decomposed, "en", "srcA"),
      (3L, distinct3, "en", "srcB")).toDF("doc_id", "text", "lang", "source")
    val none = Seq.empty[String].toDF("text")
    val kept = Pipelines.curateCorpus(docs, none,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100,
        intakeC4 = true))
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L),
      "the decomposed/BEL twin must share the post-NFC dedup key")
    // the surviving text is the cleaned form: no control chars, and
    // the accent is stored composed (NFC)
    val t1 = kept.filter(col("doc_id") === 1L)
      .select("text").as[String].collect()(0)
    assert(!t1.contains("\u0007") && t1.contains("caf\u00e9") &&
      !t1.contains("e\u0301"))
    // WITHOUT intake the twins keep distinct byte-level fingerprints
    val raw = Pipelines.curateCorpus(docs, none,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100))
      .select("doc_id").as[Long].collect().toSet
    assert(raw.contains(1L) && raw.contains(2L),
      "without intake the byte twins both survive")
  }

  test("curateCorpus semantic stage drops embedding-dups of lexically distinct docs") {
    import org.apache.spark.sql.functions._
    def goodText(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    val docs = Seq(
      (1L, goodText(1), "en", "srcA"),
      (2L, goodText(2), "en", "srcA"), // lexically distinct, embedding = doc 1's
      (3L, goodText(3), "en", "srcB"), // distinct embedding → survives
      (4L, goodText(4), "en", "srcB")  // NO embedding row → survives
    ).toDF("doc_id", "text", "lang", "source")
    val e1 = Seq(1.0f, 0f, 0f, 0f)
    val e3 = Seq(0f, 1.0f, 0f, 0f)
    val emb = Seq(1L -> e1, 2L -> e1, 3L -> e3).toDF("doc_id", "embedding")
    val none = spark.emptyDataFrame.select(lit("").as("text")).limit(0)
    val cents = Seq(Seq(0.0, 0.0, 0.0, 0.0))
    val kept = Pipelines.curateCorpus(docs, none,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100,
        semanticCentroids = Some(cents), semanticThresholdFp = 990000000000L),
      embeddings = Some(emb))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // doc 2 is an exact lexical non-dup but an embedding-space dup of 1
    assert(kept === Seq(1L, 3L, 4L))
    // embeddings without centroids is a loud config error
    assertThrows[IllegalArgumentException] {
      Pipelines.curateCorpus(docs, none, Pipelines.CurationConfig(),
        embeddings = Some(emb))
    }
  }

  test("curateCorpus domainCapN bounds survivors per domain after URL dedup") {
    import org.apache.spark.sql.functions._
    def goodText(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    // six distinct pages on one hot domain, one page elsewhere
    val docs = (1L to 6L).map(i =>
      (i, goodText(i.toInt), "en", "srcA", s"https://hot.com/p/$i")) :+
      ((7L, goodText(7), "en", "srcB", "https://cold.org/q"))
    val df = docs.toDF("doc_id", "text", "lang", "source", "url")
    val none = Seq.empty[String].toDF("text")
    val kept = Pipelines.curateCorpus(df, none,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100,
        urlCol = Some("url"), domainCapN = Some(2)))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept.count(_ <= 6L) === 2, s"hot.com must cap at 2, kept $kept")
    assert(kept.contains(7L))
    // misconfiguration fails loudly, not silently uncapped
    assertThrows[IllegalArgumentException] {
      Pipelines.curateCorpus(df, none,
        Pipelines.CurationConfig(domainCapN = Some(2)))
    }
  }

  test("curateCorpus surgicalDecon cuts the quote, keeps the book; whole-doc mode keeps the quote") {
    import org.apache.spark.sql.functions._
    def frame(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    val quote = "the quick brown fox jumps over the lazy dog tonight"
    // doc 1 quotes the benchmark mid-text; doc 2 is clean
    val docs = Seq(
      (1L, s"${frame(1)} $quote ${frame(11)}", "en", "srcA"),
      (2L, frame(2), "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val bench = Seq(quote).toDF("text")
    def curate(surgical: Boolean) = Pipelines.curateCorpus(docs, bench,
        Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100,
          surgicalDecon = surgical))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // whole-doc mode: doc 1's full-text fingerprint differs from the
    // benchmark item's, so the doc survives WITH the quote inside
    val wholeDoc = curate(surgical = false)
    assert(wholeDoc(1L).contains(quote))
    // surgical mode: the quote is cut, the frame survives verbatim
    val surgical = curate(surgical = true)
    assert(!surgical(1L).contains("quick brown fox"),
      s"quote not cut: ${surgical(1L)}")
    assert(surgical(1L).startsWith("the w31 of"),
      s"frame head altered: ${surgical(1L).take(40)}")
    assert(surgical(2L) === wholeDoc(2L),
      "a clean doc must be untouched by the surgical stage")
  }

  test("curateCorpus importanceTarget gate keeps target-like docs only") {
    import org.apache.spark.sql.functions._
    // both styles pass the heuristic gates (stopword-rich); only A
    // matches the target's bigram profile
    def styleA(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    def styleB(i: Int): String =
      (0 until 40).map(j => s"a q${(i * 13 + j * 5) % 89} in").mkString(" ")
    val docs = ((1L to 5L).map(i => (i, styleA(i.toInt), "en", "srcA")) ++
      (6L to 10L).map(i => (i, styleB(i.toInt), "en", "srcB")))
      .toDF("doc_id", "text", "lang", "source")
    val target = (50 to 70).map(i => styleA(i)).toDF("text")
    val none = Seq.empty[String].toDF("text")
    val kept = Pipelines.curateCorpus(docs, none,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 200,
        importanceBuckets = 1 << 12),
      importanceTarget = Some(target))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === (1L to 5L).toSeq)
    // without the gate all ten survive
    val keptAll = Pipelines.curateCorpus(docs, none,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 200))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptAll === (1L to 10L).toSeq)
  }

  test("curateCorpus fluency gate drops the least-fluent tier, keeps the rest") {
    import org.apache.spark.sql.functions._
    // fluent docs share the dominant "the wN of" bigram pattern;
    // gibberish docs are unique-bigram soup → lowest tier
    def fluent(i: Int): String =
      (0 until 40).map(j => s"the w${j % 9} of").mkString(" ")
    def gibber(i: Int): String =
      (0 until 40).map(j => s"zz${i}x$j qq${i}y$j").mkString(" ")
    val docs = ((1 to 6).map(i => (i.toLong, fluent(i), "en", "srcA")) ++
      (7 to 9).map(i => (i.toLong, gibber(i), "en", "srcA")))
      .toDF("doc_id", "text", "lang", "source")
    val benchmark = Seq("nothing matches").toDF("text")
    // two tiers: the quantile threshold lands inside the (identical-
    // score) fluent block, so the gibberish half-tier drops cleanly —
    // a 3-tier split over only two distinct score values is degenerate
    // (the tail threshold EQUALS the gibberish score, bucket 2)
    val kept = Pipelines.curateCorpus(docs, benchmark,
      Pipelines.CurationConfig(minQuality = 0.1, maxTopWordRatio = 0.9,
        seqLen = 1000, fluencyTiers = Some(2)))
      .select("doc_id").as[Long].collect().toSet
    // identical fluent docs dedup to the first; gibberish tier dropped
    assert(kept.contains(1L))
    assert((7 to 9).forall(i => !kept.contains(i.toLong)), s"kept: $kept")
  }

  test("curateCorpus paragraphDedup stage strips cross-doc boilerplate lines") {
    import org.apache.spark.sql.functions._
    def body(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    val footer = (0 until 40).map(j => s"the footer${j} of").mkString(" ")
    val docs = Seq(
      (1L, body(1) + "\n" + footer, "en", "srcA"),
      (2L, body(2) + "\n" + footer, "en", "srcA"),  // loses the footer to doc 1
      (3L, footer, "en", "srcB")                    // ONLY boilerplate → dropped
    ).toDF("doc_id", "text", "lang", "source")
    val benchmark = Seq("nothing matches this").toDF("text")
    val packed = Pipelines.curateCorpus(docs, benchmark,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 1000,
        paragraphDedup = true))
    val byId = packed.select("doc_id", "text", "n_tokens")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId.keySet === Set(1L, 2L))
    assert(byId(1L)._1.contains("footer0"))   // first owner keeps it
    assert(!byId(2L)._1.contains("footer0"))  // later copy stripped
    // token budget follows the SURVIVING content
    assert(byId(2L)._2 === 120L && byId(1L)._2 === 240L)
  }

  test("curateCorpus rejects the degenerate fluencyTiers=1 config loudly") {
    val docs = Seq((1L, "a perfectly ordinary document", "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val benchmark = Seq("nothing").toDF("text")
    val e = intercept[IllegalArgumentException] {
      Pipelines.curateCorpus(docs, benchmark,
        Pipelines.CurationConfig(fluencyTiers = Some(1)))
    }
    assert(e.getMessage.contains("fluencyTiers"))
  }

  test("curateCorpusManaged releases the cached intermediates on demand") {
    def body(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    val docs = (1 to 8).map(i => (i.toLong, body(i), "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val benchmark = Seq("nothing matches this").toDF("text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (packed, release) = Pipelines.curateCorpusManaged(docs, benchmark,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 1000,
        paragraphDedup = true, fluencyTiers = Some(2)))
    assert(packed.count() > 0) // materialize, then release
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "expected cached intermediates while live")
    release()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"blocks leaked after release(): $after")
  }

  test("exportTrainingData: curation + shard layer agree end-to-end") {
    import org.apache.spark.sql.functions._
    def goodText(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    val docs = ((1 to 20).map(i => (i.toLong, goodText(i), "en",
      if (i % 2 == 0) "srcA" else "srcB")) :+
      (21L, goodText(2), "en", "srcB"))                // dup of 2 → dropped
      .toDF("doc_id", "text", "lang", "source")
    val benchmark = Seq(goodText(5)).toDF("text")      // doc 5 → dropped
    val r = Pipelines.exportTrainingData(docs, benchmark,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100), nShards = 4)
    try {
      val kept = r.curated.select("doc_id").as[Long].collect().toSet
      assert(!kept.contains(21L) && !kept.contains(5L) && kept.contains(2L))
      // assignment is a permutation of the curated set, dense per shard
      val asg = r.assignment.as[(Long, Long, Long, Long)].collect()
      assert(asg.map(_._1).toSet === kept)
      asg.groupBy(_._2).values.foreach { rows =>
        assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq)
      }
      // manifest totals reconcile with the assignment
      val man = r.manifest.as[(Long, Long, Long, Long)].collect()
      assert(man.map(_._2).sum === kept.size.toLong)
      assert(man.map(_._3).sum === asg.map(_._4).sum)
      // a re-export of the same curated corpus diffs as all-unchanged
      val again = Examples.shardManifest(r.curated, "doc_id", "text", 4)
      val diff = Examples.manifestDiff(r.manifest, again)
        .select("status").as[String].collect().toSet
      assert(diff === Set("unchanged"))
    } finally r.release()
  }

  test("exportTrainingData chunking + epochs: chunk units shard, " +
    "every epoch is a dense permutation of them") {
    import org.apache.spark.sql.functions._
    def goodText(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    val docs = (1 to 10).map(i => (i.toLong, goodText(i), "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val none = Seq.empty[String].toDF("text")
    val r = Pipelines.exportTrainingData(docs, none,
      Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100),
      nShards = 4, chunkTokens = Some(30), chunkStride = Some(20),
      epochs = Some(2))
    try {
      // each 120-token doc yields ceil(120/20) = 6 windows
      val unitIds = r.units.select("doc_id").as[String].collect().toSet
      assert(unitIds.size === 10 * 6)
      assert(unitIds.forall(_.matches("\\d+:\\d+")))
      // the shard layer runs over the chunk units, not the docs
      val asg = r.assignment.select("doc_id").as[String].collect().toSet
      assert(asg === unitIds)
      // every epoch covers every unit exactly once, dense per shard
      val eo = r.epochOrder.get
        .select("epoch", "doc_id", "shard", "ord")
        .as[(Long, String, Long, Long)].collect()
      assert(eo.map(_._1).toSet === Set(0L, 1L))
      (0L to 1L).foreach { e =>
        val rows = eo.filter(_._1 == e)
        assert(rows.map(_._2).toSet === unitIds)
        rows.groupBy(_._3).values.foreach { g =>
          assert(g.map(_._4).sorted.toSeq === (0L until g.length).toSeq)
        }
      }
      // the two epochs actually differ in order (the point of salting)
      val byEpoch = eo.groupBy(_._1).map { case (e, rows) =>
        e -> rows.sortBy(r => (r._3, r._4)).map(_._2).toSeq
      }
      assert(byEpoch(0L) !== byEpoch(1L))
    } finally r.release()
  }

  test("exportTrainingData curates once: after the assignment write the " +
    "manifest reads no file source and equals a from-scratch one") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def goodText(i: Int): String =
      (0 until 40).map(j => s"the w${(i * 31 + j * 7) % 97} of").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_export").toString
    ((1 to 30).map(i => (i.toLong, goodText(i), "en", s"src${i % 3}")) :+
      (31L, goodText(4), "en", "src1"))
      .toDF("doc_id", "text", "lang", "source").write.parquet(s"$dir/docs")
    val docs = spark.read.parquet(s"$dir/docs")
    val benchmark = Seq(goodText(7)).toDF("text")
    val cfg = Pipelines.CurationConfig(minQuality = 0.2, seqLen = 100)
    val r = Pipelines.exportTrainingData(docs, benchmark, cfg, nShards = 4)
    try {
      r.assignment.write.parquet(s"$dir/shards")
      val manifest = r.manifest
      val got = manifest.collect().toSet
      val scans = new AdaptiveSparkPlanHelper {}.collect(
        manifest.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
      assert(scans.isEmpty, s"the manifest re-ran the curation's scan: $scans")
      val fresh = Examples.shardManifest(
        Pipelines.curateCorpus(docs, benchmark, cfg).select("doc_id", "text"),
        "doc_id", "text", 4)
      assert(got === fresh.collect().toSet)
      assert(got.toSeq.map(_.getAs[Long]("n_docs")).sum === 29L)
    } finally r.release()
  }
}
