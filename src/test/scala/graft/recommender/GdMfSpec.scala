package graft.recommender

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Rating

/** Parity tests (FIXTURES.md F3 / SURVEY §7.4.1): the distributed
  * trainer must match a naive driver-side implementation of the
  * reference's formulas bit-for-bit-ish (1e-9), including the two
  * semantics traps (reg-term dimension scaling; update ordering).
  */
class GdMfSpec extends SparkSpec {
  import spark.implicits._

  private val ratingsSeq: Seq[Rating] = {
    // rank-2-ish sparse matrix, 6 users × 5 items, 17 observed cells
    val rnd = new scala.util.Random(13)
    for {
      u <- 0 until 6
      i <- 0 until 5
      if rnd.nextDouble() < 0.6
    } yield Rating(s"u$u", s"i$i", (u % 3) + (i % 2) + 1.0, (u * 5 + i).toLong)
  }

  /** A `users × items` grid with each cell rated 1-5 with probability `p`. */
  private def grid(seed: Int, users: Int, items: Int, p: Double): Seq[Rating] = {
    val rnd = new scala.util.Random(seed)
    for {
      u <- 0 until users; i <- 0 until items if rnd.nextDouble() < p
    } yield Rating(s"u$u", s"i$i", 1.0 + rnd.nextInt(5), (u * 100 + i).toLong)
  }

  /** `df` cached as 32 partitions and counted — the shape a persisted
    * `Pipelines.prepare` split hands the fit at a 32-wide session.
    */
  private def cached32(df: org.apache.spark.sql.DataFrame) = {
    val c = df.repartition(32).persist()
    c.count()
    c
  }

  private type States = Map[String, (Array[Double], Double)]

  private def state(df: org.apache.spark.sql.DataFrame, idCol: String,
      fCol: String, bCol: String): States =
    df.select(idCol, fCol, bCol).collect()
      .map(r => r.getString(0) -> (r.getSeq[Double](1).toArray, r.getDouble(2)))
      .toMap

  /** Naive dense implementation of reference models/funk_svd.py:157-170
    * and models/als.py:158-174, over observed cells. Also returns each
    * epoch's pre-update training (MAE, MSE, RMSE): FunkSVD's epoch-start
    * error, which for ALS-GD is the previous epoch's final error.
    */
  private def naive(
      obs: Seq[(String, String, Double)],
      u0: States, i0: States,
      mean: Double, lr: Double, reg: Double, epochs: Int,
      alternating: Boolean): (States, States, Seq[(Double, Double, Double)]) = {
    var uS = u0.map { case (k, (f, b)) => k -> (f.clone(), b) }
    var iS = i0.map { case (k, (f, b)) => k -> (f.clone(), b) }
    val nUsers = u0.size.toDouble
    val nItems = i0.size.toDouble
    val k = u0.head._2._1.length

    def err(u: States, i: States): Map[(String, String), Double] =
      obs.map { case (uu, ii, r) =>
        val (p, ub) = u(uu); val (q, ib) = i(ii)
        val dot = (0 until k).map(f => p(f) * q(f)).sum
        (uu, ii) -> (r - (mean + ub + ib + dot))
      }.toMap

    def userUpdate(e: Map[(String, String), Double], u: States, i: States) =
      u.map { case (uu, (p, ub)) =>
        val cells = obs.filter(_._1 == uu)
        val grad = Array.fill(k)(0.0)
        var esum = 0.0
        cells.foreach { case (_, ii, _) =>
          val ev = e((uu, ii)); val q = i(ii)._1
          (0 until k).foreach(f => grad(f) += ev * q(f)); esum += ev
        }
        val p2 = p.indices.map(f => p(f) + lr * (grad(f) - reg * p(f))).toArray
        uu -> (p2, ub + lr * (esum - reg * ub * nItems))
      }

    def itemUpdate(e: Map[(String, String), Double], uForGrad: States, i: States) =
      i.map { case (ii, (q, ib)) =>
        val cells = obs.filter(_._2 == ii)
        val grad = Array.fill(k)(0.0)
        var esum = 0.0
        cells.foreach { case (uu, _, _) =>
          val ev = e((uu, ii)); val p = uForGrad(uu)._1
          (0 until k).foreach(f => grad(f) += ev * p(f)); esum += ev
        }
        val q2 = q.indices.map(f => q(f) + lr * (grad(f) - reg * q(f))).toArray
        ii -> (q2, ib + lr * (esum - reg * ib * nUsers))
      }

    val history = (0 until epochs).map { _ =>
      val e = err(uS, iS)
      if (alternating) {
        uS = userUpdate(e, uS, iS)
        val e1 = err(uS, iS)
        iS = itemUpdate(e1, uS, iS)
      } else {
        val newU = userUpdate(e, uS, iS)
        iS = itemUpdate(e, newU, iS) // trap 2: item grad uses updated P
        uS = newU
      }
      val n = obs.size.toDouble
      val mse = e.values.map(v => v * v).sum / n
      (e.values.map(math.abs).sum / n, mse, math.sqrt(mse))
    }
    (uS, iS, history)
  }

  private def assertClose(got: States, want: States): Unit = {
    assert(got.keySet === want.keySet)
    got.foreach { case (id, (f, b)) =>
      val (wf, wb) = want(id)
      assert(math.abs(b - wb) < 1e-9, s"bias mismatch for $id: $b vs $wb")
      f.indices.foreach { i =>
        assert(math.abs(f(i) - wf(i)) < 1e-9,
          s"factor($i) mismatch for $id: ${f(i)} vs ${wf(i)}")
      }
    }
  }

  /** Fits `df` under `cfg` and checks the states and the per-epoch
    * training errors against [[naive]] from the same initial states.
    * Returns the trained states and history, exactly, for comparing fits.
    */
  private def assertMatchesNaive(df: org.apache.spark.sql.DataFrame,
      obs: Seq[(String, String, Double)], cfg: GdMf.Config) = {
    val init = GdMf.fit(df, cfg.copy(epochs = 0))
    val m = GdMf.fit(df, cfg.copy(collectErrors = true))
    val (wu, wi, wh) = naive(obs,
      state(init.userState, "user", "u_factors", "u_bias"),
      state(init.itemState, "item", "i_factors", "i_bias"),
      init.stats.meanRating, cfg.lr, cfg.reg, cfg.epochs, cfg.alternating)
    val (mu, mi) = (state(m.userState, "user", "u_factors", "u_bias"),
      state(m.itemState, "item", "i_factors", "i_bias"))
    assertClose(mu, wu)
    assertClose(mi, wi)
    assert(m.trainErrors.map(_._1) === (0 until cfg.epochs))
    m.trainErrors.map(_._2).zip(wh).foreach { case (got, (mae, mse, rmse)) =>
      assert(math.abs(got.mae - mae) < 1e-9 && math.abs(got.mse - mse) < 1e-9 &&
        math.abs(got.rmse - rmse) < 1e-9, s"history mismatch: $got vs ($mae, $mse, $rmse)")
    }
    init.release(); m.release()
    def exact(s: States) = s.map { case (id, (f, b)) => id -> ((f.toSeq, b)) }
    (exact(mu), exact(mi), m.trainErrors)
  }

  private def parityCheck(alternating: Boolean): Unit =
    assertMatchesNaive(ratingsSeq.toDF, ratingsSeq.map(r => (r.user, r.item, r.rating)),
      GdMf.Config(nFactors = 3, epochs = 3, lr = 0.01, reg = 0.1,
        alternating = alternating))

  test("FunkSVD matches the reference formulas over 3 epochs (incl. both traps)") {
    parityCheck(alternating = false)
  }

  test("ALS-GD matches the reference's alternating schedule over 3 epochs") {
    parityCheck(alternating = true)
  }

  test("FunkSVD converges on an exactly-factorizable rank-1 matrix") {
    // FIXTURES.md F3 rank-1: rating(u,i) = p(u)*q(i), all cells observed
    val p = Seq(1.0, 2.0, 3.0)
    val q = Seq(1.0, 0.5, 2.0, 1.0)
    val cells = for {
      (pu, u) <- p.zipWithIndex
      (qi, i) <- q.zipWithIndex
    } yield Rating(s"u$u", s"i$i", pu * qi, (u * 4 + i).toLong)
    val cfg = GdMf.Config(nFactors = 2, epochs = 40, lr = 0.1, reg = 0.0,
      collectErrors = true)
    val m = GdMf.fit(cells.toDF, cfg)
    val first = m.trainErrors.head._2.rmse
    val last = m.trainErrors.last._2.rmse
    assert(last < first * 0.35, s"rmse did not descend: $first -> $last")
    // training error history is epoch-indexed and finite
    assert(m.trainErrors.map(_._1) === (0 until 40))
    assert(m.trainErrors.forall { case (_, mm) =>
      !mm.mae.isNaN && mm.rmse * mm.rmse - mm.mse < 1e-9
    })
  }

  test("both schedules match naive in every broadcast regime, history included") {
    val cells = grid(seed = 7, users = 25, items = 15, p = 0.4)
    val obs = cells.map(r => (r.user, r.item, r.rating))
    // plus a user whose only rating is null: it steps by decay only, and
    // the history averages over the rated cells
    val df = cached32((cells.map(r => (r.user, r.item, Option(r.rating), r.time)) :+
      (("uNull", "i0", None, 0L))).toDF("user", "item", "rating", "time"))
    // 1 block and 1 item range, then 3 of each (the ranges fold several
    // blocks' partials), under the caps that pick the encode joins: the
    // user dimension (~690 B) and the item dimension (~395 B) broadcast
    // under the default cap and under 1000 B; under 500 B only the items
    // broadcast; under 0 neither does.
    val base = GdMf.Config(nFactors = 3, epochs = 3, lr = 0.01, reg = 0.01)
    for {
      alternating <- Seq(false, true)
      cfg <- Seq(base, base.copy(factsPartitions = 3),
        base.copy(autoBroadcastDimBytes = 1000L, factsPartitions = 3),
        base.copy(autoBroadcastDimBytes = 0L, factsPartitions = 3),
        base.copy(autoBroadcastDimBytes = 500L, factsPartitions = 3))
    } withClue(s"$cfg alternating=$alternating: ") {
      val fit = assertMatchesNaive(df, obs, cfg.copy(alternating = alternating))
      // partials fold in block order, not arrival order: a refit is
      // bit-identical
      assert(assertMatchesNaive(df, obs, cfg.copy(alternating = alternating)) == fit)
    }
    df.unpersist()
  }

  test("an epoch cuts the states' lineage") {
    // each epoch's job cuts the generation it makes, so a long fit's
    // lineage does not grow with its epochs
    val facts = (for (u <- 0 until 20; i <- 0 until 12 if (u + i) % 3 != 0 || u == i)
      yield (u, i, 1.0 + (u * 7 + i) % 5)).toDF("u_id", "i_id", "rating")
    val init: Array[Int] => FusedEpoch.Dense =
      GdMf.initDense(_, longId = false, k = 3, seed = 42L, normal = true)
    for (alternating <- Seq(false, true)) withClue(s"alternating=$alternating: ") {
      val fit = new FusedEpoch.States(FusedEpoch.blocks(facts, 3),
        FusedEpoch.Rule(3, 0.01, 0.01, 3.0, 20, 12, alternating), FusedEpoch.gdPass, init, init)
      def length = fit.lineage.linesIterator.size
      fit.epoch()
      val afterOne = length
      for (_ <- 2 to 5) fit.epoch()
      assert(length === afterOne)
      fit.release()
    }
  }

  test("every fit stage is as wide as the data; a setup-only fit is a few jobs") {
    // a few thousand ratings, 1 partition by the 32 MB rule, handed over
    // 32 partitions wide: no stage may run the input's or the session's
    // shuffle width, and no separate stats job may come back
    val cells = grid(seed = 3, users = 200, items = 60, p = 0.25)
    assert(cells.size > 2000)
    val df = cached32(cells.toDF)
    val widthWas = spark.conf.get("spark.sql.shuffle.partitions")
    for (alternating <- Seq(false, true)) {
      val (m, shape) = shapeOf(GdMf.fit(df, GdMf.Config(nFactors = 4,
        epochs = 2, alternating = alternating)))
      val stages = shape.stageWidths
      assert(stages.nonEmpty && stages.forall(_ <= 1),
        s"stage widths $stages (alternating=$alternating)")
      m.release()
    }
    val (m0, setup) = shapeOf(GdMf.fit(df, GdMf.Config(nFactors = 4, epochs = 0)))
    assert(setup.jobs <= 4, s"an epochs = 0 fit ran ${setup.jobs} jobs")
    m0.release()
    // an epoch is ONE job, and the history rides on it
    for (alternating <- Seq(false, true)) {
      def jobsOf(epochs: Int, collectErrors: Boolean) = {
        val (m, shape) = shapeOf(GdMf.fit(df, GdMf.Config(nFactors = 4, epochs = epochs,
          alternating = alternating, collectErrors = collectErrors)))
        m.release()
        shape.jobs
      }
      val one = jobsOf(1, collectErrors = false)
      for (collectErrors <- Seq(false, true)) {
        val three = jobsOf(3, collectErrors)
        assert(three === one + 2, s"alternating=$alternating collectErrors=$collectErrors: " +
          s"3 epochs ran $three jobs, 1 epoch $one")
      }
    }
    // ...over 4 blocks and 4 item ranges too
    val blocked = GdMf.Config(nFactors = 4, epochs = 1, factsPartitions = 4)
    val (c1, one) = shapeOf(GdMf.fit(df, blocked))
    val (c3, three) = shapeOf(GdMf.fit(df, blocked.copy(epochs = 3)))
    assert(three.jobs === one.jobs + 2,
      s"3 epochs ran ${three.jobs} jobs, 1 epoch ${one.jobs}")
    c1.release(); c3.release()
    assert(spark.conf.get("spark.sql.shuffle.partitions") === widthWas)
    df.unpersist()
  }

  // The SQL forms of the init, which initFactors replaced: its reference.
  private def u01Sql(id: Column, salt: Int, seed: Long): Column =
    xxhash64(id, lit(salt), lit(seed)).cast("double") / lit(1.8446744073709552e19) + lit(0.5)
  private def uniformFactorsSql(id: Column, k: Int, seed: Long): Column =
    array((0 until k).map(f => u01Sql(id, f, seed) * 0.1): _*)
  private def normalFactorsSql(id: Column, k: Int, seed: Long): Column =
    array((0 until k).map { f =>
      val a = greatest(u01Sql(id, 2 * f, seed), lit(1e-12))
      val b = u01Sql(id, 2 * f + 1, seed)
      sqrt(lit(-2.0) * log(a)) * cos(lit(2.0 * math.Pi) * b) * 0.1
    }: _*)
  private def factorsSql(normal: Boolean) =
    if (normal) normalFactorsSql _ else uniformFactorsSql _

  test("the init equals its SQL form bit for bit: int and long ids, both distributions") {
    val (k, n, seed) = (30, 12000, 42L)
    for (longId <- Seq(false, true); normal <- Seq(false, true))
      withClue(s"longId=$longId normal=$normal: ") {
        val id = if (longId) col("id") else col("id").cast("int")
        val rows = spark.range(n).select(col("id"), factorsSql(normal)(id, k, seed),
          GdMf.initColumn(id, k, seed, normal)).collect()
        assert(rows.length === n)
        def bits(xs: Iterable[Double]) = xs.map(java.lang.Double.doubleToRawLongBits).toSeq
        val bad = rows.filterNot { r =>
          val driver = new Array[Double](k)
          GdMf.initFactors(r.getLong(0), longId, k, seed, normal, driver, 0)
          val want = bits(r.getSeq[Double](1))
          bits(driver) == want && bits(r.getSeq[Double](2)) == want
        }
        assert(bad.isEmpty, s"${bad.length} ids differ, first ${bad.headOption}")
      }
  }

  test("the states keep the SQL init's schema, trained or not, fused or not") {
    import graft.encode.Encoding
    val df = ratingsSeq.toDF
    // the fit's dims come from its non-null-key slice
    val keyed = df.where(col("user").isNotNull && col("item").isNotNull)
    for (alternating <- Seq(false, true); epochs <- Seq(0, 1);
         cap <- Seq(64L << 20, 0L)) withClue(s"$alternating $epochs $cap: ") {
      val m = GdMf.fit(df, GdMf.Config(nFactors = 3, epochs = epochs,
        alternating = alternating, autoBroadcastDimBytes = cap))
      def sqlState(key: String, id: String, f: String, b: String, seed: Long) =
        Encoding.dimension(keyed, key, "time", id)
          .withColumn(f, factorsSql(!alternating)(col(id), 3, seed))
          .withColumn(b, lit(0.0)).select(key, f, b).schema
      assert(m.userState.schema === sqlState("user", "u_id", "u_factors", "u_bias", 42L))
      assert(m.itemState.schema === sqlState("item", "i_id", "i_factors", "i_bias", 43L))
      m.release()
    }
  }

  test("fit stats equal ratingStats over the encoded facts (duplicates, null keys and ratings)") {
    import graft.encode.Encoding
    val raw = Seq[(String, String, Option[Double], Long)](
      ("u1", "i1", Some(4.0), 1L), ("u1", "i1", Some(4.0), 1L), // exact duplicate
      ("u2", "i1", Some(2.0), 2L), ("u2", "i2", None, 3L), // null rating
      (null, "i2", Some(5.0), 4L), // null user
      ("u3", null, Some(1.0), 5L), // null item; u3 has no other rating
      ("u4", "i3", Some(3.0), 6L), ("u1", "i3", Some(2.5), 7L))
      .toDF("user", "item", "rating", "time")
    val df = cached32(raw)
    val facts = Encoding.encode(df, Encoding.dimension(df, "user", "time", "u_id"),
      Encoding.dimension(df, "item", "time", "i_id"))
    def six(s: graft.encode.RatingStats) =
      (s.nRatings, s.nUsers, s.nItems, s.minRating, s.maxRating, s.meanRating)
    def keys(state: org.apache.spark.sql.DataFrame, c: String) =
      (state.schema(c).dataType, state.select(c).collect().map(_.get(0)).toSet)
    val m0 = GdMf.fit(df, GdMf.Config(nFactors = 2, epochs = 0))
    // a trained fit's states come from its blocks and item ranges, under
    // encode joins that broadcast or (cap 0) shuffle
    for ((epochs, cap) <- Seq((0, 64L << 20), (2, 64L << 20), (2, 0L)))
      withClue(s"epochs = $epochs, cap = $cap: ") {
      val m = GdMf.fit(df, GdMf.Config(nFactors = 2, epochs = epochs,
        autoBroadcastDimBytes = cap))
      assert(six(m.stats) === six(Encoding.ratingStats(facts)))
      assert(six(m.stats) === ((6L, 3L, 3L, 2.0, 4.0, 3.1)))
      // the states hold exactly the counted ids, keyed as the untrained ones
      assert(m.userState.count() === m.stats.nUsers)
      assert(m.itemState.count() === m.stats.nItems)
      assert(keys(m.userState, "user") === keys(m0.userState, "user"))
      assert(keys(m.itemState, "item") === keys(m0.itemState, "item"))
      m.release()
    }
    m0.release()
    df.unpersist()
  }

  test("Model.release drops the backing checkpoint blocks") {
    val r = Seq(
      Rating("u1", "i1", 2.0, 1L), Rating("u1", "i2", 3.0, 2L),
      Rating("u2", "i1", 4.0, 3L), Rating("u2", "i2", 5.0, 4L)).toDF
    val m = GdMf.fit(r, GdMf.Config(nFactors = 2, epochs = 2))
    m.userState.count() // usable before release
    val before = spark.sparkContext.getPersistentRDDs.size
    m.release()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after < before,
      s"release() freed no blocks: $before -> $after persistent RDDs")
  }

  test("both trainers reject a negative epoch count or a non-positive factor count by name") {
    val df = ratingsSeq.toDF
    val pairs = ratingsSeq.map(r => (r.user, r.item)).toDF("user", "item")
    for ((nFactors, epochs, field) <- Seq((3, -1, "epochs"), (-1, 2, "nFactors"), (0, 2, "nFactors")))
      withClue(s"nFactors = $nFactors, epochs = $epochs: ") {
        val gd = intercept[IllegalArgumentException](
          GdMf.fit(df, GdMf.Config(nFactors = nFactors, epochs = epochs)))
        assert(gd.getMessage.contains(field))
        val bpr = intercept[IllegalArgumentException](
          BprMf.fit(pairs, BprMf.Config(nFactors = nFactors, epochs = epochs)))
        assert(bpr.getMessage.contains(field))
      }
  }
}
