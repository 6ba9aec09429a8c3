package graft.recommender

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.SparkSpec
import graft.prep.Prep

/** BPR trainer parity + convergence (the GdMfSpec discipline): the
  * distributed full-batch BPR step must match a naive driver-side
  * implementation of Rendle et al.'s pairwise gradient to 1e-9, and
  * ranking quality (training AUC) must improve on a structured
  * fixture. The triplet INPUT is deterministic by construction
  * (q148/q149 hash-gates); these specs cover the float trajectory on
  * top of it.
  */
class BprMfSpec extends SparkSpec {
  import spark.implicits._

  // two taste clusters: users 0-3 like items 0-4, users 4-7 like 5-9 —
  // separable, so pairwise ranking must become better than chance
  private val ratingsSeq: Seq[(String, String)] = {
    val rnd = new scala.util.Random(7)
    for {
      u <- 0 until 8
      i <- 0 until 10
      if (if (u < 4) i < 5 else i >= 5) && rnd.nextDouble() < 0.8
    } yield (s"u$u", s"i$i")
  }

  private def factors(df: org.apache.spark.sql.DataFrame, idCol: String,
      fCol: String): Map[String, Array[Double]] =
    df.select(idCol, fCol).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap

  /** Naive driver-side full-batch BPR over an explicit triplet list,
    * with each epoch's (AUC, loss) before its update.
    */
  private def naive(
      triplets: Seq[(String, String, String)],
      u0: Map[String, Array[Double]],
      i0: Map[String, Array[Double]],
      lr: Double, reg: Double, epochs: Int)
    : (Map[String, Array[Double]], Map[String, Array[Double]], Seq[(Double, Double)]) = {
    var uS = u0.map { case (k, f) => k -> f.clone() }
    var iS = i0.map { case (k, f) => k -> f.clone() }
    val k = u0.head._2.length
    val history = Seq.newBuilder[(Double, Double)]
    for (_ <- 0 until epochs) {
      val uGrad = collection.mutable.Map.empty[String, Array[Double]]
      val iGrad = collection.mutable.Map.empty[String, Array[Double]]
      var (ranked, loss) = (0.0, 0.0)
      triplets.foreach { case (u, p, n) =>
        val w = uS(u); val hp = iS(p); val hn = iS(n)
        val x = (0 until k).map(f => w(f) * hp(f)).sum -
          (0 until k).map(f => w(f) * hn(f)).sum
        val s = 1.0 / (1.0 + math.exp(x))
        ranked += (if (x > 0) 1.0 else if (x == 0) 0.5 else 0.0)
        loss += math.log(1.0 + math.exp(-x))
        val ug = uGrad.getOrElseUpdate(u, Array.fill(k)(0.0))
        val pg = iGrad.getOrElseUpdate(p, Array.fill(k)(0.0))
        val ng = iGrad.getOrElseUpdate(n, Array.fill(k)(0.0))
        (0 until k).foreach { f =>
          ug(f) += s * (hp(f) - hn(f))
          pg(f) += s * w(f)
          ng(f) -= s * w(f)
        }
      }
      history += ((ranked / triplets.size, loss / triplets.size))
      uS = uS.map { case (id, f) =>
        val g = uGrad.getOrElse(id, Array.fill(k)(0.0))
        id -> f.indices.map(j => f(j) + lr * (g(j) - reg * f(j))).toArray
      }
      iS = iS.map { case (id, f) =>
        val g = iGrad.getOrElse(id, Array.fill(k)(0.0))
        id -> f.indices.map(j => f(j) + lr * (g(j) - reg * f(j))).toArray
      }
    }
    (uS, iS, history.result())
  }

  private def assertClose(got: Map[String, Array[Double]],
      want: Map[String, Array[Double]]): Unit = {
    assert(got.keySet === want.keySet)
    got.foreach { case (id, f) =>
      val wf = want(id)
      f.indices.foreach { i =>
        assert(math.abs(f(i) - wf(i)) < 1e-9,
          s"factor($i) mismatch for $id: ${f(i)} vs ${wf(i)}")
      }
    }
  }

  test("BPR batch gradient matches the naive pairwise formulas over 3 epochs") {
    val df = ratingsSeq.toDF("user", "item")
    val cfg0 = BprMf.Config(nFactors = 3, epochs = 0, lr = 0.05, reg = 0.01,
      negativesPerUser = 3, oversample = 6)
    val init = BprMf.fit(df, cfg0)
    val m = BprMf.fit(df, cfg0.copy(epochs = 3))
    val triplets = Prep.bprTriplets(df, "user", "item", 3, 6)
      .as[(String, String, String)].collect().toSeq
    val (wu, wi, _) = naive(triplets,
      factors(init.userState, "user", "u_factors"),
      factors(init.itemState, "item", "i_factors"),
      lr = 0.05, reg = 0.01, epochs = 3)
    assertClose(factors(m.userState, "user", "u_factors"), wu)
    assertClose(factors(m.itemState, "item", "i_factors"), wi)
    init.release(); m.release()
  }

  // the fixture on int ids (uN → N, iN → N), plus user 8, who rated
  // every item and so has no triplet
  private val nUsers = 9
  private val nItems = 10
  private lazy val intTriplets: Seq[(Int, Int, Int)] = {
    val rated = ratingsSeq.map { case (u, i) => (u.tail.toInt, i.tail.toInt) } ++
      (0 until nItems).map(i => (8, i))
    Prep.bprTriplets(rated.toDF("user", "item"), "user", "item", 3, 6)
      .as[(Int, Int, Int)].collect().toSeq
  }

  private def initOf(ids: Range, seed: Long): Map[String, Array[Double]] = {
    val d = GdMf.initDense(ids.toArray, longId = false, k = 3, seed, normal = true)
    ids.map(id => id.toString -> d.factors.slice(id * 3, id * 3 + 3)).toMap
  }

  /** `epochs` epochs of the kernel over `intTriplets` in `parts` blocks:
    * the states and the history sums.
    */
  private def viaStates(parts: Int, epochs: Int)
    : (Map[String, Seq[Double]], Map[String, Seq[Double]], Seq[(Double, Double)]) = {
    val init: Long => Array[Int] => FusedEpoch.Dense =
      seed => GdMf.initDense(_, longId = false, k = 3, seed, normal = true)
    val fit = new FusedEpoch.States(
      FusedEpoch.triplets(intTriplets.toDF("u_id", "p_id", "n_id"),
        (0 until nUsers).toDF("u_id"), parts),
      FusedEpoch.Rule(3, 0.05, 0.01, 0.0, nUsers, nItems, alternating = false),
      FusedEpoch.bprPass, init(42L), init(43L))
    val sums = (0 until epochs).map(_ => fit.epoch())
    def states(n: Int, users: Boolean): Map[String, Seq[Double]] = {
      val dim = DatasetBridge.localCheckpointFresh((0 until n).toDF("id"))
      val cp = fit.checkpoint(dim, "id", users,
        dim.df.schema.add("f", ArrayType(DoubleType, containsNull = true)))
      val out = cp.df.as[(Int, Seq[Double])].collect()
        .map { case (id, f) => id.toString -> f }.toMap
      cp.release(); dim.release()
      out
    }
    val out = (states(nUsers, users = true), states(nItems, users = false), sums)
    fit.release()
    out
  }

  test("the kernel matches naive BPR over 1 and 3 blocks, history included; a refit is bit-equal") {
    val (wu, wi, history) = naive(
      intTriplets.map { case (u, p, n) => (u.toString, p.toString, n.toString) },
      initOf(0 until nUsers, 42L), initOf(0 until nItems, 43L),
      lr = 0.05, reg = 0.01, epochs = 3)
    for (parts <- Seq(1, 3)) withClue(s"$parts blocks: ") {
      val (u, i, sums) = viaStates(parts, epochs = 3)
      assertClose(u.map { case (id, f) => id -> f.toArray }, wu)
      assertClose(i.map { case (id, f) => id -> f.toArray }, wi)
      assert(sums.size === 3)
      sums.zip(history).foreach { case ((ranked, loss), (auc, meanLoss)) =>
        assert(math.abs(ranked / intTriplets.size - auc) < 1e-12)
        assert(math.abs(loss / intTriplets.size - meanLoss) < 1e-9)
      }
      // partials and sums add in block order, not arrival order
      assert(viaStates(parts, epochs = 3) == ((u, i, sums)))
    }
  }

  test("a user who rated every item keeps its row and steps by decay only") {
    val all = (ratingsSeq ++ (0 until 10).map(i => ("uAll", s"i$i"))).toDF("user", "item")
    val cfg0 = BprMf.Config(nFactors = 3, epochs = 0, lr = 0.05, reg = 0.01,
      negativesPerUser = 3, oversample = 6)
    val init = BprMf.fit(all, cfg0)
    val m = BprMf.fit(all, cfg0.copy(epochs = 3))
    val triplets = Prep.bprTriplets(all, "user", "item", 3, 6)
      .as[(String, String, String)].collect().toSeq
    assert(!triplets.exists(_._1 == "uAll"))
    val (wu, wi, _) = naive(triplets,
      factors(init.userState, "user", "u_factors"),
      factors(init.itemState, "item", "i_factors"),
      lr = 0.05, reg = 0.01, epochs = 3)
    val got = factors(m.userState, "user", "u_factors")
    assertClose(got, wu)
    assertClose(factors(m.itemState, "item", "i_factors"), wi)
    assert(got("uAll").toSeq === wu("uAll").toSeq)
    init.release(); m.release()
  }

  test("a refit is bit-equal, and an epoch is one job, history or not") {
    val df = ratingsSeq.toDF("user", "item")
    def fit(epochs: Int, collectMetrics: Boolean) = shapeOf(BprMf.fit(df,
      BprMf.Config(nFactors = 4, epochs = epochs, lr = 0.2, reg = 0.001,
        negativesPerUser = 4, oversample = 6, collectMetrics = collectMetrics)))
    def exact(m: BprMf.Model) = (
      m.userState.as[(String, Seq[Double])].collect().toMap,
      m.itemState.as[(String, Seq[Double])].collect().toMap, m.history)
    for (collectMetrics <- Seq(false, true)) withClue(s"collectMetrics=$collectMetrics: ") {
      val (one, oneShape) = fit(1, collectMetrics)
      val (three, threeShape) = fit(3, collectMetrics)
      assert(threeShape.jobs === oneShape.jobs + 2,
        s"3 epochs ran ${threeShape.jobs} jobs, 1 epoch ${oneShape.jobs}")
      val (again, _) = fit(3, collectMetrics)
      assert(exact(again) == exact(three))
      assert(three.history.size === (if (collectMetrics) 3 else 0))
      Seq(one, three, again).foreach(_.release())
    }
  }

  test("training AUC improves and loss falls on the separable fixture") {
    val df = ratingsSeq.toDF("user", "item")
    val m = BprMf.fit(df, BprMf.Config(nFactors = 4, epochs = 12, lr = 0.2,
      reg = 0.001, negativesPerUser = 4, oversample = 6,
      collectMetrics = true))
    val aucs = m.history.map(_._2.auc)
    val losses = m.history.map(_._2.loss)
    assert(m.history.size === 12)
    assert(aucs.last > aucs.head,
      s"AUC did not improve: ${aucs.head} -> ${aucs.last}")
    assert(aucs.last > 0.75, s"final AUC ${aucs.last} not clearly above chance")
    assert(losses.last < losses.head,
      s"loss did not fall: ${losses.head} -> ${losses.last}")
    m.release()
  }

  test("score ranks a user's positives above sampled negatives after training") {
    val df = ratingsSeq.toDF("user", "item")
    val m = BprMf.fit(df, BprMf.Config(nFactors = 4, epochs = 12, lr = 0.2,
      reg = 0.001, negativesPerUser = 4, oversample = 6))
    // u0's cluster items should outscore the other cluster's on average
    val pairs = (0 until 10).map(i => ("u0", s"i$i")).toDF("user", "item")
    val scores = m.score(pairs).select("item", "score")
      .as[(String, Double)].collect().toMap
    val own = (0 until 5).map(i => scores(s"i$i")).sum / 5
    val other = (5 until 10).map(i => scores(s"i$i")).sum / 5
    assert(own > other, s"own-cluster mean $own !> other-cluster mean $other")
    m.release()
  }

  test("topNExact ranks by the pure dot with (score desc, item) tie-break") {
    val users = Seq(
      ("u1", Seq(1.0, 0.0)), ("u2", Seq(0.0, 1.0)))
      .toDF("user", "u_factors")
    val items = Seq(
      ("a", Seq(2.0, 0.0)), ("b", Seq(0.0, 3.0)), ("c", Seq(1.0, 1.0)),
      ("d", Seq(1.0, 1.0))) // ties c on both users → item asc breaks it
      .toDF("item", "i_factors")
    val got = BprMf.topNExact(users, items, 3)
      .as[(String, String, Int)].collect().toSet
    // u1: a=2, c=d=1 (c before d), b=0; u2: b=3, c=d=1, a=0
    assert(got === Set(
      ("u1", "a", 1), ("u1", "c", 2), ("u1", "d", 3),
      ("u2", "b", 1), ("u2", "c", 2), ("u2", "d", 3)))
  }

  test("ANN top-N achieves high recall against the exact cross join") {
    val df = ratingsSeq.toDF("user", "item")
    val m = BprMf.fit(df, BprMf.Config(nFactors = 4, epochs = 8, lr = 0.2,
      reg = 0.001, negativesPerUser = 4, oversample = 6))
    val exact = m.recommendForAllUsersExact(3)
      .as[(String, String, Int)].collect().map(t => (t._1, t._2)).toSet
    // tiny catalog: small nlist, probe most of it, heavy overfetch —
    // the production knobs scaled down to a 10-item fixture
    val ann = m.recommendForAllUsersAnn(3, nlist = 4, nprobe = 3,
      overfetch = 4)
      .as[(String, String, Int)].collect().map(t => (t._1, t._2)).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"BPR ANN recall too low: $recall")
    m.release()
  }

  test("Model.recommendForAllUsersExact returns n decoded recs per trained user") {
    val df = ratingsSeq.toDF("user", "item")
    val m = BprMf.fit(df, BprMf.Config(nFactors = 2, epochs = 2, lr = 0.1,
      reg = 0.001, negativesPerUser = 2, oversample = 4))
    val recs = m.recommendForAllUsersExact(3)
    val perUser = recs.groupBy("user").count()
      .as[(String, Long)].collect().toMap
    assert(perUser.values.forall(_ === 3L))
    assert(perUser.keySet === df.select("user").distinct()
      .as[String].collect().toSet)
    m.release()
  }
}
