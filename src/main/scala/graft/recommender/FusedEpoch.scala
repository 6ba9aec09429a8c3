package graft.recommender

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.DatasetBridge.{checkpointRows, FreshCheckpoint}
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuilder

/** [[GdMf]]'s epoch while both factor states fit the broadcast cap: ONE
  * Spark job per epoch (the FuseME move — the operator chain err →
  * metrics → both gradients runs as one pass, and the error relation is
  * never materialized).
  *
  * The states live on the driver as dense arrays indexed by
  * `u_id` / `i_id` and reach the tasks through `sc.broadcast` (no job).
  * The facts are cached once as one [[Block]] per hash(u_id) partition,
  * sorted by user, so each task holds every row of its users and
  * computes, in one pass: the epoch-start error and its (Σ|e|, Σe²);
  * its users' gradients and new factors; and item-gradient partials
  * against those new user factors — FunkSVD's from the epoch-start error
  * (trap 2), ALS-GD's from the error recomputed with the new user
  * state, so its alternation stays inside the pass. The driver folds the
  * task results in PARTITION order (a fit is bit-reproducible: no sum
  * depends on task timing) and steps both states with the same
  * [[Rule]] the tasks used. Per epoch it receives every user's gradient
  * and one item-partial array per task, up to the user state plus
  * parts × the item state, so [[GdMf]] runs this only while that sum
  * fits its broadcast cap.
  */
private[recommender] object FusedEpoch {

  /** One partition's facts sorted by (u_id, i_id, rating): user
    * `users(j)` owns rows `from(j) until from(j + 1)`.
    */
  final class Block(val users: Array[Int], val from: Array[Int],
      val items: Array[Int], val ratings: Array[Double]) extends Serializable

  /** A factor state: `factors(id·k + f)` and `bias(id)`. */
  final class Dense(val factors: Array[Double], val bias: Array[Double])
      extends Serializable

  /** One task's share of an epoch: error sums, its users' gradients
    * (`uGrad(j·k + f)` for `users(j)`), and item partials for the items
    * its rows touch, ascending.
    */
  final class Partial(val sae: Double, val sse: Double,
      val users: Array[Int], val uGrad: Array[Double], val uEsum: Array[Double],
      val items: Array[Int], val iGrad: Array[Double], val iEsum: Array[Double])
      extends Serializable

  /** The reference's update, shared by tasks and driver so that a user
    * state stepped in a task equals the driver's bit for bit.
    */
  final case class Rule(k: Int, lr: Double, reg: Double, mean: Double,
      nUsers: Long, nItems: Long, alternating: Boolean) {
    def factor(p: Double, g: Double): Double = p + lr * (g - reg * p)
    // trap 1: the reg term scales with the FULL opposite-dimension size
    def bias(b: Double, esum: Double, dimSize: Long): Double =
      b + lr * (esum - reg * b * dimSize)
    // same association as the relational form's rating - (μ + bu + bi + p·q)
    def err(r: Double, bu: Double, bi: Double, p: Array[Double], pAt: Int,
        q: Array[Double], qAt: Int): Double = {
      var dot = 0.0
      var f = 0
      while (f < k) { dot += p(pAt + f) * q(qAt + f); f += 1 }
      r - (mean + bu + bi + dot)
    }
  }

  /** Cache `facts` (hash(u_id)-partitioned u_id, i_id, rating) as one
    * sorted block per partition. The sort makes every task's summation
    * order a function of the data alone. Null ratings are dropped: their
    * error is null, which every relational sum skips.
    */
  def blocks(facts: DataFrame): RDD[Block] =
    facts
      .select(col("u_id").cast("int").as("u_id"), col("i_id").cast("int").as("i_id"),
        col("rating").cast("double").as("rating"))
      .where(col("rating").isNotNull)
      .sortWithinPartitions("u_id", "i_id", "rating")
      .queryExecution.toRdd.mapPartitions { rows =>
        val (users, from) = (ArrayBuilder.make[Int], ArrayBuilder.make[Int])
        val (items, ratings) = (ArrayBuilder.make[Int], ArrayBuilder.make[Double])
        var n = 0
        var last = -1 // ids are dense from 0
        rows.foreach { r =>
          val u = r.getInt(0)
          if (u != last) { users += u; from += n; last = u }
          items += r.getInt(1)
          ratings += r.getDouble(2)
          n += 1
        }
        from += n
        Iterator.single(new Block(users.result(), from.result(), items.result(),
          ratings.result()))
      }
      // released by the caller once the last epoch has run
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** One task's pass over its block against the epoch-start states. */
  private def pass(b: Block, u: Dense, i: Dense, r: Rule): Partial = {
    val k = r.k
    val nItems = i.bias.length
    val uGrad = new Array[Double](b.users.length * k)
    val uEsum = new Array[Double](b.users.length)
    val iGrad = new Array[Double](nItems * k)
    val iEsum = new Array[Double](nItems)
    val touched = new java.util.BitSet(nItems)
    val e = new Array[Double](b.ratings.length)
    val p1 = new Array[Double](k) // the current user's new factors
    var sae = 0.0
    var sse = 0.0
    var j = 0
    while (j < b.users.length) {
      val pAt = b.users(j) * k
      val bu = u.bias(b.users(j))
      val gAt = j * k
      var es = 0.0
      var row = b.from(j)
      while (row < b.from(j + 1)) {
        val it = b.items(row)
        val ev = r.err(b.ratings(row), bu, i.bias(it), u.factors, pAt, i.factors, it * k)
        e(row) = ev
        sae += math.abs(ev)
        sse += ev * ev
        var f = 0
        while (f < k) { uGrad(gAt + f) += ev * i.factors(it * k + f); f += 1 }
        es += ev
        row += 1
      }
      uEsum(j) = es
      var f = 0
      while (f < k) { p1(f) = r.factor(u.factors(pAt + f), uGrad(gAt + f)); f += 1 }
      val bu1 = r.bias(bu, es, r.nItems)
      row = b.from(j)
      while (row < b.from(j + 1)) {
        val it = b.items(row)
        // ALS-GD recomputes the error with the new user state
        val ev =
          if (r.alternating) r.err(b.ratings(row), bu1, i.bias(it), p1, 0, i.factors, it * k)
          else e(row)
        f = 0
        while (f < k) { iGrad(it * k + f) += ev * p1(f); f += 1 }
        iEsum(it) += ev
        touched.set(it)
        row += 1
      }
      j += 1
    }
    val items = touched.stream().toArray
    val iGradOut = new Array[Double](items.length * k)
    for (x <- items.indices) System.arraycopy(iGrad, items(x) * k, iGradOut, x * k, k)
    new Partial(sae, sse, b.users, uGrad, uEsum, items, iGradOut, items.map(it => iEsum(it)))
  }

  /** Step every id of `s` by its folded gradient (zero for an id no fact
    * touched: decay only, like the relational left join).
    */
  private def stepped(s: Dense, grad: Array[Double], esum: Array[Double],
      dimSize: Long, r: Rule): Dense =
    new Dense(Array.tabulate(s.factors.length)(x => r.factor(s.factors(x), grad(x))),
      Array.tabulate(s.bias.length)(id => r.bias(s.bias(id), esum(id), dimSize)))

  /** One epoch: one job over `facts`. Returns the stepped states and the
    * epoch-start (Σ|e|, Σe²).
    */
  def epoch(facts: RDD[Block], u: Dense, i: Dense, r: Rule): (Dense, Dense, Double, Double) = {
    val sc = facts.sparkContext
    val (bu, bi) = (sc.broadcast(u), sc.broadcast(i))
    val parts =
      try facts.map(pass(_, bu.value, bi.value, r)).collect()
      finally { bu.destroy(); bi.destroy() }
    val k = r.k
    val uGrad = new Array[Double](u.factors.length)
    val uEsum = new Array[Double](u.bias.length)
    val iGrad = new Array[Double](i.factors.length)
    val iEsum = new Array[Double](i.bias.length)
    var sae = 0.0
    var sse = 0.0
    for (p <- parts) { // partition order
      sae += p.sae
      sse += p.sse
      // each user's rows sit in one partition: its gradient is copied
      for (j <- p.users.indices) {
        System.arraycopy(p.uGrad, j * k, uGrad, p.users(j) * k, k)
        uEsum(p.users(j)) = p.uEsum(j)
      }
      for (x <- p.items.indices) {
        val at = p.items(x) * k
        for (f <- 0 until k) iGrad(at + f) += p.iGrad(x * k + f)
        iEsum(p.items(x)) += p.iEsum(x)
      }
    }
    (stepped(u, uGrad, uEsum, r.nItems, r), stepped(i, iGrad, iEsum, r.nUsers, r), sae, sse)
  }

  /** `dim`'s rows (key, id) extended with `s`'s factors and bias, as a
    * fresh checkpoint of `schema` (one job).
    */
  def checkpoint(spark: SparkSession, dim: FreshCheckpoint, idCol: String,
      s: Dense, k: Int, schema: StructType): FreshCheckpoint = {
    val dimSchema = dim.df.schema
    val idAt = dimSchema.fieldIndex(idCol)
    val longId = dimSchema(idAt).dataType == LongType
    // not destroyed: every later job over the checkpoint serializes this
    // map's closure; the context cleaner drops it with the RDD
    val bs = spark.sparkContext.broadcast(s)
    checkpointRows(spark, dim.rdd.map { row =>
      val id = if (longId) row.getLong(idAt).toInt else row.getInt(idAt)
      val st = bs.value
      InternalRow.fromSeq(row.toSeq(dimSchema) ++ Seq(
        UnsafeArrayData.fromPrimitiveArray(st.factors.slice(id * k, id * k + k)),
        st.bias(id)))
    }, schema)
  }
}
