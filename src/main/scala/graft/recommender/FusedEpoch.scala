package graft.recommender

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.DatasetBridge.{checkpointRows, FreshCheckpoint}
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.encode.{Encoding, Keyed}

import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag

/** The trainers' epoch: ONE Spark job per epoch (the FuseME move — the
  * operator chain err → metrics → both gradients runs as one pass over
  * partitioned blocks, and the error relation is never materialized).
  *
  * The facts are cached once as one [[Block]] per hash(u_id) partition,
  * sorted, so each task holds every row of its users and runs the
  * trainer's pass over them. [[gdPass]] ([[GdMf]]) computes the
  * epoch-start error and its (Σ|e|, Σe²); its users' gradients and new
  * factors; and item-gradient partials against those new user factors —
  * FunkSVD's from the epoch-start error (trap 2), ALS-GD's from the
  * error recomputed with the new user state, so its alternation stays
  * inside the pass. [[bprPass]] ([[BprMf]]) steps its users and makes
  * item partials from the epoch-start states alike.
  *
  * The states live on the executors ([[States]]): the user state beside
  * its blocks, the item state in contiguous i_id ranges. Each range
  * sends each block the item rows it reads, each block sends each range
  * its partials, and each range folds them in block order and steps its
  * items with the same [[Rule]] — a job of three stages in which nothing
  * state-sized reaches the driver and no sum depends on task timing, so
  * a fit is bit-reproducible.
  */
private[recommender] object FusedEpoch {

  /** One partition's facts, sorted, over every user the partition holds
    * (one with no fact row too): user `users(j)` owns rows
    * `from(j) until from(j + 1)`, and `itemIds` are the items the rows
    * read, ascending. The transport reads only `users` and `itemIds`.
    */
  sealed abstract class Block(val users: Array[Int], val from: Array[Int],
      val itemIds: Array[Int]) extends Serializable

  /** [[GdMf]]'s ratings sorted by (u_id, i_id, rating): `items(row)` is
    * a position in `itemIds`.
    */
  final class Ratings(users: Array[Int], from: Array[Int], itemIds: Array[Int],
      val items: Array[Int], val ratings: Array[Double]) extends Block(users, from, itemIds)

  /** [[BprMf]]'s (u, p, n) triplets sorted by (u_id, p_id, n_id):
    * `pos(row)` and `neg(row)` are positions in `itemIds`.
    */
  final class Triplets(users: Array[Int], from: Array[Int], itemIds: Array[Int],
      val pos: Array[Int], val neg: Array[Int]) extends Block(users, from, itemIds)

  /** A factor state: `factors(x·k + f)` and `bias(x)` for the `x`-th id. */
  final class Dense(val factors: Array[Double], val bias: Array[Double])
      extends Serializable

  /** Item partials for `items` (ascending), with the two history sums
    * of the block they came from: Σ|e| and Σe² ([[gdPass]]), or the
    * correctly ranked triplets and Σ softplus(−x) ([[bprPass]]).
    */
  final class Partial(val sums: (Double, Double), val items: Array[Int],
      val iGrad: Array[Double], val iEsum: Array[Double]) extends Serializable {
    /** Positions `a until z`, with the sums or with zeros. */
    def slice(a: Int, z: Int, k: Int, withSums: Boolean): Partial =
      new Partial(if (withSums) sums else (0.0, 0.0),
        items.slice(a, z), iGrad.slice(a * k, z * k), iEsum.slice(a, z))
  }

  /** A trainer's block pass, against the epoch-start states of the
    * block's users (by position in `users`) and items (by position in
    * `itemIds`): the users stepped, and the item partials.
    */
  type Pass[B <: Block] = (B, Dense, Dense, Rule) => (Dense, Partial)

  /** A trainer's states over `keyed`'s dims, from the per-id init
    * ([[GdMf.initFactors]], seeds `seed` and `seed + 1`; with zero biases
    * where the trainer has them): `epochs` epochs of `pass` over
    * `blocks`, one job each, handing `history` each epoch's sums, then
    * [[States.finish]]. The states' schema is that of the init's lazy
    * SQL form over the dims (the init is a UDF of the id: no shuffle, no
    * scan), which is also what an untrained fit returns; its dims then
    * stay resident for the Model's life. Returns (user, factors[, bias])
    * and (item, factors[, bias]) with the checkpoints backing them.
    */
  def train[B <: Block](keyed: Keyed, blocks: RDD[B], rule: Rule, pass: Pass[B],
      epochs: Int, seed: Long, normal: Boolean, biases: Boolean)(
      history: (Int, (Double, Double)) => Unit): (DataFrame, DataFrame, Seq[FreshCheckpoint]) = {
    def init(dim: DataFrame, side: String, seed: Long): DataFrame = {
      val withFactors = dim.withColumn(s"${side}_factors",
        GdMf.initColumn(col(s"${side}_id"), rule.k, seed, normal))
      if (biases) withFactors.withColumn(s"${side}_bias", lit(0.0)) else withFactors
    }
    val (uInit, iInit) = (init(keyed.userDim.df, "u", seed), init(keyed.itemDim.df, "i", seed + 1))
    val (u, i, backing) = if (epochs > 0) {
      val fit = new States(blocks, rule, pass,
        GdMf.initFor(keyed.userDim.df, "u_id", rule.k, seed, normal),
        GdMf.initFor(keyed.itemDim.df, "i_id", rule.k, seed + 1, normal))
      for (epoch <- 0 until epochs) history(epoch, fit.epoch())
      val (uCp, iCp) = fit.finish(keyed, uInit.schema, iInit.schema)
      (uCp.df, iCp.df, Seq(uCp, iCp))
    } else (uInit, iInit, Seq(keyed.userDim, keyed.itemDim))
    (u.drop("u_id"), i.drop("i_id"), backing)
  }

  /** A trainer's config check, before any job runs. */
  def requireConfig(nFactors: Int, epochs: Int): Unit = {
    require(nFactors > 0, s"nFactors must be positive, got $nFactors")
    require(epochs >= 0, s"epochs must be non-negative, got $epochs")
  }

  /** The reference's update, which steps both states ([[bprPass]] uses
    * `factor` alone: its biases stay zero).
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

  /** `facts` (int u_id first) as `parts` hash(u_id) partitions sorted by
    * every column, each made into one block, cached. The sort makes
    * every task's summation order a function of the data alone.
    */
  private def cached[B <: Block: ClassTag](facts: DataFrame, parts: Int)(
      make: Iterator[InternalRow] => B): RDD[B] =
    facts
      .repartition(parts, col("u_id"))
      .sortWithinPartitions(facts.columns.map(col): _*)
      .queryExecution.toRdd.mapPartitions(rows => Iterator.single(make(rows)))
      // released by the transport once the final states are checkpointed
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The users of `rows` (sorted by u_id, column 0) and their row
    * offsets, over the rows `keep` accepts, which `add` takes; a row it
    * rejects only places its user.
    */
  private def byUser(rows: Iterator[InternalRow], keep: InternalRow => Boolean)(
      add: InternalRow => Unit): (Array[Int], Array[Int]) = {
    val (users, from) = (ArrayBuilder.make[Int], ArrayBuilder.make[Int])
    var n = 0
    var last = -1 // ids are dense from 0
    rows.foreach { r =>
      val u = r.getInt(0)
      if (u != last) { users += u; from += n; last = u }
      if (keep(r)) { add(r); n += 1 }
    }
    from += n
    (users.result(), from.result())
  }

  /** The positions of `ids` in ascending `itemIds`. */
  private def positions(itemIds: Array[Int], ids: Array[Int]): Array[Int] =
    ids.map(java.util.Arrays.binarySearch(itemIds, _))

  /** Cache `facts` (u_id, i_id, rating) as `parts` hash(u_id) blocks.
    * Null ratings add no row: their error is null, which the reference's
    * sums skip. They still place their user in its block, so a user
    * whose ratings are all null steps too (decay only): every id of a
    * dimension built from the facts' keys sits in one block.
    */
  def blocks(facts: DataFrame, parts: Int): RDD[Ratings] =
    cached(facts.select(col("u_id").cast("int").as("u_id"), col("i_id").cast("int").as("i_id"),
        col("rating").cast("double").as("rating")), parts) { rows =>
      val (items, ratings) = (ArrayBuilder.make[Int], ArrayBuilder.make[Double])
      val (users, from) = byUser(rows, !_.isNullAt(2)) { r =>
        items += r.getInt(1); ratings += r.getDouble(2)
      }
      val global = items.result()
      val itemIds = global.distinct.sorted
      new Ratings(users, from, itemIds, positions(itemIds, global), ratings.result())
    }

  /** Cache `facts` (u_id, p_id, n_id) as `parts` hash(u_id) blocks, with
    * every u_id of `users` in its block: a user with no triplet (one who
    * rated every item) steps too, by decay only.
    */
  def triplets(facts: DataFrame, users: DataFrame, parts: Int): RDD[Triplets] = {
    def ints(df: DataFrame) =
      df.select(Seq("u_id", "p_id", "n_id").map(c => col(c).cast("int").as(c)): _*)
    val placed = users.select(col("u_id"), lit(null).as("p_id"), lit(null).as("n_id"))
    cached(ints(facts).union(ints(placed)), parts) { rows =>
      val (p, n) = (ArrayBuilder.make[Int], ArrayBuilder.make[Int])
      val (us, from) = byUser(rows, !_.isNullAt(1)) { r => p += r.getInt(1); n += r.getInt(2) }
      val (pos, neg) = (p.result(), n.result())
      val itemIds = (pos ++ neg).distinct.sorted
      new Triplets(us, from, itemIds, positions(itemIds, pos), positions(itemIds, neg))
    }
  }

  /** [[GdMf]]'s [[Pass]]. */
  def gdPass(b: Ratings, u: Dense, i: Dense, r: Rule): (Dense, Partial) = {
    val k = r.k
    val u1 = new Dense(new Array[Double](u.factors.length), new Array[Double](u.bias.length))
    val g = new Array[Double](k) // the current user's gradient
    val iGrad = new Array[Double](i.factors.length)
    val iEsum = new Array[Double](i.bias.length)
    val e = new Array[Double](b.ratings.length)
    var sae = 0.0
    var sse = 0.0
    var j = 0
    while (j < b.users.length) {
      val pAt = j * k
      val bu = u.bias(j)
      java.util.Arrays.fill(g, 0.0)
      var es = 0.0
      var row = b.from(j)
      while (row < b.from(j + 1)) {
        val it = b.items(row)
        val ev = r.err(b.ratings(row), bu, i.bias(it), u.factors, pAt, i.factors, it * k)
        e(row) = ev
        sae += math.abs(ev)
        sse += ev * ev
        var f = 0
        while (f < k) { g(f) += ev * i.factors(it * k + f); f += 1 }
        es += ev
        row += 1
      }
      var f = 0
      while (f < k) { u1.factors(pAt + f) = r.factor(u.factors(pAt + f), g(f)); f += 1 }
      u1.bias(j) = r.bias(bu, es, r.nItems)
      row = b.from(j)
      while (row < b.from(j + 1)) {
        val it = b.items(row)
        // ALS-GD recomputes the error with the new user state
        val ev =
          if (r.alternating) r.err(b.ratings(row), u1.bias(j), i.bias(it), u1.factors, pAt, i.factors, it * k)
          else e(row)
        f = 0
        while (f < k) { iGrad(it * k + f) += ev * u1.factors(pAt + f); f += 1 }
        iEsum(it) += ev
        row += 1
      }
      j += 1
    }
    (u1, new Partial((sae, sse), b.itemIds, iGrad, iEsum))
  }

  /** [[BprMf]]'s [[Pass]]: per triplet, x = w_u·(h_p − h_n) and
    * s = σ(−x); each user steps by Σ s·(h_p − h_n), and the item
    * partials are +s·w_u for p and −s·w_u for n, from the epoch-start
    * w_u (the update is simultaneous). The sums count x = 0 as half
    * ranked.
    */
  def bprPass(b: Triplets, u: Dense, i: Dense, r: Rule): (Dense, Partial) = {
    val k = r.k
    val u1 = new Dense(new Array[Double](u.factors.length), new Array[Double](u.bias.length))
    val g = new Array[Double](k) // the current user's gradient
    val d = new Array[Double](k) // h_p − h_n
    val iGrad = new Array[Double](i.factors.length)
    var ranked = 0.0
    var loss = 0.0
    var j = 0
    while (j < b.users.length) {
      val wAt = j * k
      java.util.Arrays.fill(g, 0.0)
      var row = b.from(j)
      while (row < b.from(j + 1)) {
        val (pAt, nAt) = (b.pos(row) * k, b.neg(row) * k)
        var x = 0.0
        var f = 0
        while (f < k) {
          d(f) = i.factors(pAt + f) - i.factors(nAt + f)
          x += u.factors(wAt + f) * d(f)
          f += 1
        }
        val s = 1.0 / (1.0 + math.exp(x))
        ranked += (if (x > 0) 1.0 else if (x == 0) 0.5 else 0.0)
        // softplus(−x) = −ln σ(x), in its stable form
        loss += (if (x >= 0) math.log1p(math.exp(-x)) else -x + math.log1p(math.exp(x)))
        f = 0
        while (f < k) {
          val w = u.factors(wAt + f)
          g(f) += s * d(f)
          iGrad(pAt + f) += s * w
          iGrad(nAt + f) -= s * w
          f += 1
        }
        row += 1
      }
      var f = 0
      while (f < k) { u1.factors(wAt + f) = r.factor(u.factors(wAt + f), g(f)); f += 1 }
      j += 1
    }
    (u1, new Partial((ranked, loss), b.itemIds, iGrad, new Array[Double](i.bias.length)))
  }

  /** The rows of `s` (whose first id is `lo`) for `ids`. */
  private def gather(s: Dense, ids: Array[Int], lo: Int, k: Int): Dense = {
    val d = new Dense(new Array[Double](ids.length * k), new Array[Double](ids.length))
    for (x <- ids.indices) {
      System.arraycopy(s.factors, (ids(x) - lo) * k, d.factors, x * k, k)
      d.bias(x) = s.bias(ids(x) - lo)
    }
    d
  }

  /** Adds `parts`, in their order, into the gradient of the state whose
    * first id is `lo`; returns their history sums, added in the same
    * order.
    */
  private def fold(parts: Seq[Partial], lo: Int, k: Int, grad: Array[Double],
      esum: Array[Double]): (Double, Double) = {
    var s1 = 0.0
    var s2 = 0.0
    for (p <- parts) {
      s1 += p.sums._1
      s2 += p.sums._2
      for (x <- p.items.indices) {
        val at = (p.items(x) - lo) * k
        for (f <- 0 until k) grad(at + f) += p.iGrad(x * k + f)
        esum(p.items(x) - lo) += p.iEsum(x)
      }
    }
    (s1, s2)
  }

  /** Step every id of `s` by its folded gradient (zero for an id no fact
    * touched: decay only).
    */
  private def stepped(s: Dense, grad: Array[Double], esum: Array[Double],
      dimSize: Long, r: Rule): Dense =
    new Dense(Array.tabulate(s.factors.length)(x => r.factor(s.factors(x), grad(x))),
      Array.tabulate(s.bias.length)(id => r.bias(s.bias(id), esum(id), dimSize)))

  /** What partition `j` holds between epochs: block `j`'s users (by
    * position in the block's `users`), the item ids from `lo` of range
    * `j` with their state, and the ids each block reads from that range
    * (`sends`, by block; only blocks that read some). On partition 0,
    * `sums` are the epoch-start history sums of the epoch that made it;
    * elsewhere zeros.
    */
  final class Share(val users: Dense, val lo: Int, val sends: Array[(Int, Array[Int])],
      val items: Dense, val sums: (Double, Double)) extends Serializable

  /** What block `from` sends partition `g`: its partials for range `g`'s
    * items, and its stepped users when `g` is its own partition.
    */
  final class Message(val from: Int, val partial: Partial, val users: Option[Dense])
      extends Serializable

  /** Positions `a until z` of ascending `ids` in each of `n` ranges of
    * `span` ids, as (range, a, z).
    */
  private def segments(ids: Array[Int], span: Int, n: Int): IndexedSeq[(Int, Int, Int)] = {
    var z = 0
    (0 until n).map { g =>
      val a = z
      while (z < ids.length && ids(z) < (g + 1L) * span) z += 1
      (g, a, z)
    }
  }

  /** The factor states between epochs, and the epoch that steps them
    * with the trainer's `pass`. Partition `j` holds block `j`'s users
    * and item range `j` (the items cut into as many contiguous ranges as
    * there are blocks). A block and a range exchange messages only where
    * the block reads items of the range, so a shuffle carries Σ over
    * blocks of the items they read, not blocks × ranges records; the
    * stepped users go back to their own partition through the same
    * shuffle. Range 0 also hears from every block (an empty message
    * where it reads none of its items): only those messages carry the
    * blocks' history sums, which range 0 adds in block order like its
    * partials.
    */
  final class States[B <: Block](blocks: RDD[B], r: Rule, pass: Pass[B],
      uInit: Array[Int] => Dense, iInit: Array[Int] => Dense) {
    private val n = blocks.getNumPartitions
    private val span = math.max(1, (r.nItems.toInt + n - 1) / n)
    // one generation, cut by the epoch that made it; the first, with the
    // set-up (the ids each range sends each block), is computed by the
    // first epoch
    private var shares: RDD[Share] = {
      val (initU, initI, span, n, nItems) = (uInit, iInit, this.span, this.n, r.nItems.toInt)
      val sends = blocks.mapPartitionsWithIndex { (b, it) =>
        val ids = it.next().itemIds
        segments(ids, span, n).iterator.collect { case (g, a, z) if a < z =>
          (g, (b, ids.slice(a, z)))
        }
      }.partitionBy(new HashPartitioner(n))
      // unpersisted by the first epoch, once the next generation is cut
      blocks.zipPartitions(sends) { (bs, got) =>
        val lo = TaskContext.getPartitionId() * span
        Iterator.single(new Share(initU(bs.next().users), lo, got.map(_._2).toArray.sortBy(_._1),
          initI(Array.range(lo, math.min(nItems, lo + span))), (0.0, 0.0)))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** One epoch, one job: steps both states and returns the epoch-start
      * history sums.
      */
    def epoch(): (Double, Double) = {
      val (rule, pass, k, span, n) = (r, this.pass, r.k, this.span, this.n)
      // stage 1: each range sends each block the item rows it reads
      val toBlocks = shares.mapPartitionsWithIndex { (g, it) =>
        val s = it.next()
        s.sends.iterator.map { case (b, ids) => (b, (g, gather(s.items, ids, s.lo, k))) }
      }.partitionBy(new HashPartitioner(n))
      // stage 2: the pass; the partials go to the ranges, split, and the
      // stepped users to their own partition
      val toShares = blocks.zipPartitions(shares, toBlocks) { (bs, ss, got) =>
        val b = bs.next()
        val rows = got.map(_._2).toArray.sortBy(_._1).map(_._2) // ascending ids
        val i = new Dense(Array.concat(rows.map(_.factors): _*), Array.concat(rows.map(_.bias): _*))
        val (u1, p) = pass(b, ss.next().users, i, rule)
        val j = TaskContext.getPartitionId()
        segments(b.itemIds, span, n).iterator.collect {
          case (g, a, z) if a < z || g == 0 || g == j =>
            (g, new Message(j, p.slice(a, z, k, withSums = g == 0), if (g == j) Some(u1) else None))
        }
      }.partitionBy(new HashPartitioner(n))
      // stage 3: each partition takes its users back, folds its range's
      // partials in block order and steps its items
      val shares1 = shares.zipPartitions(toShares) { (ss, got) =>
        val s = ss.next()
        val msgs = got.map(_._2).toArray.sortBy(_.from)
        val (grad, esum) =
          (new Array[Double](s.items.factors.length), new Array[Double](s.items.bias.length))
        val sums = fold(msgs.map(_.partial).toSeq, s.lo, k, grad, esum)
        Iterator.single(new Share(msgs.flatMap(_.users).head, s.lo, s.sends,
          stepped(s.items, grad, esum, rule.nUsers, rule), sums))
      }.localCheckpoint()
      val sums = shares1.map(_.sums).collect().head // partition 0's
      shares.unpersist(blocking = false)
      shares = shares1
      sums
    }

    /** The current generation's lineage. */
    private[recommender] def lineage: String = shares.toDebugString

    /** `dim`'s rows (key, `idCol`) extended with the users' or the items'
      * factors, and their biases where `schema` has a column for them, as
      * a fresh checkpoint of `schema` (one job).
      */
    def checkpoint(dim: FreshCheckpoint, idCol: String, users: Boolean,
        schema: StructType): FreshCheckpoint = {
      val k = r.k
      val states: RDD[(Int, (Array[Double], Double))] =
        if (users) blocks.zipPartitions(shares) { (bs, ss) =>
          val (b, s) = (bs.next(), ss.next().users)
          b.users.indices.iterator.map(j =>
            (b.users(j), (s.factors.slice(j * k, j * k + k), s.bias(j))))
        }
        else shares.flatMap { s =>
          s.items.bias.indices.map(x =>
            (s.lo + x, (s.items.factors.slice(x * k, x * k + k), s.items.bias(x))))
        }
      val dimSchema = dim.df.schema
      val idAt = dimSchema.fieldIndex(idCol)
      val longId = dimSchema(idAt).dataType == LongType
      val withBias = schema.length == dimSchema.length + 2
      val keyed = dim.rdd.map(row => (if (longId) row.getLong(idAt).toInt else row.getInt(idAt), row))
      checkpointRows(dim.df.sparkSession, keyed.join(states, n).values.map {
        case (row, (f, b)) =>
          val f1 = UnsafeArrayData.fromPrimitiveArray(f)
          InternalRow.fromSeq(row.toSeq(dimSchema) ++ (if (withBias) Seq(f1, b) else Seq(f1)))
      }, schema)
    }

    /** Drops the blocks and the states. */
    def release(): Unit = {
      shares.unpersist(blocking = false)
      blocks.unpersist()
    }

    /** The fit's end: both final states checkpointed concurrently over
      * `keyed`'s dims, as `uSchema` and `iSchema`, then the blocks, the
      * states and the dims dropped; the states no longer reference them.
      */
    def finish(keyed: Keyed, uSchema: StructType,
        iSchema: StructType): (FreshCheckpoint, FreshCheckpoint) = {
      val states = Encoding.concurrently(
        checkpoint(keyed.userDim, "u_id", users = true, uSchema),
        checkpoint(keyed.itemDim, "i_id", users = false, iSchema))
      release()
      keyed.userDim.release()
      keyed.itemDim.release()
      states
    }
  }
}
