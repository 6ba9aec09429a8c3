package graft.recommender

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

import scala.reflect.runtime.universe.TypeTag

/** Elementwise long-vector reduce (min or sum): a typed `Aggregator`
  * registered via `functions.udaf`, so it runs in hash aggregation with
  * map-side partial combine and the shuffle moves one array per
  * (partition, key). Powers MinHash signatures (elementwise min over
  * per-shingle permutation arrays) and SimHash bit sums.
  */
class LongVectorReduce(op: (Long, Long) => Long)
    extends Aggregator[Array[Long], Array[Long], Array[Long]] {

  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(buf: Array[Long], a: Array[Long]): Array[Long] =
    if (a == null) buf
    else if (buf.isEmpty) a.clone()
    else {
      var i = 0
      while (i < buf.length) { buf(i) = op(buf(i), a(i)); i += 1 }
      buf
    }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = reduce(a, b)
  override def finish(r: Array[Long]): Array[Long] = r

  private def enc[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()
  override def bufferEncoder: Encoder[Array[Long]] = enc[Array[Long]]
  override def outputEncoder: Encoder[Array[Long]] = enc[Array[Long]]
}

object LongVectorReduce {
  private lazy val minFn =
    udaf(new LongVectorReduce(math.min), ExpressionEncoder[Array[Long]]())
  private lazy val sumFn =
    udaf(new LongVectorReduce(_ + _), ExpressionEncoder[Array[Long]]())

  def vecMin(c: Column): Column = minFn(c)
  def vecSumLong(c: Column): Column = sumFn(c)
}

/** MinHash signature aggregator: input = one 31-bit base hash per
  * shingle; buffer = running elementwise min over all numPerm affine
  * permutations `(a_j·h + b_j) mod 2³¹`. The permutation loop runs as
  * compiled JVM code inside the aggregator (interpreted Catalyst
  * lambdas are ~10× slower for this shape), with map-side partial
  * combine — the shuffle moves one numPerm-long array per
  * (partition, doc).
  */
class MinHashAgg(numPerm: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
  private val mask = (1L << 31) - 1L
  private val as = Array.tabulate(numPerm)(j => ((j * 0x9E3779B1L) & mask) | 1L)
  private val bs = Array.tabulate(numPerm)(j => (j * 0x85EBCA77L + 0xC2B2AE3DL) & mask)

  override def zero: Array[Long] = Array.fill(numPerm)(Long.MaxValue)

  override def reduce(buf: Array[Long], h: Long): Array[Long] = {
    var j = 0
    while (j < numPerm) {
      val v = (h * as(j) + bs(j)) & mask
      if (v < buf(j)) buf(j) = v
      j += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < numPerm) { if (b(j) < a(j)) a(j) = b(j); j += 1 }
    a
  }

  override def finish(r: Array[Long]): Array[Long] = r

  private def enc[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()
  override def bufferEncoder: Encoder[Array[Long]] = enc[Array[Long]]
  override def outputEncoder: Encoder[Array[Long]] = enc[Array[Long]]
}

object MinHashAgg {
  private val cache = new java.util.concurrent.ConcurrentHashMap[Int, Column => Column]()

  def minhash(numPerm: Int): Column => Column =
    cache.computeIfAbsent(numPerm, { n =>
      val fn = udaf(new MinHashAgg(n), ExpressionEncoder[Long]())
      (c: Column) => fn(c)
    })
}
