package perfbench

import scala.collection.mutable

/** Seeded inputs: a mixture of `centres` clusters, each a random centre plus
  * a point on a shared `rank`-dimensional subspace (half the centres'
  * spread) and a little isotropic noise. Like real embeddings the data has low intrinsic dimension, so
  * nearest neighbours are well defined and ANN recall means something.
  * Values sit on a 1e-4 grid so their JSON form in the WAL stays short; a
  * Double on that grid round-trips the WAL exactly.
  */
final class Gen(seed: Long, dim: Int, centres: Int, rank: Int) {
  private val rnd = new scala.util.Random(seed)
  private val centre = Array.fill(centres)(Array.fill(dim)(rnd.nextGaussian()))
  private val basis = Array.fill(rank)(Array.fill(dim)(0.5 * rnd.nextGaussian() / math.sqrt(rank)))

  private def q(x: Double): Double = math.rint(x * 1e4) / 1e4

  /** A fresh mixture draw. Used for stored rows and for query vectors alike,
    * so a query is never a stored row.
    */
  def draw(): Array[Double] = {
    val c = centre(rnd.nextInt(centres))
    val z = Array.fill(rank)(rnd.nextGaussian())
    Array.tabulate(dim) { j =>
      var x = c(j) + 0.05 * rnd.nextGaussian()
      var i = 0
      while (i < rank) { x += z(i) * basis(i)(j); i += 1 }
      q(x)
    }
  }

  def tag(): String = s"t${rnd.nextInt(Model.Tags)}"
}

final case class Row(key: String, vector: Array[Double], tag: String, ts: Long)

final case class Hit(key: String, score: Double)

/** The benchmark's own copy of the live table (key → vector, tag, ts) and
  * the checks every store answer must pass against it.
  */
final class Model {
  private val live = mutable.HashMap.empty[String, Row]
  private val dead = mutable.HashSet.empty[String]

  def put(r: Row): Unit = { live(r.key) = r; dead -= r.key }
  def delete(key: String): Unit = { live -= key; dead += key }
  def liveKeys: Seq[String] = live.keys.toSeq.sorted

  /** Squared L2 as the engine computes it: a left fold in index order. */
  def l2(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** Brute-force top-k over the live rows, ordered by (score, key). */
  def topK(q: Array[Double], k: Int, tag: Option[String] = None,
      threshold: Option[Double] = None): Seq[Hit] =
    live.values.iterator
      .filter(r => tag.forall(_ == r.tag))
      .map(r => Hit(r.key, l2(r.vector, q)))
      .filter(h => threshold.forall(h.score <= _))
      .toSeq.sortBy(h => (h.score, h.key)).take(k)

  /** `get` must return exactly the live vector, or nothing for a key that
    * is not live. Returns the reason it failed, if it did.
    */
  def checkGet(key: String, got: Seq[Array[Double]]): Option[String] = live.get(key) match {
    case Some(r) =>
      if (got.size != 1) Some(s"get($key): ${got.size} rows for a live key")
      else if (!java.util.Arrays.equals(got.head, r.vector)) Some(s"get($key): stale or wrong vector")
      else None
    case None =>
      if (got.nonEmpty) Some(s"get($key): served a ${if (dead(key)) "deleted" else "missing"} key")
      else None
  }

  /** Exact search must equal the brute-force top-k, in order. */
  def checkExact(got: Seq[Hit], want: Seq[Hit]): Option[String] =
    if (got == want) None
    else Some(s"search: got ${got.take(3).mkString(",")}… want ${want.take(3).mkString(",")}…")

  /** Every ANN hit must be a live key scored with its live vector, with
    * hits in (score, key) order and at most k of them.
    */
  def checkAnn(call: String, q: Array[Double], k: Int, got: Seq[Hit]): Option[String] = {
    val bad = got.find(h => live.get(h.key).forall(r => l2(r.vector, q) != h.score))
    if (got.size > k) Some(s"$call: ${got.size} hits for k=$k")
    else if (bad.nonEmpty) Some(s"$call: hit ${bad.get} is not a live key with its live score")
    else if (got != got.sortBy(h => (h.score, h.key))) Some(s"$call: hits out of order")
    else None
  }

  def recall(got: Seq[Hit], want: Seq[Hit]): Double =
    if (want.isEmpty) 1.0
    else got.map(_.key).toSet.intersect(want.map(_.key).toSet).size.toDouble / want.size
}

object Model {
  val Tags = 4
}
