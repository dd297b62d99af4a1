package graft.dedup

import scala.collection.mutable.ArrayBuffer

import graft.functions.ScoreOrder

/** The in-task kernel of [[Dedup.exactSelf1nn]]: given one query block
  * and one corpus block, the best corpus vector for every query vector
  * by (cosine desc, id asc) under [[ScoreOrder]], never the query
  * itself (by id). A query with no candidate in the tile emits nothing.
  *
  * The cosine is bit-identical to `graft_cosine`:
  *   - each vector's norm is the same sequential double fold of
  *     `x(k).toDouble * x(k)`, done once per vector in the tile
  *     instead of once per pair;
  *   - each dot product is its own sequential fold over k; the 4-wide
  *     loop interleaves four corpus vectors, never the terms of one sum;
  *   - the result is the same `dot / (sqrt(na) * sqrt(nb))`.
  * A pair of vectors of different lengths is folded over the shorter
  * one, norms included, exactly as `graft_cosine` does.
  */
private[graft] object NearestTile {

  /** (query id, nearest id, cosine) for every query with a candidate. */
  def nearest(qIds: Array[Long], qVecs: Array[Array[Float]],
      cIds: Array[Long], cVecs: Array[Array[Float]]): Iterator[(Long, Long, Double)] = {
    val dim = if (qVecs.isEmpty) 0 else qVecs(0).length
    if ((qVecs.iterator ++ cVecs.iterator).forall(_.length == dim))
      sameDim(qIds, qVecs, cIds, cVecs, dim)
    else ragged(qIds, qVecs, cIds, cVecs)
  }

  private def flat(vs: Array[Array[Float]], dim: Int): Array[Double] = {
    val out = new Array[Double](vs.length * dim)
    var i = 0
    while (i < vs.length) {
      val v = vs(i); var k = 0
      while (k < dim) { out(i * dim + k) = v(k).toDouble; k += 1 }
      i += 1
    }
    out
  }

  private def sqrtNorms(x: Array[Double], n: Int, dim: Int): Array[Double] =
    Array.tabulate(n) { i =>
      var s = 0.0; var k = i * dim; val end = k + dim
      while (k < end) { s += x(k) * x(k); k += 1 }
      math.sqrt(s)
    }

  private def sameDim(qIds: Array[Long], qVecs: Array[Array[Float]],
      cIds: Array[Long], cVecs: Array[Array[Float]], dim: Int): Iterator[(Long, Long, Double)] = {
    val nq = qIds.length; val nc = cIds.length
    val q = flat(qVecs, dim); val c = flat(cVecs, dim)
    val qs = sqrtNorms(q, nq, dim); val cs = sqrtNorms(c, nc, dim)
    val out = new ArrayBuffer[(Long, Long, Double)](nq)
    var i = 0
    while (i < nq) {
      val qid = qIds(i); val qo = i * dim; val qn = qs(i)
      val best = new Best
      var j = 0
      while (j + 4 <= nc) {
        val o0 = j * dim; val o1 = o0 + dim; val o2 = o1 + dim; val o3 = o2 + dim
        var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
        var k = 0
        while (k < dim) {
          val x = q(qo + k)
          d0 += x * c(o0 + k); d1 += x * c(o1 + k); d2 += x * c(o2 + k); d3 += x * c(o3 + k)
          k += 1
        }
        if (cIds(j) != qid) best.offer(cIds(j), d0 / (qn * cs(j)))
        if (cIds(j + 1) != qid) best.offer(cIds(j + 1), d1 / (qn * cs(j + 1)))
        if (cIds(j + 2) != qid) best.offer(cIds(j + 2), d2 / (qn * cs(j + 2)))
        if (cIds(j + 3) != qid) best.offer(cIds(j + 3), d3 / (qn * cs(j + 3)))
        j += 4
      }
      while (j < nc) {
        val o = j * dim
        var d = 0.0; var k = 0
        while (k < dim) { d += q(qo + k) * c(o + k); k += 1 }
        if (cIds(j) != qid) best.offer(cIds(j), d / (qn * cs(j)))
        j += 1
      }
      if (best.found) out += ((qid, best.id, best.cos))
      i += 1
    }
    out.iterator
  }

  /** The best (cosine, id) offered so far. */
  private final class Best {
    var id = 0L; var cos = 0.0; var found = false
    def offer(i: Long, c: Double): Unit =
      if (!found || ScoreOrder.before(c, i, cos, id)) { id = i; cos = c; found = true }
  }

  /** `graft_cosine`'s fold, for vectors of different lengths. */
  private def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
    while (k < n) {
      val xi = x(k).toDouble; val yi = y(k).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      k += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def ragged(qIds: Array[Long], qVecs: Array[Array[Float]],
      cIds: Array[Long], cVecs: Array[Array[Float]]): Iterator[(Long, Long, Double)] =
    qIds.indices.iterator.flatMap { i =>
      val best = new Best
      cIds.indices.foreach { j =>
        if (cIds(j) != qIds(i)) best.offer(cIds(j), cosine(qVecs(i), cVecs(j)))
      }
      if (best.found) Some((qIds(i), best.id, best.cos)) else None
    }
}
