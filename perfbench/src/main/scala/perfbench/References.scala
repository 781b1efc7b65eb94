package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XXH64

/**
 * Plain-Scala references, computed on the driver from the generated
 * rows. None of them calls the engine: each replays the operator's
 * documented semantics directly, so a wrong engine result cannot also
 * be the expected one.
 */
object References {

  /** Power iteration of the standard PageRank (dangling mass spread
    * uniformly; parallel edges add weight) for exactly `numIter` rounds. */
  def pageRank(edges: Array[(Long, Long)], d: Double, numIter: Int): Map[Long, Double] = {
    val ids = edges.flatMap { case (s, t) => Array(s, t) }.distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val multiplicity = mutable.Map.empty[(Int, Int), Double]
    edges.foreach { case (s, t) => multiplicity((idx(s), idx(t))) = multiplicity.getOrElse((idx(s), idx(t)), 0.0) + 1 }
    val out = new Array[Double](n)
    multiplicity.foreach { case ((s, _), w) => out(s) += w }
    val shares = multiplicity.toArray.map { case ((s, t), w) => (s, t, w / out(s)) }
    val dangling = (0 until n).filter(out(_) == 0.0).toArray
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 0 until numIter) {
      val c = new Array[Double](n)
      shares.foreach { case (s, t, sh) => c(t) += r(s) * sh }
      val dm = dangling.map(r(_)).sum
      r = Array.tabulate(n)(v => (1.0 - d) / n + d * (c(v) + dm / n))
    }
    ids.indices.map(i => ids(i) -> r(i)).toMap
  }

  /** Union-find over the undirected edges; component = smallest member id. */
  def components(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var root = parent.getOrElseUpdate(x, x)
      while (parent(root) != root) root = parent(root)
      var y = x
      while (parent(y) != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toArray.map(v => v -> find(v)).toMap
  }

  /** Synchronous label propagation on the undirected graph: every
    * vertex takes its neighbours' most frequent label (multiplicity
    * counts, self-loops dropped, ties to the smallest label), stopping
    * after `numIter` rounds or the first round that changes nothing. */
  def labelPropagation(edges: Array[(Long, Long)], numIter: Int): Map[Long, Long] = {
    val nbrs = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    edges.foreach { case (s, t) =>
      nbrs.getOrElseUpdate(s, mutable.ArrayBuffer.empty)
      nbrs.getOrElseUpdate(t, mutable.ArrayBuffer.empty)
      if (s != t) { nbrs(s) += t; nbrs(t) += s }
    }
    var labels = nbrs.keys.map(v => v -> v).toMap
    var rounds = 0
    var changed = true
    while (rounds < numIter && changed) {
      val next = labels.map { case (v, lab) =>
        val ns = nbrs(v)
        if (ns.isEmpty) v -> lab
        else {
          val votes = ns.groupMapReduce(labels)(_ => 1)(_ + _)
          v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
      changed = next.exists { case (v, l) => labels(v) != l }
      labels = next
      rounds += 1
    }
    labels
  }

  /** Swing scores, replayed from the formula
    *   w(i,j) = Σ_{u,v ∈ U_i∩U_j} 1/(α₁+|I_u|)^β · 1/(α₁+|I_v|)^β · 1/(α₂+|I_u∩I_v|)
    * over users with [minUserBehavior, maxUserBehavior] distinct items,
    * where the anchor item's purchasers are capped to the `cap` users
    * of smallest (xxhash64(user, seed), user) — the operator's
    * documented deterministic sample. Returns item → all (sim, score). */
  def swing(behaviors: Array[(Long, Long)], minUb: Int, maxUb: Int, cap: Int, seed: Long,
      alpha1: Int, alpha2: Int, beta: Double): Map[Long, Map[Long, Double]] = {
    val pairs = behaviors.distinct
    val itemsOf = pairs.groupMap(_._1)(_._2)
    val qualifying = itemsOf.filter { case (_, is) => is.length >= minUb && is.length <= maxUb }
      .map { case (u, is) => u -> is.sorted }
    val purchasers = pairs.groupMap(_._2)(_._1) // all users, qualifying or not
    def rankKey(u: Long) = XXH64.hashLong(seed, XXH64.hashLong(u, 42L))
    val capped: Map[Long, Array[Long]] = purchasers.map { case (i, us) =>
      val q = us.filter(qualifying.contains)
      val kept =
        if (us.length > cap) q.sortBy(u => (rankKey(u), u)).take(cap)
        else q
      i -> kept.sorted
    }
    val weight = mutable.Map.empty[Long, Double]
    qualifying.foreach { case (u, is) => weight(u) = 1.0 / math.pow(alpha1 + is.length, beta) }
    val scores = mutable.Map.empty[Long, mutable.Map[Long, Double]]
    // group anchors by user pair, as each pair's intersection is shared
    val anchorsOfPair = mutable.Map.empty[(Long, Long), mutable.ArrayBuffer[Long]]
    capped.foreach { case (i, us) =>
      if (us.length >= 2)
        for (a <- us.indices; b <- a + 1 until us.length)
          anchorsOfPair.getOrElseUpdate((us(a), us(b)), mutable.ArrayBuffer.empty) += i
    }
    anchorsOfPair.foreach { case ((u, v), anchors) =>
      val xs = qualifying(u).intersect(qualifying(v))
      val s = weight(u) * weight(v) / (alpha2 + xs.length)
      anchors.foreach { i =>
        xs.foreach { x =>
          if (x != i) {
            val row = scores.getOrElseUpdate(i, mutable.Map.empty)
            row(x) = row.getOrElse(x, 0.0) + s
          }
        }
      }
    }
    scores.map { case (i, m) => i -> m.toMap }.toMap
  }

  /** The ml_pipeline features, built from the documented stage semantics:
    * alphabetical string indices, one-hot with the last category
    * dropped, the numeric columns appended, every dimension divided by
    * its sample standard deviation over the training rows. */
  final class Features(train: Array[Inputs.MlRow]) {
    private val levels1 = train.map(_.cat1).distinct.sorted
    private val levels2 = train.map(_.cat2).distinct.sorted
    val dim: Int = (levels1.length - 1) + (levels2.length - 1) + 4

    private def raw(r: Inputs.MlRow): Array[Double] = {
      val v = new Array[Double](dim)
      val i1 = levels1.indexOf(r.cat1)
      val i2 = levels2.indexOf(r.cat2)
      if (i1 < levels1.length - 1) v(i1) = 1.0
      if (i2 < levels2.length - 1) v(levels1.length - 1 + i2) = 1.0
      val o = dim - 4
      v(o) = r.x1; v(o + 1) = r.x2; v(o + 2) = r.x3; v(o + 3) = r.x4
      v
    }

    private val scale: Array[Double] = {
      val rows = train.map(raw)
      val n = rows.length.toDouble
      Array.tabulate(dim) { j =>
        val mean = rows.map(_(j)).sum / n
        val sd = math.sqrt(math.max(0.0, rows.map(r => (r(j) - mean) * (r(j) - mean)).sum / (n - 1)))
        if (sd == 0.0) 0.0 else 1.0 / sd
      }
    }

    def apply(r: Inputs.MlRow): Array[Double] = {
      val v = raw(r)
      var j = 0
      while (j < dim) { v(j) *= scale(j); j += 1 }
      v
    }
  }

  /** Full-batch gradient descent on the logistic loss, no intercept and
    * no regularisation, `rounds` steps of size `lr` from zero. */
  def logisticRegression(x: Array[Array[Double]], y: Array[Double], lr: Double,
      rounds: Int): Array[Double] = {
    val dim = x.head.length
    val w = new Array[Double](dim)
    for (_ <- 0 until rounds) {
      val grad = new Array[Double](dim)
      var i = 0
      while (i < x.length) {
        val d = dot(x(i), w)
        val ls = 2 * y(i) - 1
        val mult = -ls / (math.exp(d * ls) + 1)
        var j = 0
        while (j < dim) { grad(j) += mult * x(i)(j); j += 1 }
        i += 1
      }
      var j = 0
      while (j < dim) { w(j) -= lr / x.length * grad(j); j += 1 }
    }
    w
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
