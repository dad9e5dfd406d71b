package graft.functions

/** In-memory k-means for the ANN family (SURVEY.md §2.3), trained
  * on its one bounded sample (`Similarity.trainingSample`): the
  * quantizer sees thousands of vectors, the assignment (the 100 TB
  * part) stays a column expression over broadcast centroids
  * ([[graft.operators.Similarity.ivfAssign]]). [[spherical]] is the
  * driver-side IVF quantizer of `ivfTopK`, `Pq.ivfPqTopK`,
  * `Dedup.semanticPairs` and `Sampling.clusterBalancedSample`;
  * [[euclidean]] trains the PQ sub-codebooks, one Spark task per
  * subspace, on the same sample in `Pq.ivfPqTopK`.
  */
object KMeans {

  /** Spherical k-means: inputs and centroids L2-normalized, assignment
    * by max dot product (= max cosine), Lloyd iterations. Deterministic:
    * init takes the first k points of the (caller-shuffled) sample, an
    * empty cell keeps its previous centroid. Returns min(k, n) unit
    * centroids. */
  def spherical(points: Array[Array[Double]], k: Int, iters: Int = 10): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs a non-empty sample")
    val dim = points(0).length
    def normalize(v: Array[Double]): Array[Double] = {
      var s = 0.0
      var j = 0
      while (j < dim) { s += v(j) * v(j); j += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) v.clone() else v.map(_ / n)
    }
    val pts = points.map(normalize)
    val kk = math.min(k, pts.length)
    var cents = Array.tabulate(kk)(i => pts(i).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      for (p <- pts) {
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < kk) {
          var d = 0.0
          var j = 0
          while (j < dim) { d += p(j) * cents(c)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(kk)(c => if (counts(c) == 0) cents(c) else normalize(sums(c)))
      it += 1
    }
    cents
  }

  /** Plain Euclidean k-means (Lloyd) for PQ sub-codebook training —
    * assignment by min squared L2, centroids = cell means. Same
    * determinism contract as [[spherical]]: first-k init, an empty
    * cell keeps its previous centroid. Returns min(k, n) centroids. */
  def euclidean(points: Array[Array[Double]], k: Int, iters: Int = 10): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs a non-empty sample")
    val dim = points(0).length
    val kk = math.min(k, points.length)
    var cents = Array.tabulate(kk)(i => points(i).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      for (p <- points) {
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          var d = 0.0
          var j = 0
          while (j < dim) { val t = p(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(kk)(c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
      it += 1
    }
    cents
  }
}
