package graft.kernels

/** Agglomerative hierarchical clustering over a condensed MPDist matrix
  * (ref: hierarchical_clustering.py:18-146, which wraps SciPy; this is a
  * from-scratch Lance-Williams implementation of the four linkage methods
  * the reference accepts, plus distance/maxclust flat-cluster extraction
  * and the cophenetic correlation statistic).
  *
  * The expensive part — the condensed pairwise MPDist matrix — is computed
  * distributed (graft.dist.PairwiseDist); linkage itself is O(m^2..m^3)
  * over M series and runs on the driver like the reference.
  */
object Hierarchical {

  sealed trait Method
  case object Single extends Method
  case object Complete extends Method
  case object Average extends Method
  case object Weighted extends Method

  /** One merge step: cluster ids (leaves are 0..m-1, merged clusters
    * m, m+1, ...), merge distance, and resulting size — SciPy Z-row layout.
    */
  final case class Merge(a: Int, b: Int, dist: Double, size: Int)

  final case class Clustering(
      linkage: Array[Merge],
      assignments: Array[Int],
      cophenetCorrelation: Double,
      cophenetDistances: Array[Double])

  /** Index of pair (i, j), i != j, in a SciPy-order condensed matrix of m
    * observations (pdist / squareform order).
    */
  def condensedIndex(m: Int, i: Int, j: Int): Int = {
    val (a, b) = if (i < j) (i, j) else (j, i)
    m * a - (a * (a + 1)) / 2 + (b - a - 1)
  }

  /** Lance-Williams agglomerative linkage over a condensed matrix. */
  def linkage(y: Array[Double], m: Int, method: Method = Single): Array[Merge] = {
    require(y.length == m * (m - 1) / 2, "condensed matrix size mismatch")
    // current distance matrix between active clusters, full m x m
    val d = Array.ofDim[Double](m, m)
    for (i <- 0 until m; j <- i + 1 until m) {
      d(i)(j) = y(condensedIndex(m, i, j)); d(j)(i) = d(i)(j)
    }
    val active = scala.collection.mutable.ArrayBuffer.range(0, m)
    val clusterId = Array.range(0, m) // active slot -> cluster id
    val sizes = Array.fill(m)(1)
    val merges = new Array[Merge](m - 1)

    var step = 0
    while (step < m - 1) {
      // find closest active pair
      var bi = 0; var bj = 1; var best = Double.PositiveInfinity
      var x = 0
      while (x < active.length) {
        var yIdx = x + 1
        while (yIdx < active.length) {
          val dd = d(active(x))(active(yIdx))
          if (dd < best) { best = dd; bi = x; bj = yIdx }
          yIdx += 1
        }
        x += 1
      }
      val si = active(bi); val sj = active(bj)
      val ni = sizes(si); val nj = sizes(sj)
      merges(step) = Merge(math.min(clusterId(si), clusterId(sj)),
        math.max(clusterId(si), clusterId(sj)), best, ni + nj)

      // Lance-Williams update into slot si
      var k = 0
      while (k < active.length) {
        val sk = active(k)
        if (sk != si && sk != sj) {
          val dik = d(si)(sk); val djk = d(sj)(sk)
          val nd = method match {
            case Single => math.min(dik, djk)
            case Complete => math.max(dik, djk)
            case Average => (ni * dik + nj * djk) / (ni + nj)
            case Weighted => (dik + djk) / 2.0
          }
          d(si)(sk) = nd; d(sk)(si) = nd
        }
        k += 1
      }
      sizes(si) = ni + nj
      clusterId(si) = m + step
      active.remove(bj)
      step += 1
    }
    merges
  }

  /** Flat clusters by distance threshold: cut the dendrogram at `t`
    * (SciPy fcluster criterion='distance'); labels 1..k in leaf order.
    */
  def fclusterByDistance(merges: Array[Merge], m: Int, t: Double): Array[Int] = {
    val parent = Array.range(0, m + merges.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    merges.zipWithIndex.foreach { case (mg, i) =>
      if (mg.dist <= t) {
        val c = m + i
        parent(find(mg.a)) = c
        parent(find(mg.b)) = c
      }
    }
    val labels = new Array[Int](m)
    val seen = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    for (i <- 0 until m) {
      val root = find(i)
      labels(i) = seen.getOrElseUpdate(root, seen.size + 1)
    }
    labels
  }

  /** Flat clusters bounded by count: smallest cut with <= t clusters
    * (SciPy criterion='maxclust').
    */
  def fclusterMaxClust(merges: Array[Merge], m: Int, t: Int): Array[Int] = {
    val heights = merges.map(_.dist).distinct.sorted
    var result = fclusterByDistance(merges, m, Double.PositiveInfinity)
    var found = false
    for (h <- heights if !found) {
      val labels = fclusterByDistance(merges, m, h)
      if (labels.max <= t) { result = labels; found = true }
    }
    if (!found && m <= t) result = Array.range(1, m + 1)
    result
  }

  /** Cophenetic distances + correlation with the input condensed matrix. */
  def cophenet(merges: Array[Merge], m: Int, y: Array[Double]): (Double, Array[Double]) = {
    // members of every cluster id
    val members = scala.collection.mutable.Map.empty[Int, Array[Int]]
    for (i <- 0 until m) members(i) = Array(i)
    val coph = new Array[Double](y.length)
    merges.zipWithIndex.foreach { case (mg, idx) =>
      val ma = members(mg.a); val mb = members(mg.b)
      for (i <- ma; j <- mb) coph(condensedIndex(m, i, j)) = mg.dist
      members(m + idx) = ma ++ mb
      members.remove(mg.a); members.remove(mg.b)
    }
    val muY = MovingStats.mean(y)
    val muC = MovingStats.mean(coph)
    var num = 0.0; var dy = 0.0; var dc = 0.0
    for (i <- y.indices) {
      val a = y(i) - muY; val b = coph(i) - muC
      num += a * b; dy += a * a; dc += b * b
    }
    val corr = if (dy == 0 || dc == 0) 0.0 else num / math.sqrt(dy * dc)
    (corr, coph)
  }

  /** Full pipeline over a precomputed condensed matrix (the reference's
    * hierarchical_clusters minus the SciPy-only inconsistency stats).
    */
  def hierarchicalClusters(y: Array[Double], m: Int, t: Double,
      method: Method = Single, maxClust: Boolean = false): Clustering = {
    val z = linkage(y, m, method)
    val assignments =
      if (maxClust) fclusterMaxClust(z, m, t.toInt) else fclusterByDistance(z, m, t)
    val (corr, coph) = cophenet(z, m, y)
    Clustering(z, assignments, corr, coph)
  }
}
