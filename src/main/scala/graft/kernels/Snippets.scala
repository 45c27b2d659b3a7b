package graft.kernels

/** Snippets: representative subsequences by greedy minimum-coverage over
  * per-candidate MPDist vectors
  * (ref: /root/reference/matrixprofile/algorithms/snippets.py:17-126).
  */
object Snippets {

  final case class Snippet(index: Long, snippet: Array[Double],
      neighbors: Array[Long], fraction: Double)

  /** Per-candidate MPDist vectors: one row per snippet offset. This is the
    * expensive fan-out stage — the distributed layer computes rows in
    * parallel and runs the greedy selection below on the driver.
    */
  def candidateDistances(tsPadded: Array[Double], snippetSize: Int,
      windowSize: Int): (Array[Int], Array[Array[Double]]) = {
    val indices = Array.range(0, tsPadded.length - snippetSize, snippetSize)
    val distances = indices.map { i =>
      MpDist.mpdistVector(tsPadded,
        java.util.Arrays.copyOfRange(tsPadded, i, i + snippetSize - 1), windowSize)
    }
    (indices, distances)
  }

  def pad(ts: Array[Double], snippetSize: Int): Array[Double] = {
    val n = ts.length
    val numZeros = (snippetSize * math.ceil(n.toDouble / snippetSize) - n).toInt
    if (numZeros == 0) ts.clone() else ts ++ Array.fill(numZeros)(0.0)
  }

  /** Greedy selection + fraction/neighbor annotation over precomputed
    * distances (ref snippets.py:78-124).
    */
  def select(ts: Array[Double], tsPadded: Array[Double], indices: Array[Int],
      distances: Array[Array[Double]], snippetSize: Int,
      numSnippets: Int): Seq[Snippet] = {
    val timeSeriesLen = ts.length
    val cols = distances(0).length

    final case class Picked(index: Int, distance: Array[Double])
    val picked = scala.collection.mutable.ArrayBuffer.empty[Picked]
    var minis = Array.fill(cols)(Double.PositiveInfinity)
    var totalMin: Array[Double] = null

    var n = 0
    while (n < numSnippets) {
      var minims = Double.PositiveInfinity
      var index = 0
      var i = 0
      while (i < indices.length) {
        var s = 0.0
        var j = 0
        while (j < cols) { s += math.min(distances(i)(j), minis(j)); j += 1 }
        if (minims > s) { minims = s; index = i }
        i += 1
      }
      minis = Array.tabulate(cols)(j => math.min(distances(index)(j), minis(j)))
      picked += Picked(indices(index), distances(index))
      totalMin =
        if (totalMin == null) distances(index).clone()
        else Array.tabulate(cols)(j => math.min(totalMin(j), distances(index)(j)))
      n += 1
    }

    picked.toSeq.map { p =>
      val mask = Array.tabulate(cols)(j => p.distance(j) <= totalMin(j))
      val maxIndex = timeSeriesLen - snippetSize
      var neighbors = (0 until cols).filter(j => mask(j) && j <= maxIndex).map(_.toLong)
      if (neighbors.contains(maxIndex.toLong))
        neighbors = neighbors ++ ((maxIndex + 1) until timeSeriesLen).map(_.toLong)
      val fraction = mask.count(identity).toDouble / (tsPadded.length - snippetSize)
      // total_min -= mask (boolean cast to 0/1, ref snippets.py:123)
      for (j <- 0 until cols) if (mask(j)) totalMin(j) -= 1.0
      Snippet(p.index.toLong,
        java.util.Arrays.copyOfRange(tsPadded, p.index, p.index + snippetSize),
        neighbors.toArray, fraction)
    }
  }

  /** The MPDist window: `windowSize0` when positive, else the default
    * floor(snippetSize/2) (ref snippets.py).
    */
  def windowSize(snippetSize: Int, windowSize0: Int): Int =
    if (windowSize0 > 0) windowSize0 else math.floor(snippetSize / 2.0).toInt

  /** Full snippets pipeline, single-threaded (ref snippets.py:17-126). */
  def snippets(ts: Array[Double], snippetSize: Int, numSnippets: Int = 2,
      windowSize0: Int = 0): Seq[Snippet] = {
    require(snippetSize >= 4, "snippet_size must be an integer >= 4")
    require(ts.length >= 2 * snippetSize, "Time series is too short relative to snippet length")
    val w = windowSize(snippetSize, windowSize0)
    require(w < snippetSize, "window_size must be smaller than snippet_size")
    val padded = pad(ts, snippetSize)
    val (indices, distances) = candidateDistances(padded, snippetSize, w)
    select(ts, padded, indices, distances, snippetSize, numSnippets)
  }
}
