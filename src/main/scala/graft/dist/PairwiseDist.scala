package graft.dist

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.kernels.{Hierarchical, MpDist}

/** All-pairs MPDist between M series — the engine's theta join
  * (ref pairwise_dist.py:36-101: i<j pairs fanned out to a pool; here
  * pairs fan out as Spark tasks with the small side broadcast).
  */
object PairwiseDist {

  /** Hard ceiling on series count for the driver-side clustering path:
    * `condensed` collects M(M-1)/2 doubles and broadcasts all M series,
    * mirroring the reference's in-memory assumption
    * (hierarchical_clustering.py:18-146). 4096 series = ~8.4M condensed
    * entries (67 MB) — far below driver memory, far above any sane use of
    * single-linkage output. Beyond it, fail fast with guidance instead of
    * silently OOMing the driver.
    */
  val MaxDriverSeries = 4096

  private def requireDriverSized(m: Int): Unit =
    require(m <= MaxDriverSeries,
      s"hierarchical clustering collects an M(M-1)/2 condensed matrix on the driver; " +
        s"M=$m exceeds MaxDriverSeries=$MaxDriverSeries. Cluster a sample or " +
        "pre-aggregate series (the reference's hierarchical_clustering has the " +
        "same driver-memory bound).")

  /** Condensed distance matrix entries as (i, j, dist), i < j. For M small
    * enough to broadcast (the reference holds all M series in memory), the
    * series list is broadcast once and pair indices are the distributed
    * axis — no shuffle of series data per pair.
    */
  def pairwiseDist(spark: SparkSession, series: Array[Array[Double]], w: Int,
      threshold: Double = 0.05): Dataset[(Int, Int, Double)] = {
    import spark.implicits._
    val m = series.length
    val bc = spark.sparkContext.broadcast(series)
    val pairs = for { i <- 0 until m - 1; j <- i + 1 until m } yield (i, j)
    spark.createDataset(pairs)
      .repartition(math.min(pairs.size, spark.sparkContext.defaultParallelism * 2))
      .map { case (i, j) =>
        (i, j, MpDist.mpdist(bc.value(i), bc.value(j), w, threshold))
      }
  }

  /** Condensed matrix in SciPy pdist order, collected to the driver. */
  def condensed(spark: SparkSession, series: Array[Array[Double]], w: Int,
      threshold: Double = 0.05): Array[Double] = {
    val m = series.length
    requireDriverSized(m)
    val y = new Array[Double](m * (m - 1) / 2)
    pairwiseDist(spark, series, w, threshold).collect().foreach { case (i, j, d) =>
      y(Hierarchical.condensedIndex(m, i, j)) = d
    }
    y
  }

  /** Distributed pairwise MPDist → driver-side agglomerative clustering
    * (ref hierarchical_clustering.py:18-146).
    */
  def hierarchicalClusters(spark: SparkSession, series: Array[Array[Double]],
      w: Int, t: Double, method: Hierarchical.Method = Hierarchical.Single,
      threshold: Double = 0.05, maxClust: Boolean = false): Hierarchical.Clustering =
    Hierarchical.hierarchicalClusters(
      condensed(spark, series, w, threshold), series.length, t, method, maxClust)
}
