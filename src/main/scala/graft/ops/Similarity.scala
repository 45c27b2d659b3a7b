package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import graft.ops.ColSyntax._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k with the small query side
  * broadcast — one scan of the corpus, no shuffle of the big side.
  * Scale path: multi-table random-hyperplane (Rademacher, ±1 components)
  * LSH so candidate generation is an equi-join on bucket keys; recall is
  * measured against brute force in-query (q24) and in SimilarityRecallSpec.
  *
  * Dot products run through `aggregate`/`zip_with` (codegen) as a strict
  * left-to-right fold, and hyperplane components are key-derived ±1 signs
  * baked in as literals — both choices exist so the DuckDB oracle can
  * replay every double bit-for-bit (list_reduce is the same left fold).
  */
object Similarity {

  /** The [[lshTopK]] (q24) and [[ivfTopK]] (q35) shapes, read by their
    * oracles too. Every builder reads `vec_id` and `embedding`.
    */
  final val LshPlanes = 10
  final val LshTables = 4
  final val LshSeed = 42L
  final val IvfCells = 16
  final val IvfProbes = 2
  final val IvfLloydRounds = 2

  /** Cosine similarity of two float-array columns in double precision
    * (sequential fold — mirrored by OracleSqlGen's list_reduce).
    */
  def cosine(a: Column, b: Column): Column = {
    def norm(v: Column) =
      sqrt(foldSum(transform(v, x => x.cast("double") * x.cast("double"))))
    foldSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double"))) /
      (norm(a) * norm(b))
  }

  /** Strict left-to-right double sum of an array column — the one fold
    * every dot product here uses (the oracle's list_reduce replays it).
    */
  private def foldSum(xs: Column): Column = aggregate(xs, lit(0.0), (acc, v) => acc + v)

  /** Brute-force top-k cosine neighbors for each query vector.
    * `queries` must be small (it is broadcast); corpus side streams.
    * Returns (query_id, rank, neighbor_id, cosine).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select($"vec_id".as("query_id"), $"embedding".as("qv")))
    val c = corpus.select($"vec_id".as("neighbor_id"), $"embedding".as("cv"))
    topK(c.join(q, $"query_id" =!= $"neighbor_id")
      .withColumn("cosine", cosine($"qv", $"cv")), k)
  }

  /** The ranking step every top-k path ends with: per query_id, scored
    * candidates by cosine desc, neighbor_id asc (the oracles' tie rule),
    * the first k kept, cosine rounded to 4 places.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", round($"cosine", 4).as("cosine"))
  }

  /** Key-derived ±1 hyperplane components for (table, plane) as a '+'/'-'
    * string of length dim — shared verbatim with the oracle SQL generator.
    */
  def hyperplaneSigns(table: Int, plane: Int, dim: Int, seed: Long): String = {
    val sb = new java.lang.StringBuilder(dim)
    var j = 0
    while (j < dim) {
      val h = graft.ingest.TranscriptGen.splitmix64(
        graft.ingest.TranscriptGen.splitmix64(seed ^ (table * 1009L + plane)) ^ j.toLong)
      sb.append(if ((h & 1L) == 0L) '+' else '-')
      j += 1
    }
    sb.toString
  }

  /** Embedding width, read once from the data: one tiny take(1) job at
    * plan-build time; an empty input yields 1 (any dim works — there are
    * no rows to bucket).
    */
  def vecDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).take(1).headOption.map(_.getInt(0)).getOrElse(1)

  /** The sign-bit of `vec · signs` as a '1'/'0' char column: dot is a
    * strict left fold of ±x_j in index order.
    */
  private def bucketBit(vec: Column, signs: String): Column = {
    val signArr = typedLit(signs.map(c => if (c == '+') 1.0 else -1.0).toArray)
    val dot = foldSum(zip_with(vec, signArr, (x, s) => x.cast("double") * s))
    when(dot >= 0, lit("1")).otherwise(lit("0"))
  }

  /** One bucket-key row per (vector, table): key = "t:bitstring" over
    * `planes` hyperplanes. Output columns: all input columns + bkey.
    * Pass `dim` when already known to avoid the plan-build take(1) job.
    */
  def withBucketKeys(df: DataFrame, vecCol: String,
      planes: Int, tables: Int, seed: Long, dim0: Int = -1): DataFrame = {
    val dim = if (dim0 > 0) dim0 else vecDim(df, vecCol)
    val keys = (0 until tables).map { t =>
      concat(lit(s"$t:"), concat((0 until planes).map(p =>
        bucketBit(col(vecCol), hyperplaneSigns(t, p, dim, seed))): _*))
    }
    df.withColumn("bkey", explode(array(keys: _*)))
  }

  /** round(x·1e4) integer quantization — ONE definition shared by the
    * corpus and query sides of the IVF index (cell assignment depends on
    * both quantizing bit-identically) and mirrored verbatim by
    * OracleSqlGen.q35's list_transform.
    */
  private def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 10000, 0).cast("long"))

  /** Squared L2 distance between a quantized integer vector column and a
    * double centroid column — strict left fold in dim order, so the
    * oracle's list_reduce replays it bit-for-bit.
    */
  private def d2(qv: Column, cent: Column): Column =
    foldSum(zip_with(qv, cent,
      (v, c) => (v.cast("double") - c) * (v.cast("double") - c)))

  /** Assign each row to its nearest centroid (ties to the lowest cell):
    * input must carry `qv`; centroids (cell, cent) are broadcast.
    */
  private def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("dd", d2($"qv", $"cent"))
      .groupBy($"vec_id")
      .agg(min(struct($"dd", $"cell")).as("m"))
      .select($"vec_id", $"m.cell".as("cell"))

  /** Exact integer squared L2 between two quantized vectors (seeding
    * runs entirely in Long arithmetic so the oracle's BIGINT fold matches
    * bit-for-bit — no float order sensitivity anywhere in seed selection).
    */
  private def d2Int(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Deterministic IVF coarse quantizer — the inverted-file ANN scale
    * path (vs hyperplane LSH): `kCells` cells from [[IvfLloydRounds]] unrolled
    * Lloyd iterations over integer-quantized vectors (round(x·1e4)).
    *
    * Seeding is k-means++-style and fully deterministic: (1) a uniform
    * pseudo-random sample — the 4·kCells vectors with the smallest
    * md5('ivf:' || id), the same key-derived-randomness trick as the LSH
    * hyperplanes (ids are arbitrary, an md5 of them is a uniform draw both
    * engines order identically); (2) greedy maximin (farthest-point) over
    * the sample using EXACT integer distances, ties to the lowest id — so
    * the seeds span the sample's geometry instead of clumping. The sample
    * is bounded (4·kCells rows collected) regardless of corpus size.
    * Integer per-dim sums make the centroid means exactly reproducible in
    * SQL (the same reason the MP oracles quantize); every double distance
    * is a strict left fold. Empty cells drop out of the update identically
    * in both engines. Returns (cells: (vec_id, cell),
    * centroids: (cell, cent: Array[Double])).
    *
    * Cache lifecycle: the quantized projection and each round's centroid
    * table persist via [[graft.util.StageCache]] like the Dedup signature
    * stages — call `StageCache.release(spark)` after the consuming action
    * (the harnesses do, between queries/reps).
    *
    * Scale shape: assignment is a broadcast nested-loop of the corpus
    * against kCells centroids — cost n·kCells·dim map-side, no corpus
    * shuffle; each Lloyd update is one (cell, dim) aggregation. At 100 TB
    * train the centroids on a sample: `trainFraction < 1` restricts the
    * Lloyd-update aggregations to a deterministic md5-keyed subset of the
    * corpus (hash-filtered, so the index is identical under any input
    * partitioning — `.sample` is not), while the returned cell assignment
    * still covers EVERY row; raise kCells toward √n with nprobe
    * proportional. RecallSpec gates that a half-sample-trained index
    * keeps its recall on clustered data.
    */
  private def ivfCells(embeds: DataFrame, kCells: Int,
      trainFraction: Double): (DataFrame, DataFrame) = {
    val spark = embeds.sparkSession
    // the quantized projection feeds the seed sample, every assignment
    // round and every Lloyd update — persist it so the corpus scans once,
    // not per consumer (same cache lifecycle as the Dedup signature stages)
    val vecs = graft.util.StageCache.persist(
      embeds.select($"vec_id", quantize($"embedding").as("qv")))
    // training subset for the Lloyd updates: md5-keyed hash filter (first
    // 8 hex chars as a uniform draw in [0, 2^32)) — deterministic and
    // partition-invariant, unlike Dataset.sample; 1.0 trains on everything
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    val train =
      if (trainFraction >= 1.0) vecs
      else vecs.where(
        conv(substring(md5(concat(lit("ivftrain:"), $"vec_id".cast("string"))),
          1, 8), 16, 10).cast("long") <
          (trainFraction * 4294967296.0).toLong)
    val cand = train
      .withColumn("mk", md5(concat(lit("ivf:"), $"vec_id".cast("string"))))
      .orderBy($"mk", $"vec_id")
      .limit(4 * kCells)
      .select($"vec_id".cast("long"), $"qv")
      .collect() // bounded: 4*kCells rows whatever the corpus size
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (cand.nonEmpty) chosen += 0 // first seed = smallest (md5, id)
    while (chosen.length < math.min(kCells, cand.length)) {
      var best = -1
      var bestd = -1L
      var j = 0
      while (j < cand.length) {
        if (!chosen.contains(j)) {
          var mind = Long.MaxValue
          chosen.foreach(c => mind = math.min(mind, d2Int(cand(j)._2, cand(c)._2)))
          if (best < 0 || mind > bestd ||
              (mind == bestd && cand(j)._1 < cand(best)._1)) {
            best = j; bestd = mind
          }
        }
        j += 1
      }
      chosen += best
    }
    val centSchema = StructType(Seq(StructField("cell", IntegerType, nullable = false),
      StructField("cent", ArrayType(DoubleType, containsNull = false), nullable = false)))
    var cents = spark.createDataFrame(
      java.util.Arrays.asList(chosen.toSeq.zipWithIndex.map {
        case (ci, cell) =>
          org.apache.spark.sql.Row(cell, cand(ci)._2.map(_.toDouble).toSeq)
      }: _*), centSchema)
    for (_ <- 1 to IvfLloydRounds) {
      val a = assignCells(train, cents)
      // Lloyd update: per-dim integer sums -> double means (one shared
      // division expression per component in both engines); persisted
      // because the next round's assignment, the final assignment and the
      // probe side all consume it — 16 rows, but computing it is a full
      // training-set aggregation
      cents = graft.util.StageCache.persist(a.join(train, Seq("vec_id"))
        .select($"cell", posexplode($"qv").as(Seq("pos", "v")))
        .groupBy($"cell", $"pos")
        .agg(sum($"v").as("s"), count(lit(1)).as("cnt"))
        .groupBy($"cell")
        .agg(sort_array(collect_list(struct($"pos",
          ($"s".cast("double") / $"cnt").as("comp")))).as("pc"))
        .select($"cell", transform($"pc", p => p.getField("comp")).as("cent")))
    }
    (assignCells(vecs, cents), cents)
  }

  /** IVF approximate top-k: probe the `nprobe` nearest cells per query,
    * rank candidates within them by exact cosine. Same output schema as
    * bruteForceTopK.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      kCells: Int = IvfCells, nprobe: Int = IvfProbes,
      trainFraction: Double = 1.0): DataFrame = {
    val (cells, cents) = ivfCells(corpus, kCells, trainFraction)
    val qv = queries.select($"vec_id".as("query_id"), $"embedding".as("q_v"),
      quantize($"embedding").as("qv"))
    val pw = Window.partitionBy($"query_id").orderBy($"dd".asc, $"cell".asc)
    val probes = qv.crossJoin(broadcast(cents))
      .withColumn("dd", d2($"qv", $"cent"))
      .withColumn("rn", row_number().over(pw))
      .where($"rn" <= nprobe)
      .select($"query_id", $"q_v", $"cell")
    val cv = corpus.select($"vec_id".as("neighbor_id"), $"embedding".as("c_v"))
    topK(probes.join(cells.select($"cell", $"vec_id".as("neighbor_id")),
        Seq("cell"))
      .where($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"q_v", $"neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
      .join(cv, Seq("neighbor_id"))
      .withColumn("cosine", cosine($"q_v", $"c_v")), k)
  }

  /** LSH-bucketed approximate top-k: candidates share a bucket under any
    * of [[LshTables]] hyperplane sets. Returns the same schema as
    * bruteForceTopK (ranks within retrieved candidates).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim0: Int = -1): DataFrame = {
    val dim = if (dim0 > 0) dim0 else vecDim(corpus, "embedding")
    def keyed(df: DataFrame) = withBucketKeys(df, "embedding", LshPlanes, LshTables, LshSeed, dim)
    val qb = broadcast(keyed(queries)
      .select($"bkey", $"vec_id".as("query_id"), $"embedding".as("q_v")))
    val cb = keyed(corpus)
      .select($"bkey", $"vec_id".as("neighbor_id"), $"embedding".as("c_v"))
    topK(cb.join(qb, Seq("bkey"))
      .where($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id", $"q_v", $"c_v")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosine($"q_v", $"c_v")), k)
  }
}
