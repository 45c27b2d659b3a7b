package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.{Dedup, Similarity}

/** Recall gates for the approximate dedup / similarity operators.
  * Everything here is deterministic (seeded hyperplanes, splitmix data),
  * so the measured recalls are fixed numbers, not flaky samples.
  */
class RecallSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-recall-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rnd(seed: Long): Iterator[Long] =
    Iterator.iterate(graft.ingest.TranscriptGen.splitmix64(seed))(
      graft.ingest.TranscriptGen.splitmix64)

  /** Deterministic docs: 40 base docs of 30 words from a 50-word lexicon,
    * plus near-dup copies of the first 10 with 1-4 words swapped.
    */
  private def docs(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val words = (0 until 50).map(i => s"w$i")
    val base = (0 until 40).map { d =>
      val ws = rnd(d * 7919L + 1).take(30).map(h => words(((h % 50) + 50).toInt % 50))
      (d.toLong, ws.mkString(" "))
    }
    val dups = (0 until 10).map { d =>
      val toks = base(d)._2.split(" ")
      val nEdit = 1 + d % 4
      val edited = toks.zipWithIndex.map { case (t, i) =>
        if (i < nEdit) words((d + i + 17) % 50) else t
      }
      (100L + d, edited.mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  private def jaccard(a: String, b: String, k: Int = 3): Double = {
    def sh(s: String) = s.toLowerCase.split("\\s+").sliding(k).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("simhash banding is complete: banded pairs == brute-force pairs") {
    import spark.implicits._
    val d = docs()
    val banded = Dedup.simhashPairs(d)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val sigs = Dedup.simhash(d).as[(Long, String)].collect()
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      ham = sa.zip(sb).count { case (x, y) => x != y }
      if ham <= 3
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty, "fixture should contain near-dup signatures")
    assert(banded == brute,
      s"banding must find exactly the brute-force pairs (missing: ${brute -- banded})")
  }

  test("minhash LSH finds every high-jaccard pair") {
    import spark.implicits._
    val d = docs()
    val found = Dedup.minhashLsh(d, threshold = 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val texts = d.as[(Long, String)].collect().toMap
    val high = (for {
      a <- texts.keys; b <- texts.keys if a < b
      if jaccard(texts(a), texts(b)) >= 0.7
    } yield (a, b)).toSet
    assert(high.size >= 8, s"fixture should plant high-jaccard pairs, got ${high.size}")
    assert(high.subsetOf(found),
      s"LSH must recall all pairs with jaccard >= 0.7 (missing: ${high -- found})")
  }

  /** The candidate-pair operator behind every LSH dedup builder, against
    * a naive all-pairs join over shared keys. Planted: one hot key holding
    * 220 ids, a mod-7 key and a small /3 key on every id (so ids share
    * several keys, some of them inside the hot bucket too), and one
    * payload column carried through the exchange. Any body that replaces
    * the cap (e.g. a salted hot-bucket split) must keep this green.
    */
  test("candidatePairs equals a naive join over shared keys, uncapped " +
      "and with a cap that drops exactly the hot bucket") {
    import spark.implicits._
    val rows = (0L until 300L).flatMap { id =>
      val keys = Seq((1, s"m${id % 7}"), (2, s"d${id / 3}")) ++
        (if (id < 220L) Seq((0, "hot")) else Nil)
      keys.map { case (band, bucket) => (band, bucket, id, s"p$id") }
    }
    val keyed = rows.toDF("band", "bucket", "id", "p")
    def naive(keep: ((Int, String)) => Boolean): Set[(Long, Long)] =
      rows.filter(r => keep((r._1, r._2))).groupBy(r => (r._1, r._2)).values
        .flatMap { g =>
          val m = g.map(_._3).sorted
          for (a <- m; b <- m if a < b) yield (a, b)
        }.toSet
    def run(maxBucket: Int): (Set[(Long, Long)], Long) = {
      val out = Dedup.candidatePairs(keyed, Seq("band", "bucket"), "id",
        Seq("p"), maxBucket, "pairSpec").persist()
      try {
        val got = out.select($"id_a", $"id_b", $"p_a", $"p_b")
          .as[(Long, Long, String, String)].collect()
        assert(got.forall { case (a, b, _, _) => a < b }, "id_a < id_b on every row")
        assert(got.forall { case (a, b, pa, pb) => pa == s"p$a" && pb == s"p$b" },
          "each payload side must belong to its own id")
        val deduped = out.select($"id_a", $"id_b").dropDuplicates("id_a", "id_b")
          .as[(Long, Long)].collect()
        assert(deduped.length == deduped.toSet.size)
        (deduped.toSet, got.length.toLong)
      } finally {
        out.unpersist()
        graft.util.StageCache.release(spark)
      }
    }
    def sameSet(got: Set[(Long, Long)], want: Set[(Long, Long)], what: String) = {
      val (missing, extra) = (want -- got, got -- want)
      assert(missing.isEmpty && extra.isEmpty,
        s"$what: missing ${missing.take(5)} (${missing.size}), extra ${extra.take(5)} (${extra.size})")
    }
    val all = naive(_ => true)
    val (uncapped, uncappedRows) = run(0)
    sameSet(uncapped, all, "uncapped pairs vs naive join")
    assert(uncappedRows > all.size, "fixture must plant pairs sharing several keys")

    val (capped, _) = run(100)
    sameSet(capped, naive(_ != ((0, "hot"))),
      "a cap below the hot bucket's size must drop exactly that bucket's pairs")
    assert(capped.size < all.size)
    var tries = 0
    while (!graft.ops.CapBucketsLog.lastOverCount("pairSpec").exists(_ > 0L)
        && tries < 50) {
      Thread.sleep(100); tries += 1
    }
    assert(graft.ops.CapBucketsLog.lastOverCount("pairSpec").exists(_ > 0L),
      "the dropped bucket must be counted")
  }

  /** Deterministic near-unit embeddings + planted near-copies. */
  test("embedding LSH dedup recalls planted near-duplicates") {
    import spark.implicits._
    val dim = 64
    val base = (0 until 80).map { id =>
      val v = rnd(id * 104729L + 5).take(dim)
        .map(h => ((h % 1000).toInt / 1000.0f)).toArray
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id.toLong, v.map(_ / n))
    }
    val planted = base.take(20).map { case (id, v) =>
      val c = v.clone()
      c(id.toInt % dim) += 0.05f // cosine ~0.999 near-copy
      (1000L + id, c)
    }
    val df = spark.createDataset(base ++ planted).toDF("vec_id", "embedding")
    val found = Dedup.embeddingDups(df, threshold = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 20).map(id => (id.toLong, 1000L + id)).toSet
    val recall = expected.count(found.contains).toDouble / expected.size
    assert(recall >= 0.8, s"planted near-dup recall $recall < 0.8 (found ${found.size} pairs)")
  }

  test("exact-first pipeline + bucket caps survive a mass-duplicate corpus") {
    import spark.implicits._
    val base = docs()
    val dupText = (0 until 30).map(i => s"dd$i").mkString(" ")
    val mass = spark.range(10000)
      .select(($"id" + 5000L).as("doc_id"), lit(dupText).as("text"))
    val corpus = base.unionByName(mass)

    // pipeline: the exact stage collapses the 10k clones to one
    // representative, so the LSH stage never sees a degenerate bucket
    val pairs = Dedup.pipeline(corpus, threshold = 0.3).persist()
    val exactPairs = pairs.where($"kind" === "exact")
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(exactPairs.length == 9999)
    assert(exactPairs.forall(_._1 == 5000L),
      "every clone must link to the group-min representative")
    // near-dup recall on the non-degenerate docs is unchanged vs direct LSH
    val near = pairs.where($"kind" === "near" && $"id_a" < 5000L && $"id_b" < 5000L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val direct = Dedup.minhashLsh(base, threshold = 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(near == direct, "pipeline near-dup pairs must match direct LSH on the clean corpus")
    pairs.unpersist()

    // direct LSH on the degenerate corpus: the clone buckets exceed the cap
    // and are dropped (logged, never silent), the candidate join never goes
    // quadratic in one reducer, and pairs among normal docs are unaffected
    val capped = Dedup.minhashLsh(corpus, threshold = 0.3, maxBucket = 100)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists { case (a, b) => a >= 5000L || b >= 5000L },
      "capped LSH must drop the mass-duplicate buckets")
    assert(capped == direct, "cap must not change pairs among non-degenerate docs")
  }

  test("ANN LSH top-k recall vs brute force on planted cluster structure") {
    import spark.implicits._
    val dim = 64
    // 20 clusters x 10 members: within-cluster cosine ~0.99, across ~0
    // (signed components) — the regime ANN retrieval exists for; a flat
    // cloud with no structure has no recoverable top-k for ANY index
    def unit(seed: Long): Array[Float] = {
      val v = rnd(seed).take(dim)
        .map(h => (((h % 2000).toInt + 2000) % 2000 - 1000) / 1000.0f).toArray
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val vecs = (0 until 200).map { id =>
      val center = unit((id / 10) * 7919L + 11)
      val noise = unit(id * 104729L + 23)
      val v = center.indices.map(i => center(i) + 0.07f * noise(i)).toArray
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id.toLong, v.map(_ / n))
    }
    val df = spark.createDataset(vecs).toDF("vec_id", "embedding")
    val q = df.where($"vec_id" % 10 === 0 && $"vec_id" < 100)
    val brute = Similarity.bruteForceTopK(df, q, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(df, q, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.count(lsh.contains).toDouble / brute.size
    assert(recall >= 0.7, s"ANN LSH recall $recall < 0.7 on clustered data")

    // IVF on the same clustered corpus: nprobe = kCells probes every cell,
    // so the candidate set is the whole corpus and the top-k must equal
    // brute force EXACTLY (the IVF-specific machinery reduces to a
    // partitioned re-ranking); a 1-cell probe on clustered data still
    // recovers most of the top-k
    val ivfAll = Similarity.ivfTopK(df, q, 5, kCells = 8, nprobe = 8)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivfAll == brute, "nprobe=kCells IVF must equal brute force")
    val ivf1 = Similarity.ivfTopK(df, q, 5, kCells = 8, nprobe = 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivfRecall = brute.count(ivf1.contains).toDouble / brute.size
    assert(ivfRecall >= 0.7, s"IVF nprobe=1 recall $ivfRecall < 0.7 on clustered data")

    // parallelism invariance: the quantized integer sums make the Lloyd
    // update order-free, so the index (and thus the results) must be
    // identical under any input partitioning
    val ivfRepart = Similarity.ivfTopK(df.repartition(7), q, 5, kCells = 8, nprobe = 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivfOnePart = Similarity.ivfTopK(df.coalesce(1), q, 5, kCells = 8, nprobe = 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivfRepart == ivf1 && ivfOnePart == ivf1,
      "IVF results must be invariant to input partitioning")
  }

  /** The IVF quality gate (round-5 verdict): recall@10 >= 8/10 while
    * probing 2 of 16 cells (nprobe/kCells = 12.5%) on a corpus WITH
    * neighbor structure. 40 clusters of 25 members at heavy noise (0.8x a
    * unit perturbation) keeps top-10 neighborhoods non-trivial — the
    * measured recall is 9.9/10 for the k-means++-style quantizer vs
    * 8.45/10 for the old lowest-id/1-round seeding at the same probe
    * budget (and the driver's own embeddings table is deliberately NOT
    * used here: it is isotropic-random on the sphere — cos std exactly
    * 1/sqrt(64), flat PCA — where no partition-based index can
    * concentrate the top-k and the measured ceiling at a 12.5% probe is
    * ~4/10 for ANY seeding; recall of an index is only meaningful on
    * clusterable data, which is why q25 plants near-dups too).
    */
  test("IVF recall@10 >= 8/10 probing 2 of 16 cells on clustered data") {
    import spark.implicits._
    val dim = 64
    def unit(seed: Long): Array[Float] = {
      val v = rnd(seed).take(dim)
        .map(h => (((h % 2000).toInt + 2000) % 2000 - 1000) / 1000.0f).toArray
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val per = 25
    val vecs = (0 until 1000).map { id =>
      val center = unit((id / per) * 7919L + 11)
      val noise = unit(id * 104729L + 23)
      val v = center.indices.map(i => center(i) + 0.8f * noise(i)).toArray
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id.toLong, v.map(_ / n))
    }
    val df = spark.createDataset(vecs).toDF("vec_id", "embedding")
    val q = df.where($"vec_id" % per === 3 && $"vec_id" < 500)
    val brute = Similarity.bruteForceTopK(df, q, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(df, q, 10, kCells = 16, nprobe = 2)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    info(f"IVF clustered recall@10 = ${recall * 10}%.2f / 10 (2 of 16 cells probed)")
    assert(recall >= 0.8,
      s"IVF recall@10 $recall < 0.8 at a 2-of-16-cell probe on clustered data")
    // the 100 TB training path: centroids trained on a deterministic
    // md5-keyed half-sample, every row still assigned — recall must hold
    val ivfHalf = Similarity.ivfTopK(df, q, 10, kCells = 16, nprobe = 2,
      trainFraction = 0.5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recallHalf = brute.count(ivfHalf.contains).toDouble / brute.size
    info(f"IVF half-sample-trained recall@10 = ${recallHalf * 10}%.2f / 10")
    assert(recallHalf >= 0.8,
      s"half-sample-trained IVF recall@10 $recallHalf < 0.8")
    // sample-trained index must be partition-invariant too (hash filter,
    // not Dataset.sample)
    val ivfHalfRepart = Similarity.ivfTopK(df.repartition(7), q, 10,
      kCells = 16, nprobe = 2, trainFraction = 0.5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivfHalfRepart == ivfHalf,
      "sample-trained IVF must be invariant to input partitioning")
    graft.util.StageCache.release(spark)
  }
}
