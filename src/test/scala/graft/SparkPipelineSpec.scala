package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ingest.TranscriptGen
import graft.series.Derive
import graft.rollup.Rollup
import graft.compress.{Chunks, Gorilla}
import graft.dist.DistributedMp
import graft.dist.DistributedMp.SeriesRow
import graft.schema._
import Fixtures._

/** Pipeline-level gates: table → series → tier → MP, per FIXTURES.md §4.
  * The reference's goldens gate the pipeline via the c_sample fixture
  * conversation whose inter-turn gaps encode sampledata.txt.
  */
class SparkPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("generator is deterministic and stable under partitioning") {
    import spark.implicits._
    val a = TranscriptGen.generate(spark, 20).orderBy("conv_id", "turn_idx").collect()
    val b = TranscriptGen.generate(spark, 20).repartition(13)
      .orderBy("conv_id", "turn_idx").collect()
    assert(a.toSeq == b.toSeq)
    // per-turn text equality under stable (conv_id, turn_idx) ordering:
    // regenerating any single turn reproduces the exact text
    val sample = a.filter(_.conv_id == "c000003").take(5)
    for (t <- sample)
      assert(t.text == TranscriptGen.genConversation(42L, 3)(t.turn_idx).text)
  }

  test("pipeline golden gate: c_sample gap series -> mpx matches reference goldens") {
    import spark.implicits._
    val transcripts = spark.createDataset(TranscriptGen.fixtureConversations(42L))
    val gap = Derive.gapSeconds(transcripts.filter($"conv_id" === "c_sample"))
    val series = Derive.assemble(gap).collect()
    assert(series.length == 1)
    val values = series.head._4
    assert(values.length == 875)
    // derived series equals sampledata + 60s at µs quantization
    for (i <- values.indices)
      assert(math.abs(values(i) - 60.0 - sampledata(i)) < 1e-5,
        s"i=$i ${values(i)} vs ${sampledata(i)}")
    // MP through the distributed path matches the reference golden at 4dp
    // (z-normalization absorbs the +60 shift; µs quantization < 1e-6)
    val rows = DistributedMp.mpxProfiles(
      spark.createDataset(Seq(SeriesRow("c_sample", "gap_s", 0L, values))), 32, "raw")
      .collect()
    assert(rows.length == 1)
    assertAlmostEqual(rows.head.mp, load("mpx_mp.txt"), decimal = 4)
    assert(rows.head.pi.toSeq == load("mpx_mpi.txt").map(_.toLong - 1).toSeq)
  }

  test("tiled split/merge path equals unsplit kernel (min-reduce gate)") {
    import spark.implicits._
    val sr = SeriesRow("c_sample", "gap_s", 0L, sampledata)
    val ds = spark.createDataset(Seq(sr))
    // force the halo'd-tile path with a tiny threshold; tiles re-derive
    // stats from their own slices, so equality is ULP-level, not bitwise
    val split = DistributedMp.mpxProfiles(ds, 32, "raw", splitThreshold = 100,
      tileSize = 190).collect().head
    val unsplit = DistributedMp.mpxProfiles(ds, 32, "raw").collect().head
    assertAlmostEqual(split.mp, unsplit.mp, decimal = 8)
    val piDiff = split.pi.indices.count(i => split.pi(i) != unsplit.pi(i))
    assert(piDiff == 0,
      s"$piDiff profile-index mismatches between tiled and unsplit mpx")
    // no tile task may carry the full series: max slice = 2*tile + w - 1
    val maxSlice = 2 * 190 + 32 - 1
    assert(sampledata.length > maxSlice)

    val sSplit = DistributedMp.stompProfiles(ds, 32, "raw", splitThreshold = 100,
      tileSize = 190).collect().head
    val sUnsplit = DistributedMp.stompProfiles(ds, 32, "raw").collect().head
    assertAlmostEqual(sSplit.mp, sUnsplit.mp, decimal = 8)
    assertAlmostEqual(sSplit.lmp, sUnsplit.lmp, decimal = 8)
    assertAlmostEqual(sSplit.rmp, sUnsplit.rmp, decimal = 8)
  }

  test("tier retention keeps exactly the post-cutoff buckets (north-rule " +
      "retention: fine tiers keep short horizons)") {
    import spark.implicits._
    val transcripts = spark.createDataset(TranscriptGen.fixtureConversations(42L))
    val pts = transcripts.select($"conv_id", lit("t").as("kind"),
      unix_micros($"ts").as("bucket"), length($"text").cast("double").as("value"))
      .as[SeriesPoint]
    val m1 = Rollup.rollupRaw(pts, "1m")
    val all = m1.collect()
    val cutoff = all.map(_.bucket).sorted.apply(all.length / 2)
    val kept = Rollup.applyRetention(m1, cutoff).collect()
    assert(kept.forall(_.bucket >= cutoff))
    assert(kept.length == all.count(_.bucket >= cutoff) && kept.nonEmpty)
    assert(kept.length < all.length, "cutoff should drop some buckets")
  }

  test("catalog fetch_available lists parquet tables with category filter " +
      "(ref datasets/datasets.py:48-92)") {
    val dir = "/root/testdata/sf0.001"
    val all = graft.sources.Catalog.fetchAvailable(spark, dir)
      .collect().map(_.getString(0)).toSeq
    assert(Seq("documents", "embeddings", "events", "lineitem").forall(all.contains))
    assert(all == all.sorted)
    val filtered = graft.sources.Catalog.fetchAvailable(spark, dir, Some("e"))
      .collect().map(_.getString(0)).toSeq
    assert(filtered == all.filter(_.startsWith("e")))
  }

  test("skimp memoization reuses prior windows (ref skimp.py:193-205)") {
    import spark.implicits._
    val ds = spark.createDataset(Seq(SeriesRow("c_sample", "gap_s", 0L, sampledata)))
    val prior = DistributedMp.skimpProfiles(ds, Array(16), "raw")
    val full = DistributedMp.skimpProfiles(ds, Array(16, 32), "raw").collect()
    val reused = DistributedMp.skimpProfilesReusing(ds, Array(16, 32), "raw", prior)
      .collect()
    assert(full.length == 2 && reused.length == 2)
    for (w <- Seq(16, 32)) {
      val a = full.find(_.w == w).get
      val b = reused.find(_.w == w).get
      assert(a.mp.toSeq == b.mp.toSeq && a.pi.toSeq == b.pi.toSeq, s"w=$w")
    }
  }

  test("tiled distributed AB join equals the single-task cympx sweep") {
    import spark.implicits._
    val a = sampledata
    val b = sampledata.slice(199, 500)
    val pairs = spark.createDataset(Seq(DistributedMp.AbPair("x", "y", a, b)))
    val tiled = DistributedMp.mpxAbProfiles(pairs, 32,
      splitThreshold = 100, tileSize = 150).collect().head
    val (mpA, piA, mpB, piB) = graft.kernels.Mpx.mpxAb(a, b, 32)
    assertAlmostEqual(tiled.mpA, mpA, decimal = 8)
    assertAlmostEqual(tiled.mpB, mpB, decimal = 8)
    assert(tiled.piA.toSeq == piA.toSeq)
    assert(tiled.piB.toSeq == piB.toSeq)
  }

  test("distributed tiled snippets equal the single-task kernel (indices + " +
      "fractions), tasks carry slices not the series") {
    import spark.implicits._
    val size = 64
    val a = sampledata // 875 points
    val b = sampledata.map(v => -v + 3.0)
    val ds = spark.createDataset(Seq(
      SeriesRow("sa", "v", 0L, a), SeriesRow("sb", "v", 0L, b)))
    // tileSize 128 forces ~7 tiles per candidate on an 896-point padded
    // series — the multi-tile path, not the degenerate single-tile one
    val dist = graft.dist.DistributedSnippets.snippets(ds, size, numSnippets = 2,
        tileSize = 128)
      .collect().groupBy(_.conv_id)
    for ((conv, vals) <- Seq(("sa", a), ("sb", b))) {
      val expect = graft.kernels.Snippets.snippets(vals, size, 2)
      val got = dist(conv).sortBy(_.rank)
      assert(got.length == expect.length)
      got.zip(expect).foreach { case (g, e) =>
        assert(g.index == e.index, s"$conv rank=${g.rank}: ${g.index} vs ${e.index}")
        assert(math.abs(g.fraction - e.fraction) < 1e-9,
          s"$conv rank=${g.rank}: ${g.fraction} vs ${e.fraction}")
      }
    }
    // the neighbor variant reproduces the kernel's neighbor lists exactly
    // (incl. the ragged-tail extension), assembled relationally
    val withNbrs = graft.dist.DistributedSnippets
      .snippetsWithNeighbors(ds, size, numSnippets = 2, tileSize = 128)
      .collect().groupBy(_.conv_id)
    for ((conv, vals) <- Seq(("sa", a), ("sb", b))) {
      val expect = graft.kernels.Snippets.snippets(vals, size, 2)
      val got = withNbrs(conv).sortBy(_.rank)
      got.zip(expect).foreach { case (g, e) =>
        assert(g.index == e.index)
        assert(g.neighbors.toSeq == e.neighbors.toSeq,
          s"$conv rank=${g.rank}: neighbor lists differ " +
            s"(${g.neighbors.length} vs ${e.neighbors.length})")
      }
    }
  }

  test("q12/q28 select top-k series inside the plan (agg+limit+broadcast, " +
      "no driver collect of series data)") {
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("q12_mpdist_pairs", "q28_ab_join")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q: expected the length top-k to run as TakeOrderedAndProject")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"$q: expected the k winners to re-join via broadcast")
    }
  }

  test("LSH dedup and MP queries cache their shared stage: the signature/" +
      "series scan appears as a reused InMemoryRelation, not a recompute") {
    val dir = "/root/testdata/sf0.001"
    def imrCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.size
    for (q <- Seq("q20_minhash_lsh", "q21_simhash_pairs", "q25_embedding_dups",
        "q07_matrix_profile", "q09_motifs", "q13_pan_matrix_profile",
        "q28_ab_join")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      assert(imrCount(df) >= 2,
        s"$q: expected the shared stage (signatures / quantized series) to be " +
          "persisted and consumed from cache by every downstream branch")
      spark.catalog.clearCache()
    }
  }

  test("a bucketed+sorted table (the 100 TB layout) feeds the zero-shuffle " +
      "colocated rollup straight from storage") {
    import spark.implicits._
    val fromText = TranscriptGen.generate(spark, 30)
      .select($"conv_id", lit("token_len_t").as("kind"),
        unix_micros($"ts").as("bucket"), length($"text").cast("double").as("value"))
      .as[SeriesPoint]
    for (raw <- Seq(fromText, TranscriptGen.generatePoints(spark, 40))) {
      // destroy any incidental clustering, then write the engine's scale
      // layout: bucket(conv_id) with one file per bucket (repartition by
      // the same hash the bucketing uses) sorted by (conv_id, kind,
      // bucket) — the parquet stand-in for the Iceberg bucket(conv_id) table
      val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
      raw.orderBy(rand(7)).repartition(8, $"conv_id")
        .write.bucketBy(8, "conv_id").sortBy("conv_id", "kind", "bucket")
        .option("path", s"$dir/points_bucketed")
        .mode("overwrite").saveAsTable("points_bucketed")
      try {
        val scanned = spark.table("points_bucketed").as[SeriesPoint]
        val colocated = Rollup.rollupAllColocated(scanned)
        // no exchange anywhere: the layout, not a shuffle, provides locality
        val plan = colocated.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"colocated rollup over the bucketed table must not shuffle:\n$plan")
        val genericBy = (d: org.apache.spark.sql.Dataset[TierAgg]) =>
          d.collect().map(t => (t.conv_id, t.kind, t.tier, t.bucket) -> t).toMap
        val got = genericBy(colocated)
        val m1 = Rollup.rollupRaw(raw, "1m")
        val want = genericBy(m1.union(Rollup.rollupTier(m1, "1h"))
          .union(Rollup.rollupTier(Rollup.rollupTier(m1, "1h"), "1d")))
        assert(got.keySet == want.keySet && got.nonEmpty,
          s"bucket sets differ: ${got.size} vs ${want.size}")
        got.foreach { case (k, g) =>
          val w = want(k)
          assert(g.cnt == w.cnt && g.min == w.min && g.max == w.max &&
            g.first == w.first && g.last == w.last, s"$k: $g vs $w")
          assert(math.abs(g.sum - w.sum) < 1e-6, s"$k: sum ${g.sum} vs ${w.sum}")
        }
      } finally spark.sql("DROP TABLE IF EXISTS points_bucketed")
    }
  }

  test("dedup builders are one-action by default: construction runs zero " +
      "jobs (lazy persists) and the bucket-cap accumulator fills in on the " +
      "query's own action") {
    import spark.implicits._
    // Under the default lazy StageCache (SPARK_GRAFT_EAGER_PERSIST unset)
    // building a dedup plan must not run any Spark job; the opt-in eager
    // mode trades extra build-time jobs for race-free materialization and
    // is exercised by the StageCache-level specs.
    assume(!sys.env.get("SPARK_GRAFT_EAGER_PERSIST").contains("1"))
    // one 12-clone degenerate group: every band bucket of the clones
    // exceeds maxBucket=3 and must be dropped (and counted)
    val docs = ((0 until 12).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta")) ++
      (0 until 8).map(i => (100L + i, s"unique text number $i with words ${i * 7}")))
      .toDF("doc_id", "text")
    val metrics = new graft.run.Harness.StageMetrics(spark)
    try {
      val before = metrics.drain()
      val df = graft.ops.Dedup.minhashLsh(docs, maxBucket = 3)
      val jobs = metrics.drain().since(before).jobs
      assert(jobs == 0,
        s"building the dedup plan must not run any Spark job (ran $jobs)")
      df.count() // the single action
    } finally metrics.close()
    // the accumulator ticks on the broadcast-side aggregation; assert the
    // count arrived without any extra eager action (delivery is async)
    var tries = 0
    while (!graft.ops.CapBucketsLog.lastOverCount("minhashLsh").exists(_ > 0L)
        && tries < 50) {
      Thread.sleep(100); tries += 1
    }
    assert(graft.ops.CapBucketsLog.lastOverCount("minhashLsh").exists(_ > 0L),
      "expected the oversized-bucket count to be observed on the main action")
    spark.catalog.clearCache()
  }

  test("driver-side clustering fails fast beyond MaxDriverSeries (clean " +
      "error, not an OOM)") {
    val tooMany = Array.fill(graft.dist.PairwiseDist.MaxDriverSeries + 1)(
      Array(1.0, 2.0, 3.0, 4.0))
    val e = intercept[IllegalArgumentException] {
      graft.dist.PairwiseDist.condensed(spark, tooMany, 2)
    }
    assert(e.getMessage.contains("MaxDriverSeries"))
  }

  test("gap-fill densifies c_gappy to a full minute grid") {
    import spark.implicits._
    val transcripts = spark.createDataset(TranscriptGen.fixtureConversations(42L))
      .filter($"conv_id" === "c_gappy")
    val rate = Derive.turnRate(transcripts)
    val sparse = rate.count()
    val filled = Derive.gapFill(rate, Rollup.MicrosPerMin, Some(0.0))
    val n = filled.count()
    assert(sparse < n, s"expected densification, got $sparse -> $n")
    // full grid: max-min+1 minutes
    val mm = filled.agg(min($"bucket"), max($"bucket")).as[(Long, Long)].first()
    assert(n == (mm._2 - mm._1) / Rollup.MicrosPerMin + 1)
    // filled minutes exist with value 0
    assert(filled.where($"value" === 0.0).count() > 0)
  }

  test("gap-fill span guard clamps to the newest maxSteps buckets") {
    import spark.implicits._
    val pts = spark.createDataset(Seq(
      SeriesPoint("c1", "v", 0L, 1.0),                       // ancient point
      SeriesPoint("c1", "v", 1000L * Rollup.MicrosPerMin, 2.0),
      SeriesPoint("c1", "v", 1002L * Rollup.MicrosPerMin, 3.0)))
    val unbounded = Derive.gapFill(pts, Rollup.MicrosPerMin, Some(0.0))
    assert(unbounded.count() == 1003)
    val bounded = Derive.gapFill(pts, Rollup.MicrosPerMin, Some(0.0), maxSteps = 10)
      .orderBy($"bucket").collect()
    assert(bounded.length == 10, "span must clamp to the newest maxSteps buckets")
    assert(bounded.head.bucket == 993L * Rollup.MicrosPerMin)
    assert(bounded.last.bucket == 1002L * Rollup.MicrosPerMin)
    // observed values inside the window survive; created buckets fill
    assert(bounded.last.value == 3.0 &&
      bounded.map(_.value).sum == 5.0)
  }

  test("gap-fill keeps the grid join's on-grid semantics: off-grid " +
      "entries fill, grid ends at the last on-grid point") {
    import spark.implicits._
    val m = Rollup.MicrosPerMin
    // entry at 90 s is OFF the 60 s grid anchored at lo=0: the former
    // grid left-join never matched it, so the segment generation must
    // also emit a fill there (not the value) and must not shift the grid
    val pts = spark.createDataset(Seq(
      SeriesPoint("c1", "v", 0L, 1.0),
      SeriesPoint("c1", "v", m + m / 2, 2.0), // 90 s: off-grid
      SeriesPoint("c1", "v", 3 * m, 3.0),
      // hi itself off-grid: grid must stop at the last on-grid point
      SeriesPoint("c2", "v", 0L, 5.0),
      SeriesPoint("c2", "v", 2 * m + m / 2, 6.0), // 150 s: off-grid hi
      // single-entry series: exactly one row, value preserved
      SeriesPoint("c3", "v", 7 * m, 9.0)))
    val got = Derive.gapFill(pts, m, Some(0.0))
      .orderBy($"conv_id", $"bucket")
      .as[SeriesPoint].collect()
      .map(p => (p.conv_id, p.bucket / m, p.value))
    val want = Seq(
      ("c1", 0L, 1.0), ("c1", 1L, 0.0), ("c1", 2L, 0.0), ("c1", 3L, 3.0),
      ("c2", 0L, 5.0), ("c2", 1L, 0.0), ("c2", 2L, 0.0),
      ("c3", 7L, 9.0))
    assert(got.toSeq == want, s"got ${got.toSeq}")
  }

  test("rollup tiers chain losslessly and salting is invariant") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 10)
    val raw = transcripts.select($"conv_id", lit("token_len_t").as("kind"),
      unix_micros($"ts").as("bucket"), length($"text").cast("double").as("value"))
      .as[SeriesPoint]

    val m1 = Rollup.rollupRaw(raw, "1m")
    val h1 = Rollup.rollupTier(m1, "1h")
    val h1direct = Rollup.rollupRaw(raw, "1h")
    val cols = Seq("conv_id", "kind", "bucket", "cnt", "sum", "min", "max", "first", "last")
    val a = h1.orderBy("conv_id", "bucket").select(cols.map(col): _*).collect()
    val b = h1direct.orderBy("conv_id", "bucket").select(cols.map(col): _*).collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) =>
      for (i <- 0 until x.length)
        (x.get(i), y.get(i)) match {
          case (dx: Double, dy: Double) => assert(math.abs(dx - dy) < 1e-9, s"$x vs $y")
          case (ox, oy) => assert(ox == oy, s"$x vs $y")
        }
    }

    val salt1 = Rollup.rollupRaw(raw, "1m", saltBuckets = 1)
      .orderBy("conv_id", "bucket").collect()
    val salt16 = Rollup.rollupRaw(raw, "1m", saltBuckets = 16)
      .orderBy("conv_id", "bucket").collect()
    assert(salt1.toSeq.map(_.copy(sum = 0)) == salt16.toSeq.map(_.copy(sum = 0)))
    salt1.zip(salt16).foreach { case (x, y) => assert(math.abs(x.sum - y.sum) < 1e-6) }
  }

  test("tier rollup plans aggregate with HashAggregate only; the plain 1m " +
      "plan combines map-side under its single exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import spark.implicits._
    val pts = TranscriptGen.generatePoints(spark, 5)
    def physical(ds: org.apache.spark.sql.Dataset[_]): SparkPlan =
      ds.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
    val m1 = Rollup.rollupRaw(pts, "1m")
    val plans = Seq(
      "rollupRaw" -> m1,
      "rollupRaw salted" -> Rollup.rollupRaw(pts, "1m", saltBuckets = 4),
      "rollupTier" -> Rollup.rollupTier(m1, "1h"),
      "maintainTier" -> Rollup.maintainTier(m1, pts.where($"bucket" % 2 === 0), "1m"))
    for ((name, ds) <- plans) {
      val aggs = physical(ds).collect { case a: BaseAggregateExec => a }
      assert(aggs.nonEmpty && aggs.forall(_.isInstanceOf[HashAggregateExec]),
        s"$name: every aggregate must be a HashAggregate, got " +
          aggs.map(_.nodeName).mkString(", "))
    }
    val exchanges = physical(m1).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.length == 1, s"plain 1m plan: ${exchanges.length} exchanges")
    assert(exchanges.head.child.collect {
      case a: HashAggregateExec if a.aggregateExpressions.forall(_.mode == Partial) => a
    }.nonEmpty, "plain 1m plan: no partial aggregate under its exchange")
  }

  test("incremental tier maintenance equals full recompute (boundary " +
      "bucket, new buckets, empty delta)") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 10)
    val raw = transcripts.select($"conv_id", lit("token_len_t").as("kind"),
      unix_micros($"ts").as("bucket"), length($"text").cast("double").as("value"))
      .as[SeriesPoint]
    // cutoff mid-range and UNALIGNED to the 1m grid so the bucket
    // containing it holds base AND delta points (the merge boundary case);
    // later buckets are delta-only (the new-bucket case)
    val (lo, hi) = raw.agg(min($"bucket"), max($"bucket"))
      .as[(Long, Long)].first()
    val cut = lo + (hi - lo) / 2 + 31L * 1000000L
    val base = Rollup.rollupRaw(raw.where($"bucket" < cut), "1m")
    val maintained = Rollup.maintainTier(base, raw.where($"bucket" >= cut), "1m")
    val full = Rollup.rollupRaw(raw, "1m")
    val cols = Seq("conv_id", "kind", "bucket", "cnt", "sum", "min", "max", "first", "last")
    val a = maintained.orderBy("conv_id", "kind", "bucket").select(cols.map(col): _*).collect()
    val b = full.orderBy("conv_id", "kind", "bucket").select(cols.map(col): _*).collect()
    assert(a.length == b.length && a.length > 0)
    // the delta must actually split a bucket and create new ones
    val baseKeys = base.select($"conv_id", $"bucket").as[(String, Long)].collect().toSet
    val fullKeys = full.select($"conv_id", $"bucket").as[(String, Long)].collect().toSet
    assert((fullKeys -- baseKeys).nonEmpty, "delta created no new buckets")
    a.zip(b).foreach { case (x, y) =>
      for (i <- 0 until x.length)
        (x.get(i), y.get(i)) match {
          case (dx: Double, dy: Double) => assert(math.abs(dx - dy) < 1e-9, s"$x vs $y")
          case (ox, oy) => assert(ox == oy, s"$x vs $y")
        }
    }
    // empty delta: every base row passes through untouched, bit-identical
    val emptyDelta = raw.where(lit(false))
    val noop = Rollup.maintainTier(base, emptyDelta, "1m")
      .orderBy("conv_id", "kind", "bucket").collect()
    assert(noop.toSeq == base.orderBy("conv_id", "kind", "bucket").collect().toSeq)
  }

  test("chained incremental maintenance refreshes 1h/1d from the " +
      "maintained finer tier and equals full recompute") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 10)
    val raw = transcripts.select($"conv_id", lit("token_len_t").as("kind"),
      unix_micros($"ts").as("bucket"), length($"text").cast("double").as("value"))
      .as[SeriesPoint]
    val (lo, hi) = raw.agg(min($"bucket"), max($"bucket"))
      .as[(Long, Long)].first()
    val cut = lo + (hi - lo) / 2 + 31L * 1000000L
    val basePts = raw.where($"bucket" < cut)
    val base1m = Rollup.rollupRaw(basePts, "1m")
    val base1h = Rollup.rollupTier(base1m, "1h")
    val base1d = Rollup.rollupTier(base1h, "1d")
    val (m, h, d) = Rollup.maintainAllTiers(base1m, base1h, base1d,
      raw.where($"bucket" >= cut))
    val full1m = Rollup.rollupRaw(raw, "1m")
    val full1h = Rollup.rollupTier(full1m, "1h")
    val full1d = Rollup.rollupTier(full1h, "1d")
    val cols = Seq("conv_id", "kind", "bucket", "cnt", "sum", "min", "max", "first", "last")
    for ((got, want, t) <- Seq((m, full1m, "1m"), (h, full1h, "1h"), (d, full1d, "1d"))) {
      val a = got.orderBy("conv_id", "kind", "bucket").select(cols.map(col): _*).collect()
      val b = want.orderBy("conv_id", "kind", "bucket").select(cols.map(col): _*).collect()
      assert(a.length == b.length && a.length > 0, s"tier $t row count")
      a.zip(b).foreach { case (x, y) =>
        for (i <- 0 until x.length)
          (x.get(i), y.get(i)) match {
            case (dx: Double, dy: Double) =>
              assert(math.abs(dx - dy) < 1e-9, s"tier $t: $x vs $y")
            case (ox, oy) => assert(ox == oy, s"tier $t: $x vs $y")
          }
      }
    }
    // the refresh must NOT have rewritten untouched coarse buckets: rows
    // of the maintained 1d tier outside the delta's touched day-keys are
    // bit-identical objects to the base rows (pass-through anti-join)
    val step = Rollup.TierStep("1d")
    val touchedDays = raw.where($"bucket" >= cut)
      .select($"conv_id", $"kind",
        ($"bucket" - pmod($"bucket", lit(step))).as("bucket")).distinct()
      .as[(String, String, Long)].collect().toSet
    val passthrough = d.collect()
      .filterNot(r => touchedDays.contains((r.conv_id, r.kind, r.bucket)))
    val baseRows = base1d.collect()
      .map(r => (r.conv_id, r.kind, r.bucket) -> r).toMap
    assert(passthrough.nonEmpty)
    passthrough.foreach(r =>
      assert(baseRows((r.conv_id, r.kind, r.bucket)) == r))

    // the scale contract in the PLAN, not just the rows: with the base
    // tier read from STORAGE (the production shape — at 100 TB it is an
    // Iceberg table, not a lineage), the base contributes two pure scans
    // (anti + semi branch) and ZERO exchanges; every exchange in the
    // plan belongs to the DELTA side (its 1m aggregation + touched-key
    // distinct, each referenced twice, + the bounded affected-bucket
    // merge ⇒ ≤ 6), and both base joins are broadcasts.
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft_maintain_digest").toString
    base1m.write.mode("overwrite").parquet(baseDir)
    val baseStored = spark.read.parquet(baseDir).as[TierAgg]
    val dig1 = graft.run.PlanDigest.of(
      Rollup.maintainTier(baseStored, raw.where($"bucket" >= cut), "1m").toDF())
    assert(dig1.broadcasts >= 2, s"maintainTier digest: $dig1")
    assert(dig1.exchanges <= 6, s"maintainTier digest: $dig1")
    assert(dig1.scans >= 2, s"maintainTier digest: $dig1")
    // and the maintained rows off the stored base still equal recompute
    val viaStored = Rollup.maintainTier(baseStored, raw.where($"bucket" >= cut), "1m")
      .orderBy("conv_id", "kind", "bucket").select(cols.map(col): _*).collect()
    val wantRows = full1m
      .orderBy("conv_id", "kind", "bucket").select(cols.map(col): _*).collect()
    assert(viaStored.length == wantRows.length)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(baseDir))
  }

  test("maintainTier guards the touched-key broadcast: a delta over the " +
      "threshold falls back to a shuffle join with identical results") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 10)
    val raw = transcripts.select($"conv_id", lit("token_len_t").as("kind"),
      unix_micros($"ts").as("bucket"), length($"text").cast("double").as("value"))
      .as[SeriesPoint]
    val (lo, hi) = raw.agg(min($"bucket"), max($"bucket"))
      .as[(Long, Long)].first()
    val cut = lo + (hi - lo) / 2 + 31L * 1000000L
    val base = Rollup.rollupRaw(raw.where($"bucket" < cut), "1m")
    val delta = raw.where($"bucket" >= cut)
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    // default (micro-batch) path: the touched-key side carries an
    // explicit broadcast hint, so the base never shuffles
    val hinted = Rollup.maintainTier(base, delta, "1m")
    assert(hints(hinted.toDF()) >= 2, "expected broadcast hints on both joins")
    graft.util.StageCache.release(spark)
    // oversized delta (threshold forced to 1 key): NO broadcast hint —
    // the key set rides a regular join bounded by executor memory, and
    // the maintained rows still equal the full recompute exactly
    val guarded = Rollup.maintainTier(base, delta, "1m", maxBroadcastKeys = 1L,
      smallDeltaBytes = 0L)
    assert(hints(guarded.toDF()) == 0,
      "an over-threshold delta must not be broadcast-hinted")
    val cols = Seq("conv_id", "kind", "bucket", "cnt", "sum", "min", "max", "first", "last")
    val a = guarded.orderBy("conv_id", "kind", "bucket").select(cols.map(col): _*).collect()
    val b = Rollup.rollupRaw(raw, "1m")
      .orderBy("conv_id", "kind", "bucket").select(cols.map(col): _*).collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) =>
      for (i <- 0 until x.length)
        (x.get(i), y.get(i)) match {
          case (dx: Double, dy: Double) => assert(math.abs(dx - dy) < 1e-9, s"$x vs $y")
          case (ox, oy) => assert(ox == oy, s"$x vs $y")
        }
    }
    // maintainAllTiers under the same forced threshold: all tiers exact
    val base1h = Rollup.rollupTier(base, "1h")
    val base1d = Rollup.rollupTier(base1h, "1d")
    val (m2, h2, d2) = Rollup.maintainAllTiers(base, base1h, base1d, delta,
      maxBroadcastKeys = 1L, smallDeltaBytes = 0L)
    val full1h = Rollup.rollupTier(Rollup.rollupRaw(raw, "1m"), "1h")
    val full1d = Rollup.rollupTier(full1h, "1d")
    assert(m2.count() == Rollup.rollupRaw(raw, "1m").count())
    assert(h2.count() == full1h.count())
    assert(d2.count() == full1d.count())
    graft.util.StageCache.release(spark)
  }

  test("approx-percentile sketch (the 100 TB quantile path behind q41) " +
      "stays inside its rank-error bound under any partitioning") {
    import spark.implicits._
    val raw = TranscriptGen.generate(spark, 10)
      .select($"conv_id", length($"text").cast("double").as("value"))
    val n = raw.count()
    assert(n > 1000, s"need a group large enough to exercise the sketch, got $n")
    // accuracy=100 → rank error ≤ n/100; the exact values at the bounding
    // ranks bracket any correct sketch answer
    def exactAt(rank: Long): Double = raw.orderBy($"value")
      .limit((rank + 1).toInt).orderBy($"value".desc).limit(1)
      .as[(String, Double)].first()._2
    for (p <- Seq(0.5, 0.95)) {
      val target = (p * (n - 1)).toLong
      val eps = n / 100 + 1
      val loB = exactAt(math.max(0L, target - eps))
      val hiB = exactAt(math.min(n - 1, target + eps))
      for (parts <- Seq(1, 4, 13)) {
        val approx = raw.repartition(parts)
          .agg(expr(s"percentile_approx(value, $p, 100)")).as[Double].first()
        assert(approx >= loB && approx <= hiB,
          s"p=$p parts=$parts: $approx outside [$loB, $hiB]")
      }
    }
  }

  test("1m tier of c_sample turn-rate equals raw (one turn per ~minute)") {
    import spark.implicits._
    // c_const has exactly one turn per 30s -> 1m tier cnt=2 everywhere
    val transcripts = spark.createDataset(TranscriptGen.fixtureConversations(42L))
      .filter($"conv_id" === "c_const")
    val raw = transcripts.select($"conv_id", lit("t").as("kind"),
      unix_micros($"ts").as("bucket"), length($"text").cast("double").as("value"))
      .as[SeriesPoint]
    val m1 = Rollup.rollupRaw(raw, "1m").collect()
    assert(m1.forall(_.cnt == 2), m1.map(_.cnt).toSeq.take(5).toString)
    assert(m1.forall(r => r.min == 64.0 && r.max == 64.0))
  }

  test("colocated zero-shuffle rollup/assemble equals generic shuffle plan") {
    // the colocated rollup is gated against the generic plan by the
    // storage-layout spec; this one gates the colocated assemble
    val pts = TranscriptGen.generatePoints(spark, 40)
    val ga = Derive.assemble(pts).collect().map(r => (r._1, r._2) -> r).toMap
    val ca = Derive.assembleColocated(pts).collect().map(r => (r._1, r._2) -> r).toMap
    assert(ga.keySet == ca.keySet && ga.nonEmpty)
    ga.foreach { case (k, g) => assert(g._4.toSeq == ca(k)._4.toSeq && g._3 == ca(k)._3) }
  }

  test("string-free points generator equals length(text) derivation") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 15, includeFixtures = false)
    val fromText = transcripts.select($"conv_id", lit("tok").as("kind"),
      unix_micros($"ts".cast("timestamp")).as("bucket"),
      length($"text").cast("double").as("value")).as[SeriesPoint]
      .orderBy("conv_id", "bucket").collect().toSeq
    val direct = TranscriptGen.generatePoints(spark, 15)
      .orderBy("conv_id", "bucket").collect().toSeq
    assert(fromText == direct)
  }

  test("gorilla chunk codec round-trips through Spark") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 5)
    val pts = Derive.tokenLen(transcripts)
    val decoded = Chunks.decode(Chunks.encode(pts, maxPoints = 50))
    val a = pts.orderBy("conv_id", "bucket").collect().toSeq
    val b = decoded.orderBy("conv_id", "bucket").collect().toSeq
    assert(a == b)
  }

  test("chunk compaction merges fragmented micro-batch chunks losslessly") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 5)
    val pts = Derive.tokenLen(transcripts)
    // fragment hard (a micro-batch ingest shape), then compact back
    val fragmented = Chunks.encode(pts, maxPoints = 16)
    val compacted = Chunks.compact(fragmented, maxPoints = 4096)
    val nFrag = fragmented.count()
    val nComp = compacted.count()
    assert(nComp < nFrag / 10, s"compaction too weak: $nFrag -> $nComp")
    // content identical to the points and to a direct full-size encode
    val a = pts.orderBy("conv_id", "bucket").collect().toSeq
    val b = Chunks.decode(compacted).orderBy("conv_id", "bucket").collect().toSeq
    assert(a == b)
    // deterministic boundaries: compacting the fragments equals encoding
    // the raw points at the same chunk size, byte-for-byte
    val direct = Chunks.encode(pts, maxPoints = 4096)
      .orderBy("conv_id", "kind", "chunkIdx").collect()
    val viaCompact = compacted.orderBy("conv_id", "kind", "chunkIdx").collect()
    assert(direct.length == viaCompact.length)
    direct.zip(viaCompact).foreach { case (x, y) =>
      assert(x.conv_id == y.conv_id && x.kind == y.kind &&
        x.chunkIdx == y.chunkIdx && x.startBucket == y.startBucket &&
        x.count == y.count &&
        java.util.Arrays.equals(x.tsBytes, y.tsBytes) &&
        java.util.Arrays.equals(x.valBytes, y.valBytes))
    }
  }

  test("profile IO round-trips through JSON and Parquet (ref io/__io.py)") {
    import spark.implicits._
    val rows = DistributedMp.mpxProfiles(
      spark.createDataset(Seq(
        DistributedMp.SeriesRow("c_sample", "gap_s", 0L, sampledata))), 32, "raw")
    val dir = java.nio.file.Files.createTempDirectory("graft_io").toString
    for (ext <- Seq("json", "parquet")) {
      val path = s"$dir/profiles.$ext"
      graft.run.ProfileIO.write(rows, path)
      val back = graft.run.ProfileIO.read(spark, path).collect()
      val orig = rows.collect()
      assert(back.length == orig.length)
      assertAlmostEqual(back.head.mp, orig.head.mp, decimal = 12)
      assert(back.head.pi.toSeq == orig.head.pi.toSeq)
      assert(back.head.w == 32 && back.head.algorithm == "mpx")
    }
  }

  test("gorilla bitstream: adversarial doubles and timestamps") {
    val vals = Array(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      1.0, -1.0, math.Pi, 1e308, -1e308, 4.9e-324, 0.1, 0.1, 0.1,
      Double.MaxValue, Double.MinValue, 42.0, 42.0)
    val dec = Gorilla.decodeValues(Gorilla.encodeValues(vals), vals.length)
    assert(dec.toSeq.map(java.lang.Double.doubleToRawLongBits) ==
      vals.toSeq.map(java.lang.Double.doubleToRawLongBits))
    val ts = Array(0L, 60L, 120L, 180L, 240L, 240L, 250L, 1000000L,
      Long.MaxValue / 2, Long.MaxValue / 2 + 3)
    assert(Gorilla.decodeTimestamps(Gorilla.encodeTimestamps(ts), ts.length).toSeq == ts.toSeq)
    // compression actually compresses a regular grid
    val grid = Array.tabulate(10000)(i => TranscriptGen.EpochMicros + i * 60000000L)
    val enc = Gorilla.encodeTimestamps(grid)
    assert(enc.length < grid.length, s"ts bytes ${enc.length} for ${grid.length} points")
  }

  test("colocated rollup fails fast on input that violates the sorted " +
      "contract instead of silently emitting split buckets") {
    import spark.implicits._
    val t0 = TranscriptGen.EpochMicros
    def pt(c: String, t: Long) = SeriesPoint(c, "tok", t, 1.0)
    // time goes backwards within one conversation
    val unsorted = spark.createDataset(Seq(
      pt("c1", t0 + 120000000L), pt("c1", t0))).coalesce(1)
    val e1 = intercept[org.apache.spark.SparkException] {
      Rollup.rollupAllColocated(unsorted).collect()
    }
    assert(e1.getMessage.contains("not time-sorted"), e1.getMessage)
    // a conversation reappears after another one's rows (shuffled layout)
    val interleaved = spark.createDataset(Seq(
      pt("c1", t0), pt("c2", t0), pt("c1", t0 + 60000000L))).coalesce(1)
    val e2 = intercept[org.apache.spark.SparkException] {
      Rollup.rollupAllColocated(interleaved).collect()
    }
    assert(e2.getMessage.contains("not colocated-sorted"), e2.getMessage)
    // valid sorted input still streams through untouched
    val ok = spark.createDataset(Seq(
      pt("c1", t0), pt("c1", t0 + 60000000L), pt("c2", t0))).coalesce(1)
    assert(Rollup.rollupAllColocated(ok).collect().count(_.tier == "1m") == 3)
  }

  test("operator-internal persisted stages release through StageCache: no " +
      "storage left behind without a global clearCache") {
    import spark.implicits._
    val docs = (0 until 40).map(i =>
      (i.toLong, s"some document number $i with shared words " +
        (if (i % 2 == 0) "alpha beta gamma" else "delta epsilon zeta")))
      .toDF("doc_id", "text")
    graft.ops.Dedup.pipeline(docs).count()
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        (graft.ingest.TranscriptGen.splitmix64(i * 31L + j) % 1000L) / 1000.0f))
    }.toDF("vec_id", "embedding")
    graft.ops.Similarity.ivfTopK(vecs, vecs.where($"vec_id" < 5), 3,
      kCells = 4, nprobe = 2).count()
    assert(graft.util.StageCache.registeredCount(spark) > 0,
      "expected the builders to register their persisted stages")
    graft.util.StageCache.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "expected no persisted storage after StageCache.release: " +
        spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", "))
  }
}
