package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
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

  /** A Dataset's physical plan before AQE re-plans it. */
  private def physical(ds: Dataset[_]): SparkPlan = ds.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

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
    // a stored transcript table: every stored kind comes from one scan of
    // it and one exchange, which groups each conversation into one task
    withTempDir("graft_golden") { dir =>
      spark.createDataset(TranscriptGen.fixtureConversations(42L)).write.parquet(s"$dir/t")
      val transcripts = spark.read.parquet(s"$dir/t").as[Transcript]
      val plan = physical(Derive.series(transcripts))
      assert(plan.collect { case s: FileSourceScanExec => s }.size == 1)
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning.toString }
      assert(exchanges.size == 1 && exchanges.head.startsWith("hashpartitioning(conv_id"),
        exchanges)
      val gap = Derive.series(transcripts.filter($"conv_id" === "c_sample"))
        .where($"kind" === Derive.GapS)
      val series = Derive.assemble(gap).collect()
      assert(series.length == 1)
      val values = series.head.values
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
  }

  /** The declarative derivation `Derive.series` replaced, kept as its
    * reference: the per-turn kinds from one `lag` over the turn order,
    * unioned with the per-minute turn count densified by `gapFill`.
    */
  private def seriesReference(transcripts: Dataset[Transcript]): Dataset[SeriesPoint] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def point(kind: String, bucket: org.apache.spark.sql.Column,
        value: org.apache.spark.sql.Column) =
      struct(lit(kind).as("kind"), bucket.cast("long").as("bucket"), value.as("value"))
    val perTurn = transcripts
      .select($"conv_id", $"turn_idx", $"ts", Derive.tokenLength.as("len"),
        lag($"ts", 1).over(Window.partitionBy("conv_id").orderBy("turn_idx")).as("prev_ts"))
      .select($"conv_id", explode(array_compact(array(
        point(Derive.TokenLenT, unix_micros($"ts"), $"len"),
        point(Derive.TokenLen, $"turn_idx", $"len"),
        when($"prev_ts".isNotNull, point(Derive.GapS, $"turn_idx" - 1,
          (unix_micros($"ts") - unix_micros($"prev_ts")).cast("double") / 1e6))))).as("p"))
      .select($"conv_id", $"p.kind", $"p.bucket", $"p.value")
      .as[SeriesPoint]
    val turnRate = transcripts
      .groupBy($"conv_id", unix_micros(date_trunc("minute", $"ts")).as("bucket"))
      .agg(count(lit(1)).cast("double").as("value"))
      .select($"conv_id", lit(Derive.TurnRate).as("kind"), $"bucket", $"value")
      .as[SeriesPoint]
    perTurn.union(Derive.gapFill(turnRate, Rollup.MicrosPerMin, 0.0))
  }

  test("one-pass series derivation equals the lag + gap-fill reference, " +
      "nulls and out-of-order timestamps included") {
    import spark.implicits._
    val t0 = TranscriptGen.EpochMicros
    val m = Rollup.MicrosPerMin
    def turn(conv: String, i: Int, text: String, us: Option[Long]) =
      Transcript(conv, i, "user", text, null, us.map(TranscriptGen.tsFromMicros).orNull)
    val odd = Seq(
      // ts not increasing in turn_idx: negative gaps, minutes out of order
      turn("x_backwards", 0, "aaaa", Some(t0 + 5 * m + 17)),
      turn("x_backwards", 1, "bb", Some(t0 + m + 3)),
      turn("x_backwards", 2, "c", Some(t0 + 7 * m + 250000)),
      turn("x_backwards", 3, "dddddd", Some(t0 + m + 9)),
      turn("x_one", 0, "a single turn", Some(t0 + 42 * m)),
      // a null text, then a null ts, then turns after it
      turn("x_nulls", 0, "first", Some(t0)),
      turn("x_nulls", 1, null, Some(t0 + 30000000L)),
      turn("x_nulls", 2, "a turn without a time", None),
      turn("x_nulls", 3, "after the null ts", Some(t0 + 4 * m + 1)),
      turn("x_nulls", 4, "z", Some(t0 + 6 * m)))
    val transcripts = TranscriptGen.generate(spark, 20).union(spark.createDataset(odd))
    val got = Derive.series(transcripts).toDF()
    val want = seriesReference(transcripts).toDF()
    assert(got.exceptAll(want).count() == 0, "points the reference lacks")
    assert(want.exceptAll(got).count() == 0, "reference points missing")
    // the edge cases are present, so the equality covers them
    val nulls = got.where($"conv_id" === "x_nulls")
    assert(nulls.where($"value".isNull).count() == 3) // 2 for the text, 1 gap for the ts
    assert(nulls.where($"bucket".isNull).count() == 1)
    assert(got.where($"conv_id" === "x_one" && $"kind" === Derive.GapS).count() == 0)
    assert(got.where($"conv_id" === "x_backwards" && $"kind" === Derive.GapS &&
      $"value" < 0).count() == 2)
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

    // STOMP, also on a series with a NaN in its first window and one in a
    // later row tile: a NaN window is never a query row, in either branch
    val withNan = sampledata.clone()
    withNan(3) = Double.NaN
    withNan(400) = Double.NaN
    for (values <- Seq(sampledata, withNan)) {
      val one = spark.createDataset(Seq(SeriesRow("c_sample", "gap_s", 0L, values)))
      val sSplit = DistributedMp.stompProfiles(one, 32, "raw", splitThreshold = 100,
        tileSize = 190).collect().head
      val sUnsplit = DistributedMp.stompProfiles(one, 32, "raw").collect().head
      assertAlmostEqual(sSplit.mp, sUnsplit.mp, decimal = 8)
      assertAlmostEqual(sSplit.lmp, sUnsplit.lmp, decimal = 8)
      assertAlmostEqual(sSplit.rmp, sUnsplit.rmp, decimal = 8)
      for ((name, got, want) <- Seq(("pi", sSplit.pi, sUnsplit.pi),
          ("lpi", sSplit.lpi, sUnsplit.lpi), ("rpi", sSplit.rpi, sUnsplit.rpi))) {
        val bad = got.indices.filter(i => got(i) != want(i))
        assert(bad.isEmpty, s"tiled stomp $name differs at ${bad.take(10)}")
      }
    }
  }

  test("tier retention keeps exactly the post-cutoff buckets (north-rule " +
      "retention: fine tiers keep short horizons)") {
    import spark.implicits._
    val transcripts = spark.createDataset(TranscriptGen.fixtureConversations(42L))
    val pts = tokenLenT(transcripts)
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

  test("mixed-length input: the short and tile branches of one call union to " +
      "the unsplit rows, and a series below 2w emits no row on either side") {
    import spark.implicits._
    val series = Seq(("long", 0, 875), ("s90", 100, 90), ("s75", 300, 75),
        ("s65", 500, 65), ("s20", 700, 20))
      .map { case (id, off, n) => SeriesRow(id, "v", 0L, sampledata.slice(off, off + n)) }
    val ds = spark.createDataset(series)
    def sameRows(got: Array[MpProfileRow], want: Array[MpProfileRow],
        windows: Seq[Int]): Unit = {
      // one row per (series, window) with n >= 2w, whichever branch ran it
      val eligible = for (s <- series; w <- windows if s.values.length >= 2 * w)
        yield (s.conv_id, w)
      assert(got.map(r => (r.conv_id, r.w)).toSet == eligible.toSet)
      assert(got.length == eligible.length && want.length == eligible.length)
      val byKey = want.map(r => (r.conv_id, r.w) -> r).toMap
      for (g <- got) {
        val u = byKey((g.conv_id, g.w))
        for ((a, b) <- Seq((g.mp, u.mp), (g.lmp, u.lmp), (g.rmp, u.rmp)))
          assertAlmostEqual(a, b, decimal = 8)
        for ((a, b) <- Seq((g.pi, u.pi), (g.lpi, u.lpi), (g.rpi, u.rpi)))
          assert(a.toSeq == b.toSeq, s"${g.conv_id} w=${g.w}: indices differ")
      }
    }
    // splitThreshold 100: only "long" tiles; with one window no series can
    // be both >= splitThreshold and < 2w, so the tile-side drop is covered
    // by the two-window skimp call below
    sameRows(DistributedMp.mpxProfiles(ds, 32, "raw", splitThreshold = 100,
        tileSize = 190).collect(),
      DistributedMp.mpxProfiles(ds, 32, "raw").collect(), Seq(32))
    sameRows(DistributedMp.stompProfiles(ds, 32, "raw", splitThreshold = 100,
        tileSize = 190).collect(),
      DistributedMp.stompProfiles(ds, 32, "raw").collect(), Seq(32))
    // splitThreshold 70: "s75" takes the tile branch yet is too short for
    // w=40, "s65" takes the short branch and is too short for w=40
    sameRows(DistributedMp.skimpProfiles(ds, Array(16, 40), "raw",
        splitThreshold = 70, tileSize = 190).collect(),
      DistributedMp.skimpProfiles(ds, Array(16, 40), "raw").collect(), Seq(16, 40))

    // AB pairs: eligible when both sides hold a window; one short and one
    // tiled pair are eligible, one ineligible pair sits on each side. The
    // tiled pair's B side is random, not a slice of its A side: an exact
    // repeat has distance ~0, where sqrt(2w(1-rho)) turns a 1-ulp Pearson
    // difference into ~5e-8, beyond any 1e-8 gate on Euclidean values
    val rng = new java.util.Random(11)
    val byId = series.map(s => s.conv_id -> s.values).toMap +
      ("r90" -> Array.fill(90)(rng.nextGaussian()))
    val pairs = spark.createDataset(Seq(("long", "r90"), ("s90", "s75"),
        ("s20", "s90"), ("long", "s20"))
      .map { case (a, b) => DistributedMp.AbPair(a, b, byId(a), byId(b)) })
    val got = DistributedMp.mpxAbProfiles(pairs, 32, splitThreshold = 100,
      tileSize = 150).collect()
    val want = DistributedMp.mpxAbProfiles(pairs, 32).collect()
      .map(r => (r.conv_a, r.conv_b) -> r).toMap
    assert(got.map(r => (r.conv_a, r.conv_b)).toSet == Set(("long", "r90"), ("s90", "s75")))
    assert(got.length == 2 && want.size == 2)
    for (g <- got) {
      val u = want((g.conv_a, g.conv_b))
      assertAlmostEqual(g.mpA, u.mpA, decimal = 8)
      assertAlmostEqual(g.mpB, u.mpB, decimal = 8)
      assert(g.piA.toSeq == u.piA.toSeq && g.piB.toSeq == u.piB.toSeq,
        s"${g.conv_a}/${g.conv_b}: indices differ")
    }
  }

  test("plan shape: a caller-proven all-short input plans no shuffle; the " +
      "tile path keeps its spread and merge exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
    def exchanges(d: org.apache.spark.sql.Dataset[_]): Seq[ShuffleExchangeExec] =
      (d.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }).collect { case e: ShuffleExchangeExec => e }
    def shuffles(d: org.apache.spark.sql.Dataset[_]): Int = exchanges(d).size
    // the tile spread alone has a fixed partition count, so AQE cannot
    // coalesce a few large tiles into one task
    def fixedCount(d: org.apache.spark.sql.Dataset[_]): Int =
      exchanges(d).count(_.shuffleOrigin == REPARTITION_BY_NUM)
    val ds = spark.createDataset(Seq(SeriesRow("a", "v", 0L, sampledata)))
    val pairs = spark.createDataset(Seq(
      DistributedMp.AbPair("x", "y", sampledata, sampledata.take(300))))
    // the q07-q13/q28 builders pass maxSeriesLen = OracleSqlGen.Cap
    assert(shuffles(DistributedMp.mpxProfiles(ds, 32, "raw", maxSeriesLen = 1000)) == 0)
    assert(shuffles(DistributedMp.mpxAbProfiles(pairs, 32, maxSeriesLen = 1000)) == 0)
    // tile spread + segment merge; the AB join regroups its two sides
    assert(shuffles(DistributedMp.mpxProfiles(ds, 32, "raw")) == 2)
    assert(shuffles(DistributedMp.mpxAbProfiles(pairs, 32)) == 3)
    assert(fixedCount(DistributedMp.mpxProfiles(ds, 32, "raw")) == 1)
    assert(fixedCount(DistributedMp.mpxAbProfiles(pairs, 32)) == 1)
    assert(fixedCount(DistributedMp.stompProfiles(ds, 32, "raw")) == 1)
  }

  test("a row that breaks the caller's maxSeriesLen bound throws, never drops") {
    import spark.implicits._
    val ds = spark.createDataset(Seq(SeriesRow("a", "v", 0L, sampledata)))
    // 875 points: at or over splitThreshold, but the caller claimed <= 50,
    // so no tile branch is planned that could take the row
    val e = intercept[Exception] {
      withoutTaskFailureLogs(DistributedMp.mpxProfiles(ds, 32, "raw",
        splitThreshold = 100, maxSeriesLen = 50).collect())
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("a row of size 875 is at or over " +
      "splitThreshold 100, but the caller bound maxSeriesLen = 50")), e.toString)
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

  /** Asserts the colocated rollup of `points`, collected, equals the batch
    * chain's three tiers, rows and values, under EXCEPT ALL both ways;
    * returns the row count. Collected first, because that plan is the
    * rollup's own: under an aggregate (a count, the EXCEPT ALL) Spark
    * keeps a bucketed scan it drops when nothing above needs it. Inputs
    * have integral values and distinct times per series, so sums and
    * first/last have one right answer.
    */
  private def assertColocatedEqualsChain(points: Dataset[SeriesPoint]): Long = {
    val got = spark.createDataFrame(Rollup.rollupAllColocated(points).collect().toSeq)
    val want = Rollup.rollupChain(points).map(_.toDF()).reduce(_ union _)
    val (extra, missing) = (got.exceptAll(want).count(), want.exceptAll(got).count())
    assert(extra == 0 && missing == 0,
      s"colocated vs chain: $extra extra, $missing missing of ${want.count()} rows")
    want.count()
  }

  /** The scan of a colocated plan, which must keep its bucketed read and
    * plan no exchange: the layout, not a shuffle, provides the grouping.
    */
  private def assertBucketedNoExchange(ds: Dataset[_]): Unit = {
    val plan = physical(ds)
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"colocated rollup over the bucketed table must not shuffle:\n$plan")
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1 && scans.head.bucketedScan &&
      scans.head.metadata("Bucketed") == "true", s"not a bucketed scan:\n$plan")
  }

  test("a bucketed+sorted table (the 100 TB layout) feeds the zero-shuffle " +
      "colocated rollup straight from storage") {
    import spark.implicits._
    val fromText = tokenLenT(TranscriptGen.generate(spark, 30))
    for (raw <- Seq(fromText, TranscriptGen.generatePoints(spark, 40))) {
      // destroy any incidental clustering, then write the engine's scale
      // layout — the parquet stand-in for the Iceberg bucket(conv_id) table
      withTempDir("graft_bucketed") { dir =>
        Rollup.writeColocated(raw.orderBy(rand(7)), 8, "points_bucketed",
          s"$dir/points_bucketed")
        try {
          val scanned = spark.table("points_bucketed").as[SeriesPoint]
          assertBucketedNoExchange(Rollup.rollupAllColocated(scanned))
          assert(assertColocatedEqualsChain(scanned) > 0)
        } finally spark.sql("DROP TABLE IF EXISTS points_bucketed")
      }
    }
  }

  test("dedup builders are one-action by default: construction runs zero " +
      "jobs (lazy persists) and the bucket-cap accumulator fills in on the " +
      "query's own action") {
    import spark.implicits._
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
    // the accumulator ticks in the cap's bucket-size filter; assert the
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
    // the minutes holding a turn, against the stored (gap-filled) turn rate
    val sparse = transcripts.select(date_trunc("minute", $"ts")).distinct().count()
    val filled = Derive.series(transcripts).where($"kind" === Derive.TurnRate)
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
    val unbounded = Derive.gapFill(pts, Rollup.MicrosPerMin, 0.0)
    assert(unbounded.count() == 1003)
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
    val got = Derive.gapFill(pts, m, 0.0)
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
    val raw = tokenLenT(transcripts)

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
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import spark.implicits._
    // points with no declared layout (generatePoints' hash partitioning
    // by conv_id would already cluster the 1m grouping)
    val pts = spark.createDataset((0L until 5).flatMap(TranscriptGen.genPoints(42L, _)))
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
    val raw = tokenLenT(transcripts)
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
    graft.util.StageCache.release(spark)
  }

  test("chained incremental maintenance refreshes 1h/1d from the " +
      "maintained finer tier and equals full recompute") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 10)
    val raw = tokenLenT(transcripts)
    val (lo, hi) = raw.agg(min($"bucket"), max($"bucket"))
      .as[(Long, Long)].first()
    val cut = lo + (hi - lo) / 2 + 31L * 1000000L
    val basePts = raw.where($"bucket" < cut)
    val base1m = Rollup.rollupRaw(basePts, "1m")
    val base1h = Rollup.rollupTier(base1m, "1h")
    val base1d = Rollup.rollupTier(base1h, "1d")
    val Seq(m, h, d) = Rollup.maintainAllTiers(Seq(base1m, base1h, base1d),
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
    // merge ⇒ ≤ 6), and both base joins are broadcasts. The bound holds
    // for a delta fed straight from the derivation (a lineage, which
    // maintainTier persists once: the derivation's exchange sits in the
    // cached plan, not under each of the delta's reads) and for one read
    // back from storage.
    withTempDir("graft_maintain_digest") { baseDir =>
      base1m.write.mode("overwrite").parquet(s"$baseDir/base")
      raw.where($"bucket" >= cut).write.mode("overwrite").parquet(s"$baseDir/delta")
      val baseStored = spark.read.parquet(s"$baseDir/base").as[TierAgg]
      val deltaStored = spark.read.parquet(s"$baseDir/delta").as[SeriesPoint]
      for (delta <- Seq(raw.where($"bucket" >= cut), deltaStored)) {
        val dig1 = graft.run.PlanDigest.of(
          Rollup.maintainTier(baseStored, delta, "1m").toDF())
        assert(dig1.broadcasts >= 2, s"maintainTier digest: $dig1")
        assert(dig1.exchanges <= 6, s"maintainTier digest: $dig1")
        assert(dig1.scans >= 2, s"maintainTier digest: $dig1")
      }
      // and the maintained rows off the stored base still equal recompute
      val viaStored = Rollup.maintainTier(baseStored, raw.where($"bucket" >= cut), "1m")
        .orderBy("conv_id", "kind", "bucket").select(cols.map(col): _*).collect()
      val wantRows = full1m
        .orderBy("conv_id", "kind", "bucket").select(cols.map(col): _*).collect()
      assert(viaStored.length == wantRows.length)
    }
    graft.util.StageCache.release(spark)
  }

  test("maintainTier guards the touched-key broadcast: a delta over the " +
      "threshold falls back to a shuffle join with identical results") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 10)
    val raw = tokenLenT(transcripts)
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
    val Seq(m2, h2, d2) = Rollup.maintainAllTiers(Seq(base, base1h, base1d), delta,
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
      .select($"conv_id", Derive.tokenLength.as("value"))
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
    val raw = tokenLenT(transcripts)
    val m1 = Rollup.rollupRaw(raw, "1m").collect()
    assert(m1.forall(_.cnt == 2), m1.map(_.cnt).toSeq.take(5).toString)
    assert(m1.forall(r => r.min == 64.0 && r.max == 64.0))
  }

  test("colocated zero-shuffle rollup/assemble equals generic shuffle plan") {
    import spark.implicits._
    // the colocated rollup is gated against the generic plan by the
    // storage-layout spec; this one gates the colocated assemble: one row
    // per series, whatever the input's layout
    def assembled(pts: Dataset[SeriesPoint]) = {
      val ga = Derive.assemble(pts).collect()
        .map(r => (r.conv_id, r.kind, r.startBucket, r.values.toSeq)).sortBy(r => (r._1, r._2))
      val ca = Derive.assembleColocated(pts).collect()
        .map(r => (r._1, r._2, r._3, r._4.toSeq)).sortBy(r => (r._1, r._2))
      assert(ga.nonEmpty && ca.toSeq == ga.toSeq, s"colocated ${ca.toSeq} vs generic ${ga.toSeq}")
      ca.toSeq
    }
    assembled(TranscriptGen.generatePoints(spark, 40))
    def inPartitions(n: Int, pts: SeriesPoint*) =
      spark.createDataset(spark.sparkContext.parallelize(pts, n))
    // one partition whose series interleave: (c1,a) (c1,b) (c1,a) (c1,a)
    assert(assembled(inPartitions(1, SeriesPoint("c1", "a", 0L, 1.0),
      SeriesPoint("c1", "b", 0L, 5.0), SeriesPoint("c1", "a", 1L, 2.0),
      SeriesPoint("c1", "a", 2L, 3.0))) ==
      Seq(("c1", "a", 0L, Seq(1.0, 2.0, 3.0)), ("c1", "b", 0L, Seq(5.0))))
    // one 4-point series split across two partitions
    assert(assembled(inPartitions(2, SeriesPoint("c1", "v", 1L, 2.0),
      SeriesPoint("c1", "v", 3L, 4.0), SeriesPoint("c1", "v", 0L, 1.0),
      SeriesPoint("c1", "v", 2L, 3.0))) == Seq(("c1", "v", 0L, Seq(1.0, 2.0, 3.0, 4.0))))
  }

  test("string-free points generator equals length(text) derivation") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 15, includeFixtures = false)
    val fromText = tokenLenT(transcripts).map(_.copy(kind = "tok"))
      .orderBy("conv_id", "bucket").collect().toSeq
    val direct = TranscriptGen.generatePoints(spark, 15)
      .orderBy("conv_id", "bucket").collect().toSeq
    assert(fromText == direct)
  }

  test("gorilla chunk codec round-trips through Spark") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 5)
    val pts = Derive.series(transcripts).where($"kind" === Derive.TokenLen)
    val decoded = Chunks.decode(Chunks.encode(pts, maxPoints = 50))
    val a = pts.orderBy("conv_id", "bucket").collect().toSeq
    val b = decoded.orderBy("conv_id", "bucket").collect().toSeq
    assert(a == b)
  }

  test("chunk compaction merges fragmented micro-batch chunks losslessly") {
    import spark.implicits._
    val transcripts = TranscriptGen.generate(spark, 5)
    val pts = Derive.series(transcripts).where($"kind" === Derive.TokenLen)
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
    withTempDir("graft_io") { dir =>
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

  test("colocated rollup equals rollupChain on unsorted, interleaved and " +
      "cross-partition-split input: the plan, not the caller, groups it") {
    import spark.implicits._
    val pts = spark.createDataset((0L until 12).flatMap(TranscriptGen.genPoints(42L, _)))
    val inputs = Seq(
      // time goes backwards within each conversation
      "unsorted" -> pts.orderBy(rand(3)).coalesce(1),
      // conversations interleave, each in time order
      "interleaved" -> pts.orderBy($"bucket").coalesce(1),
      // each conversation split over partitions, every piece sorted
      "split" -> pts.repartitionByRange(4, $"bucket")
        .sortWithinPartitions($"conv_id", $"kind", $"bucket"))
    for ((name, input) <- inputs)
      withClue(s"$name: ")(assert(assertColocatedEqualsChain(input) > 0))
  }

  test("the generator states its layout in the plan: the colocated rollup " +
      "over its cached output plans no exchange and no sort") {
    import org.apache.spark.sql.execution.SortExec
    val points = TranscriptGen.generatePoints(spark, 40).persist()
    try {
      // materialized first, as Bench does before its timed rollup leg: an
      // adaptive cached plan reports its partitioning only once it has run
      points.count()
      // InMemoryTableScanExec is a leaf: collect stops at the cached scan
      val plan = physical(Rollup.rollupAllColocated(points))
      val added = plan.collect { case e: ShuffleExchangeExec => e; case s: SortExec => s }
      assert(added.isEmpty, s"above the cached scan:\n$plan")
      assert(assertColocatedEqualsChain(points) > 0)
    } finally points.unpersist()
  }

  test("a colocated table of small row groups, read in file splits, keeps " +
      "its bucketed scan: every bucket is one row, not one per split") {
    // 8 KiB row groups read at 16 KiB splits: without the plan's
    // clustering requirement Spark drops the bucketed read, splits each
    // bucket file over tasks, and one bucket becomes one row per piece
    import spark.implicits._
    withTempDir("graft_rowgroups") { dir =>
      val table = "points_small_row_groups"
      spark.conf.set("parquet.block.size", "8192")
      try Rollup.writeColocated(TranscriptGen.generatePoints(spark, 200), 4, table,
        s"$dir/$table")
      finally spark.conf.unset("parquet.block.size")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
      try {
        val scanned = spark.table(table).as[SeriesPoint]
        // a plain scan, which needs no clustering, does split
        assert(scanned.toDF().rdd.getNumPartitions > 4)
        assert(assertColocatedEqualsChain(scanned) == 25286) // distinct tier keys
        assertBucketedNoExchange(Rollup.rollupAllColocated(scanned))
      } finally {
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.sql(s"DROP TABLE IF EXISTS $table")
      }
    }
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
