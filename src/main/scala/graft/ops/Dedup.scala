package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import graft.ops.ColSyntax._

/** Deduplication operators over a documents table: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification. All stages are shuffle-lean:
  * candidate generation goes through band/bucket equi-joins (hash
  * shuffles on small keys, id-only payloads), never an all-pairs cross
  * join; array payloads (shingle sets) are re-joined by id only for the
  * verify stage.
  *
  * Hashing is md5-based (JDK MessageDigest in the typed kernels) so the
  * driver's DuckDB oracle can replay signatures, banding, and verification
  * byte-for-byte (both engines emit lowercase md5 hex).
  *
  * Cache lifecycle: these builders persist their shared stages
  * (signatures, bucket keys) so multi-consumer plans compute them once.
  * Every such handle registers with [[graft.util.StageCache]]; call
  * `StageCache.release(spark)` after the consuming action to free exactly
  * these stages (no global `clearCache()` needed — the Verify/Bench
  * harnesses release between queries/reps).
  */
object Dedup {

  /** Default LSH bucket-size cap: a degenerate bucket (e.g. millions of
    * exact duplicates sharing every band) makes the candidate equi-join
    * quadratic inside one reducer. Buckets above the cap are DROPPED from
    * candidate generation — with an eagerly-logged count, never silently —
    * because pairs inside a mass-duplicate bucket are exactly what
    * `exact`-first staging (see [[pipeline]]) already removes.
    */
  val DefaultMaxBucket = 1000

  /** The MinHash-LSH (q20/q33), SimHash (q21) and [[embeddingDups]]
    * hyperplane-LSH (q25/q39) shapes, read by their oracles too. The
    * builders take none of them as a parameter: a query built with any
    * other value would have no oracle.
    */
  final val NumHashes = 16
  final val Bands = 8
  final val ShingleK = 3
  final val MaxHamming = 3
  final val EmbedPlanes = 12
  final val EmbedTables = 4
  final val EmbedSeed = 7L

  /** Drop (band-)buckets larger than `maxBucket` from candidate
    * generation. One window over the banded rows, partitioned by the bucket
    * key, gives each row its bucket's size, so the banded rows (for
    * MinHash, one md5 per band per document) are derived once and the
    * filter needs no second pass over them. The count of dropped buckets is
    * NOT counted eagerly (that would make every dedup query two Spark
    * actions): the filter ticks a named accumulator once per oversized
    * bucket (on its first row) when the caller's OWN action materializes
    * the plan, and a session-wide QueryExecutionListener logs any increase
    * after each action — no silent caps, one action per query. (An
    * `observe()` metric does not survive here: the capped output forks
    * into both candidate-join sides, and the driver's observedMetrics read
    * whichever duplicated CollectMetrics instance did NOT execute.)
    *
    * The capped output is persisted: every caller immediately forks it
    * into the two sides of the candidate equi-join, and an unpersisted
    * fork would run the banding + window twice (and tick the accumulator
    * twice). Behind the cache the cap materializes once. The persist
    * handle registers with [[graft.util.StageCache]] — release it after
    * the consuming action.
    */
  private def capBuckets(banded: DataFrame, keyCols: Seq[String],
      maxBucket: Int, what: String): DataFrame = {
    // explicit opt-out: uncapped, but still forked twice — forked() keeps an
    // input the caller already cached (embeddingDups' keys) as it is
    if (maxBucket <= 0) return graft.util.StageCache.forked(banded)
    val acc = CapBucketsLog.accumulatorFor(banded.sparkSession, what, maxBucket)
    val tick = udf(() => { acc.add(1L); false }).asNondeterministic()
    // one window spec for both columns (one Window operator, one sort):
    // every row of a bucket ties on the ordering, so exactly one is row 1
    val bucket = Window.partitionBy(keyCols.map(col): _*).orderBy(keyCols.map(col): _*)
    // CaseWhen evaluates its branches in order, so only the first row of
    // an oversized bucket reaches the tick
    graft.util.StageCache.persist(banded
      .withColumn("_bsize", count(lit(1)).over(
        bucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("_brow", row_number().over(bucket))
      .where(when($"_bsize" <= maxBucket, lit(true))
        .when($"_brow" === 1, tick()).otherwise(lit(false)))
      .drop("_bsize", "_brow"))
  }

  /** The one place `ops/` turns bucket keys into candidate pairs (MinHash
    * and SimHash bands, hyperplane buckets, so media dedup too): cap the
    * buckets ([[capBuckets]], `maxBucket <= 0` = uncapped), self-equi-join
    * on `keyCols`, keep `id_a < id_b`; each `payload` column rides through
    * the exchange as `<name>_a` / `<name>_b`. A pair sharing several keys
    * appears once per key: each caller deduplicates at its own point.
    */
  private[graft] def candidatePairs(keyed: DataFrame, keyCols: Seq[String], idCol: String,
      payload: Seq[String], maxBucket: Int, what: String): DataFrame = {
    val capped = capBuckets(keyed, keyCols, maxBucket, what)
    def side(s: String) = capped.select(keyCols.map(col) ++
      (col(idCol).as(s"id_$s") +: payload.map(p => col(p).as(s"${p}_$s"))): _*)
    side("a").join(side("b"), keyCols).where($"id_a" < $"id_b")
  }

  /** Re-join a verify payload onto (id_a, id_b) pairs by id as `<as>_a` /
    * `<as>_b`, so array payloads skip the candidate exchange.
    */
  private def withSides(pairs: DataFrame, src: DataFrame, idCol: String,
      valueCol: String, as: String): DataFrame = {
    def side(s: String) = src.select(col(idCol).as(s"id_$s"), col(valueCol).as(s"${as}_$s"))
    pairs.join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
  }

  /** Exact dedup: md5 of the raw text. Returns (doc_id, content_hash,
    * group_size, keep) where keep marks the minimum doc_id per group.
    */
  def exact(docs: DataFrame): DataFrame = {
    val group = Window.partitionBy($"content_hash")
    docs
      .withColumn("content_hash", md5($"text"))
      .withColumn("group_size", count(lit(1)).over(group))
      .withColumn("keep", $"doc_id" === min($"doc_id").over(group))
      .select($"doc_id", $"content_hash", $"group_size", $"keep")
  }

  // one digest per task thread; digest() resets it, so reuse is safe and
  // avoids a provider lookup + allocation per hash on the hot path
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  // lowercase hex of a 16-byte digest; hex order over these strings equals
  // unsigned lexicographic order over the digest bytes (each byte maps to
  // two monotonically increasing hex chars), which is what lets the minhash
  // kernel compare raw digests and defer hex encoding to one call per slot
  private def hex16(d: Array[Byte]): String = {
    val cs = new Array[Char](32)
    var i = 0
    while (i < 16) {
      cs(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      cs(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(cs)
  }

  // String.split("\\s+") recompiles the pattern on every call (multi-char
  // regexes skip the fast path); the typed kernels tokenize per document
  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** (id, text) rows for a per-document md5 kernel, spread full width when
    * the scan is under-parallel: the md5 kernels scale with cores.
    */
  private def docTexts(docs: DataFrame) = {
    import docs.sparkSession.implicits._
    graft.util.SessionTuning.spread(docs.select(col("doc_id").as("id"), col("text").as("t")),
      docs.sparkSession.sparkContext.defaultParallelism, "id").as[(Long, String)]
  }

  /** MinHash signatures over word-k-shingle TEXTS: sig(f) = lexicographic
    * min of md5(f ':' shingle) over the document's distinct shingles — a
    * valid min-hash family whose values a SQL engine reproduces exactly.
    * One typed pass per document (the expression-tree alternative
    * materializes NumHashes arrays per row and is ~an order of magnitude
    * slower). Returns (id, shingles: distinct texts, minhash: hex strings).
    */
  def minhashSignature(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docTexts(docs)
      .mapPartitions { it =>
        // the hashed bytes are identical to md5(f + ":" + shingle) over the
        // concatenated string: the "f:" prefix is pure ASCII, so its UTF-8
        // encoding never interacts with the shingle's (no surrogate can
        // span the boundary) — precompute each slot's prefix bytes once
        val md = md5Local.get()
        val pfx = Array.tabulate(NumHashes)(f => (f.toString + ":").getBytes("UTF-8"))
        val cand = new Array[Byte](16)
        it.flatMap { case (id, text) =>
          // Locale.ROOT: JVM-default-locale lowercasing (e.g. tr_TR dotless
          // ı) would silently diverge from SQL lower() semantics
          val toks = wsPattern.split(text.trim.toLowerCase(java.util.Locale.ROOT))
          if (toks.length < ShingleK) Iterator.empty
          else {
            val nSh = toks.length - ShingleK + 1
            val seen = new java.util.LinkedHashSet[String]()
            var i = 0
            while (i < nSh) {
              val sb = new java.lang.StringBuilder()
              var j = 0
              while (j < ShingleK) {
                if (j > 0) sb.append(' ')
                sb.append(toks(i + j))
                j += 1
              }
              seen.add(sb.toString)
              i += 1
            }
            // per-slot min kept as raw digest bytes (0xFF sentinel = the
            // hex "ff..ff" ceiling); strict unsigned compare preserves the
            // old first-wins-on-tie behavior, and hex order == byte order,
            // so the final hex strings are byte-identical to the old path
            val mins = Array.fill(NumHashes)(Array.fill(16)(0xFF.toByte))
            val shIt = seen.iterator()
            while (shIt.hasNext) {
              val sh = shIt.next()
              val shBytes = sh.getBytes("UTF-8")
              var f = 0
              while (f < NumHashes) {
                md.update(pfx(f))
                md.update(shBytes)
                md.digest(cand, 0, 16)
                if (java.util.Arrays.compareUnsigned(cand, mins(f)) < 0)
                  System.arraycopy(cand, 0, mins(f), 0, 16)
                f += 1
              }
            }
            val shingles = new Array[String](seen.size)
            seen.toArray(shingles)
            Iterator((id, shingles, mins.map(hex16)))
          }
        }
      }
      .toDF("id", "shingles", "minhash")
  }

  /** LSH banding: band key = md5 of the band's `rows` signature slots
    * joined with '|'; candidates from an id-only band equi-join (i < j),
    * shingle sets re-joined by id for the exact-Jaccard verify.
    * jaccard = |A∩B| / (|A| + |B| - |A∩B|) over distinct shingle texts.
    */
  def minhashLsh(docs: DataFrame, threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val rows = NumHashes / Bands
    // the md5-heavy signature stage fans out to three consumers (banding +
    // both verify sides) with different downstream partitionings — persist
    // it so the corpus is scanned and hashed ONCE, not 3x (at 100 TB this
    // would be a checkpoint to parquet instead)
    val sigs = graft.util.StageCache.persist(minhashSignature(docs))

    val banded = sigs.select($"id",
        posexplode(transform(sequence(lit(0), lit(Bands - 1)),
          b => md5(concat_ws("|", slice($"minhash", b * rows + 1, lit(rows)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

    // id-only payload through the band exchange
    val candidates = candidatePairs(banded, Seq("band", "bucket"), "id", Nil,
        maxBucket, "minhashLsh")
      .select($"id_a", $"id_b")
      .dropDuplicates("id_a", "id_b")

    withSides(candidates, sigs, "id", "shingles", "sh")
      .withColumn("icnt", size(array_intersect($"sh_a", $"sh_b")))
      .withColumn("jaccard",
        $"icnt".cast("double") / (size($"sh_a") + size($"sh_b") - $"icnt"))
      .where($"jaccard" >= threshold)
      .select($"id_a", $"id_b",
        floor($"jaccard" * 10000.0).cast("long").as("jaccard_e4"))
  }

  /** Standard dedup staging for a 100 TB corpus: EXACT dedup first (one
    * cheap hash shuffle collapses mass duplicates to a representative),
    * then MinHash-LSH only over the exact-unique survivors — so a million
    * identical documents cost one signature, not a degenerate LSH bucket.
    *
    * Returns one row per duplicate relation:
    *   (id_a, id_b, kind, jaccard_e4) with kind ∈ {'exact','near'};
    * exact rows link each non-representative to its group's min id
    * (jaccard_e4 = 10000), near rows are LSH-verified pairs between
    * representatives.
    */
  def pipeline(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val ex = graft.util.StageCache.persist(exact(docs))
    val exactPairs = ex
      // group min over ALL rows (the representative is the min id itself),
      // then keep only the non-representatives as the duplicate side
      .withColumn("id_a", min($"doc_id").over(Window.partitionBy($"content_hash")))
      .where(!$"keep")
      .select($"id_a", $"doc_id".as("id_b"), lit("exact").as("kind"),
        lit(10000L).as("jaccard_e4"))
    val reps = docs.join(ex.where($"keep").select($"doc_id"), Seq("doc_id"))
    val nearPairs = minhashLsh(reps, threshold)
      .select($"id_a", $"id_b", lit("near").as("kind"), $"jaccard_e4")
    exactPairs.union(nearPairs)
  }

  /** SimHash: 64-bit signature as a '1'/'0' string — bit b votes +1/-1 per
    * token occurrence from bit b of md5(token); sig bit = vote > 0.
    * The string form keeps every step (votes, banding, Hamming) exactly
    * reproducible in SQL without 64-bit overflow tricks.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docTexts(docs)
      .mapPartitions { it =>
        val md = md5Local.get()
        val d = new Array[Byte](16)
        it.map { case (id, text) =>
          val toks = wsPattern.split(text.trim.toLowerCase(java.util.Locale.ROOT))
          val votes = new Array[Int](64)
          var ti = 0
          while (ti < toks.length) {
            // bit p of the hex signature == bit (7 - p%8) of digest byte
            // p/8 (hex char p/4 is the high/low nibble of that byte), so
            // the votes match the old hex-string extraction exactly
            md.update(toks(ti).getBytes("UTF-8"))
            md.digest(d, 0, 16)
            var p = 0
            while (p < 64) {
              if (((d(p >>> 3) >> (7 - (p & 7))) & 1) == 1) votes(p) += 1
              else votes(p) -= 1
              p += 1
            }
            ti += 1
          }
          val sb = new java.lang.StringBuilder(64)
          var p = 0
          while (p < 64) { sb.append(if (votes(p) > 0) '1' else '0'); p += 1 }
          (id, sb.toString)
        }
      }
      .toDF("id", "simhash")
  }

  /** Near-dup pairs within [[MaxHamming]] bits. Banding uses
    * bands = MaxHamming + 1 segments of the 64-char signature, so by
    * pigeonhole every qualifying pair shares at least one untouched band —
    * candidate generation is COMPLETE (recall 1.0 vs brute force, see
    * DedupRecallSpec) and the driver oracle is a brute-force all-pairs
    * Hamming scan.
    */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val bands = MaxHamming + 1
    val base = 64 / bands
    val extra = 64 % bands
    // band b covers [off(b), off(b)+len(b)) with len = base (+1 for the
    // first `extra` bands) — contiguous cover of all 64 chars
    val ranges = (0 until bands).scanLeft((0, 0)) { case ((off, len), b) =>
      (off + len, base + (if (b < extra) 1 else 0))
    }.tail

    // the 16-byte signature (two packed 32-bit halves) rides THROUGH the
    // band exchange, so verification happens inside the candidate join —
    // no re-join of signatures by id, and the hamming test is integer
    // XOR + popcount (the same integer as the oracle's per-char zip count,
    // ~50x cheaper than two 64-element split arrays per candidate)
    val sig = graft.util.StageCache.persist(simhash(docs))
    def half(pos: Int): Column =
      conv(substring($"simhash", pos, 32), 2, 10).cast("long")
    val banded = sig.select($"id", half(1).as("h1"), half(33).as("h2"),
        posexplode(array(ranges.map { case (off, len) =>
          substring($"simhash", off + 1, len)
        }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

    candidatePairs(banded, Seq("band", "bucket"), "id", Seq("h1", "h2"),
        DefaultMaxBucket, "simhashPairs")
      .withColumn("hamming",
        (bit_count($"h1_a".bitwiseXOR($"h1_b")) +
          bit_count($"h2_a".bitwiseXOR($"h2_b"))).cast("long"))
      .where($"hamming" <= MaxHamming)
      .select($"id_a", $"id_b", $"hamming")
      .dropDuplicates("id_a", "id_b")
  }

  /** Embedding near-dup: cosine >= threshold pairs via multi-table
    * random-hyperplane LSH bucketing + exact cosine verify. Candidates are
    * id-keyed bucket equi-joins; vectors re-joined for the verify stage.
    */
  def embeddingDups(embeds: DataFrame, threshold: Double = 0.9,
      maxBucket: Int = DefaultMaxBucket, dim: Int = -1): DataFrame = {
    // vectors are consumed by key generation AND both verify sides: cache
    // the projected scan once — via forked(), so an input that is itself
    // already cached (q39 feeds per-kind slices of one cached vector
    // table) is NOT persisted a second time; the hyperplane-fold key
    // stage is cached as an id+bkey projection so its
    // (tables x planes x dim) folds run once. Pass `dim` when the caller
    // knows the vector width to skip the plan-time take(1) job.
    val vecs = graft.util.StageCache.forked(embeds.select($"vec_id", $"embedding"))
    val keys = graft.util.StageCache.persist(
      Similarity.withBucketKeys(vecs, "embedding", EmbedPlanes, EmbedTables,
          seed = EmbedSeed, dim0 = dim)
        .select($"bkey", $"vec_id"))
    val candidates = candidatePairs(keys, Seq("bkey"), "vec_id", Nil, maxBucket,
        "embeddingDups")
      .select($"id_a", $"id_b")
      .dropDuplicates("id_a", "id_b")
    withSides(candidates, vecs, "vec_id", "embedding", "v")
      .withColumn("cosine", Similarity.cosine($"v_a", $"v_b"))
      .where($"cosine" >= threshold)
      .select($"id_a", $"id_b",
        floor($"cosine" * 10000.0).cast("long").as("cosine_e4"))
  }
}

/** Session-level sink for [[Dedup]]'s bucket-cap accumulators: one named
  * LongAccumulator per (session, builder) fills in when the caller's own
  * action materializes the capped plan, and a QueryExecutionListener logs
  * any increase after each action — the no-silent-caps guarantee without a
  * second eager Spark action per dedup query. Counts are best-effort (a
  * retried task could double-tick) and monotone per session; the logged
  * number is the per-action delta.
  */
private[graft] object CapBucketsLog {
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup")

  private final class Entry(val acc: org.apache.spark.util.LongAccumulator,
      val maxBucket: Int) {
    @volatile var logged: Long = 0L
  }
  // keyed on (session, builder, maxBucket): a later call with a different
  // cap gets its own accumulator, so the logged threshold is always the
  // one the dropped buckets were actually compared against
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Int), Entry]()

  /** Last-known oversized-bucket count for `what`, max across live
    * sessions and caps (diagnostics/tests only — production consumers read
    * the log).
    */
  def lastOverCount(what: String): Option[Long] = {
    import scala.jdk.CollectionConverters._
    entries.asScala.collect { case ((_, w, _), e) if w == what => e.acc.value.longValue }
      .maxOption
  }

  def accumulatorFor(spark: SparkSession, what: String,
      maxBucket: Int): org.apache.spark.util.LongAccumulator = {
    // evict entries of stopped sessions so repeated session lifecycles
    // (tests, notebooks) don't accumulate accumulators + listeners
    entries.keySet.removeIf(k => k._1.sparkContext.isStopped)
    sessions.removeIf(s => s.sparkContext.isStopped)
    entries.computeIfAbsent((spark, what, maxBucket), { key =>
      registerListener(spark)
      new Entry(spark.sparkContext.longAccumulator(
        s"graft.capBuckets.$what.le$maxBucket"), maxBucket)
    }).acc
  }

  private val sessions = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  private def registerListener(spark: SparkSession): Unit =
    if (sessions.add(spark)) {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = {
          import scala.jdk.CollectionConverters._
          entries.asScala.foreach { case ((s, what, _), e) =>
            if (s eq qe.sparkSession) {
              val v = e.acc.value.longValue
              if (v > e.logged) {
                log.warn(s"$what: dropping ${v - e.logged} bucket(s) over " +
                  s"${e.maxBucket} members from candidate generation " +
                  "(mass-duplicate skew guard; run Dedup.exact / " +
                  "Dedup.pipeline first to collapse exact duplicates)")
                e.logged = v
              }
            }
          }
        }
        override def onFailure(funcName: String, qe: QueryExecution,
            error: Exception): Unit = ()
      })
    }
}
