package graft.queries

/** DuckDB oracle SQL builders for the matrix-profile-family queries.
  *
  * Every string here is the textual mirror of a BruteMp / kernel code path:
  * integer-quantized inputs make all sums/dot-products exact, and the one
  * double expression per value is written operation-for-operation like the
  * Scala side, so the driver's hash compare sees bit-identical doubles
  * (see BruteMp's scaladoc and the round-1 memory note on round()/floor()).
  *
  * The shared shape:
  *   pts   — per-user position-indexed series, capped at Cap points,
  *           quantized round(value*10000)::BIGINT
  *   ws_*  — per-window integer sums s1, s2
  *   dg/dots — per-diagonal integer products + windowed dot sums
  *   pd_*  — pair z-normalized ED distances
  *   mp_*  — per-position profile (min dist, argmin with ties to lowest j)
  *
  * Heavily-reused CTEs are MATERIALIZED — without it DuckDB re-opens the
  * parquet once per reference and trips "too many open files" on the
  * chained suppression/Kruskal steps.
  *
  * The query builders take no parameters: each value both engines must
  * agree on is one constant both read (the MP family's below; the ops
  * family's in SparkEntry, Dedup and Similarity). Shared fragments, each
  * built once: windowSumsSql, pairDistExpr (BruteMp.pairDist's twin),
  * pmpCtes, abJoinCtes + mpdistPairsCtes, topKCte + bruteTopKCtes +
  * recallHitsSql, nearestCellSql, imageFieldCtes + audioFieldCtes,
  * mediaDedupCtes and minhashLshCtes.
  */
object OracleSqlGen {

  import graft.SparkEntry._
  import graft.ops.{Dedup, Multimodal, Similarity}

  // ---- values the MP queries (MpQueries) share with their oracles ------
  val Cap = 240
  val Quant = 10000L
  final val W = 8                           // q07-q09, q11, q12, q28-q30
  final val Ez = 2                          // q08/q09 exclusion zone
  final val FlussW = 4                      // q10
  final val SnippetSize = 16                // q11
  val PmpWindows: Seq[Int] = Seq(8, 12, 16) // q13, q32, q34
  final val MotifRadius = 3.0               // q34: neighbours within radius·best
  final val MpdistSeries = 5                // q12: pairs of the 5 longest series
  final val ClusterSeries = 8               // q30: the 8 longest series,
  final val Clusters = 3                    //   cut into 3 clusters

  def ptsCte: String =
    s"""pts AS MATERIALIZED (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS idx,
         round(value * $Quant)::BIGINT AS vi
  FROM events
  QUALIFY idx < $Cap)"""

  /** Per-window integer sums s1, s2 of `pts` (named window `fw`). */
  private def windowSumsSql(w: Int, fw: String): String =
    s"""SELECT user_id, idx AS i,
         sum(vi) OVER $fw::BIGINT AS s1,
         sum(vi * vi) OVER $fw::BIGINT AS s2,
         count(*) OVER $fw AS wn
  FROM pts
  WINDOW $fw AS (PARTITION BY user_id ORDER BY idx ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)
  QUALIFY wn = $w"""

  /** The pair z-normalised distance `dist` — BruteMp.pairDist's twin,
    * operation for operation — from the dot product `d.dot` and the window
    * sums of `wi`/`wj` joined in `from`; selects `keys` + dist over
    * `innerKeys` + the num/deni/denj terms.
    */
  private def pairDistExpr(w: Int, keys: String, innerKeys: String, from: String): String =
    s"""SELECT $keys,
         sqrt(greatest(${2 * w}.0 * (1.0 - CASE WHEN deni = 0.0 OR denj = 0.0 THEN 0.0
              ELSE num / (deni * denj) END), 0.0)) AS dist
  FROM (
    SELECT $innerKeys,
           d.dot::DOUBLE - wi.s1::DOUBLE * wj.s1::DOUBLE / $w.0 AS num,
           sqrt(greatest(wi.s2::DOUBLE - wi.s1::DOUBLE * wi.s1::DOUBLE / $w.0, 0.0)) AS deni,
           sqrt(greatest(wj.s2::DOUBLE - wj.s1::DOUBLE * wj.s1::DOUBLE / $w.0, 0.0)) AS denj
    FROM $from)"""

  /** [[pairDistExpr]] over a self-join's diagonal dots (j = i + d). */
  private def selfPairDist(w: Int, dots: String, ws: String): String =
    pairDistExpr(w, "user_id, i, j", "d.user_id, d.i, d.i + d.d AS j",
      s"""$dots d
    JOIN $ws wi ON wi.user_id = d.user_id AND wi.i = d.i
    JOIN $ws wj ON wj.user_id = d.user_id AND wj.i = d.i + d.d""")

  /** CTE chain ws/dg/dots/pd/mp for a self-join at window w; names suffixed
    * so several windows can coexist (q13).
    */
  def selfMpCtes(w: Int, sfx: String = ""): String = {
    val minlag = graft.kernels.Core.minlag(w)
    // same per-user length bound as the Spark side (MpQueries.minN): a
    // series with n in [w+minlag+1, minN) has >=1 admissible pair, so the
    // mp CTE would emit rows Spark omits — filter eligibility in dg so both
    // engines share the row set regardless of data
    val minN = MpQueries.minN(w)
    s"""el$sfx AS (SELECT user_id FROM pts GROUP BY 1 HAVING count(*) >= $minN),
ws$sfx AS (
  ${windowSumsSql(w, s"fw$sfx")}),
dg$sfx AS (
  SELECT a.user_id, a.idx AS t, b.idx - a.idx AS d, a.vi * b.vi AS pr
  FROM pts a JOIN pts b ON a.user_id = b.user_id AND b.idx > a.idx + $minlag
  JOIN el$sfx e ON a.user_id = e.user_id),
dots$sfx AS (
  SELECT user_id, d, t AS i,
         sum(pr) OVER dw$sfx::BIGINT AS dot,
         count(*) OVER dw$sfx AS cnt
  FROM dg$sfx
  WINDOW dw$sfx AS (PARTITION BY user_id, d ORDER BY t ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)
  QUALIFY cnt = $w),
pd$sfx AS (
  ${selfPairDist(w, s"dots$sfx", s"ws$sfx")}),
mp$sfx AS MATERIALIZED (
  SELECT user_id, pos, dist AS mp, other AS pi
  FROM (
    SELECT user_id, pos, other, dist,
           row_number() OVER (PARTITION BY user_id, pos ORDER BY dist ASC, other ASC) AS rn
    FROM (SELECT user_id, i AS pos, j AS other, dist FROM pd$sfx
          UNION ALL
          SELECT user_id, j AS pos, i AS other, dist FROM pd$sfx)
  ) WHERE rn = 1)"""
  }

  /** q07: per-user profile summary + kernel_agree pinned TRUE. */
  def q07: String =
    s"""WITH $ptsCte,
${selfMpCtes(W)}
SELECT user_id, profile_len, pos::BIGINT AS min_idx,
       floor(mp * 10000.0)::BIGINT AS min_mp_e4, TRUE AS kernel_agree
FROM (
  SELECT user_id, pos, mp,
         count(*) OVER (PARTITION BY user_id) AS profile_len,
         row_number() OVER (PARTITION BY user_id ORDER BY mp ASC, pos ASC) AS rn
  FROM mp
) WHERE rn = 1"""

  /** Per user, the position of `src` ranked first by `order`. */
  private def pickPos(src: String, order: String): String =
    s"""(SELECT user_id, pos FROM (
      SELECT user_id, pos, row_number() OVER (PARTITION BY user_id ORDER BY $order) AS rn
      FROM $src) WHERE rn = 1)"""

  /** q08: top-3 discords, ez=Ez, argsort-desc tie-break (pos DESC),
    * suppression [d-ez, d+ez-1] (TopK.mpTopKDiscords semantics).
    */
  def q08: String =
    s"""WITH $ptsCte,
${selfMpCtes(W)},
p1 AS ${pickPos("mp", "mp DESC, pos DESC")},
r2 AS (SELECT m.* FROM mp m JOIN p1 ON m.user_id = p1.user_id
       WHERE m.pos < p1.pos - $Ez OR m.pos >= p1.pos + $Ez),
p2 AS ${pickPos("r2", "mp DESC, pos DESC")},
r3 AS (SELECT m.* FROM r2 m JOIN p2 ON m.user_id = p2.user_id
       WHERE m.pos < p2.pos - $Ez OR m.pos >= p2.pos + $Ez),
p3 AS ${pickPos("r3", "mp DESC, pos DESC")}
SELECT user_id, rank, discord_idx FROM (
  SELECT user_id, 1::BIGINT AS rank, pos::BIGINT AS discord_idx FROM p1
  UNION ALL SELECT user_id, 2, pos FROM p2
  UNION ALL SELECT user_id, 3, pos FROM p3)"""

  /** q09: top-2 motif pairs, ez=Ez, argmin tie lowest pos, inclusive
    * [x-ez, x+ez] suppression around both endpoints (BruteMp.motifPairs).
    */
  def q09: String =
    s"""WITH $ptsCte,
${selfMpCtes(W)},
p1 AS (SELECT user_id, least(pos, pi) AS a, greatest(pos, pi) AS b FROM (
      SELECT user_id, pos, pi, row_number() OVER (PARTITION BY user_id ORDER BY mp ASC, pos ASC) AS rn
      FROM mp) WHERE rn = 1),
r2 AS (SELECT m.* FROM mp m JOIN p1 ON m.user_id = p1.user_id
       WHERE (m.pos < p1.a - $Ez OR m.pos > p1.a + $Ez) AND (m.pos < p1.b - $Ez OR m.pos > p1.b + $Ez)),
p2 AS (SELECT user_id, least(pos, pi) AS a, greatest(pos, pi) AS b FROM (
      SELECT user_id, pos, pi, row_number() OVER (PARTITION BY user_id ORDER BY mp ASC, pos ASC) AS rn
      FROM r2) WHERE rn = 1)
SELECT user_id, rank, motif_a, motif_b, TRUE AS kernel_agree FROM (
  SELECT user_id, 1::BIGINT AS rank, a::BIGINT AS motif_a, b::BIGINT AS motif_b FROM p1
  UNION ALL SELECT user_id, 2, a, b FROM p2)"""

  /** q10: FLUSS CAC from the brute profile index at w=4, two regimes with
    * ez=5w, empty-tail fallback to position 0 (Core.argmin on all-∞).
    */
  def q10: String = {
    val w = FlussW
    val ez = 5 * w
    s"""WITH $ptsCte,
${selfMpCtes(w)},
plen AS (SELECT user_id, count(*)::BIGINT AS pl FROM mp GROUP BY 1),
marks AS (
  SELECT user_id, least(pos, pi) + 1 AS pos, 1 AS delta FROM mp
  UNION ALL
  SELECT user_id, greatest(pos, pi) AS pos, -1 AS delta FROM mp),
dsum AS (SELECT user_id, pos, sum(delta) AS delta FROM marks GROUP BY 1, 2),
cum AS (
  SELECT m.user_id, m.pos,
         sum(coalesce(d.delta, 0)) OVER (PARTITION BY m.user_id ORDER BY m.pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE AS cm
  FROM mp m LEFT JOIN dsum d ON m.user_id = d.user_id AND m.pos = d.pos),
cac AS MATERIALIZED (
  SELECT c.user_id, c.pos,
         CASE WHEN c.pos < $w OR c.pos >= p.pl - $w THEN 1.0
              WHEN v > 1 THEN 1.0 ELSE v END AS cac
  FROM (
    SELECT c.user_id, c.pos,
           c.cm / (-(((p.pl::DOUBLE / 2.0) / ((p.pl::DOUBLE / 2.0) * (p.pl::DOUBLE / 2.0)))
                   * ((c.pos::DOUBLE - p.pl::DOUBLE / 2.0) * (c.pos::DOUBLE - p.pl::DOUBLE / 2.0)))
                 + p.pl::DOUBLE / 2.0) AS v
    FROM cum c JOIN plen p ON c.user_id = p.user_id) c
  JOIN plen p ON c.user_id = p.user_id),
p1 AS ${pickPos("cac", "cac ASC, pos ASC")},
r2 AS (SELECT c.* FROM cac c JOIN p1 ON c.user_id = p1.user_id
       WHERE c.pos < p1.pos - $ez OR c.pos >= p1.pos + $ez),
p2raw AS ${pickPos("r2", "cac ASC, pos ASC")},
p2 AS (SELECT p.user_id, coalesce(p2raw.pos, 0) AS pos
       FROM plen p LEFT JOIN p2raw ON p.user_id = p2raw.user_id)
SELECT user_id, rank, regime_idx FROM (
  SELECT user_id, 1::BIGINT AS rank, pos::BIGINT AS regime_idx FROM p1
  UNION ALL SELECT user_id, 2, pos FROM p2)"""
  }

  /** `pts` plus one self-join chain per PMP window, suffixed `_w<w>`. */
  private def pmpCtes: String =
    (ptsCte +: PmpWindows.map(w => selfMpCtes(w, s"_w$w"))).mkString(",\n")

  /** q13: global minimum pair distance per (user, window) — the PMP
    * summary — for the PMP windows, kernel_agree pinned TRUE.
    */
  def q13: String = {
    val selects = PmpWindows.map(w =>
      s"""SELECT user_id, $w::BIGINT AS "window", floor(min(dist) * 10000.0)::BIGINT AS min_mp_e4, TRUE AS kernel_agree FROM pd_w$w GROUP BY user_id""")
    s"""WITH $pmpCtes
SELECT * FROM (${selects.mkString(" UNION ALL ")})"""
  }

  /** q32: PMP top-3 discords (TopK.pmpTopKDiscords / ref
    * top_k_discords.py:16-91) — 2-D argmax over the per-window profiles
    * with row-major first-max tie-break (mp DESC, window ASC, pos ASC),
    * suppression of [c-zone, c+zone) in the WINNING row only, and the zone
    * fixed by the FIRST pick's window (the reference's sticky
    * exclusion_zone). Three chained pick CTEs unroll k=3; a user whose
    * remaining cells run out simply stops contributing rows, like the
    * kernel's early exit.
    */
  def q32: String = {
    val union = PmpWindows.map(w =>
      s"""SELECT user_id, $w AS w, pos, mp FROM mp_w$w""").mkString(" UNION ALL ")
    def pick(name: String, src: String): String =
      s"""$name AS MATERIALIZED (
  SELECT user_id, w, pos, mp FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY mp DESC, w ASC, pos ASC) AS rn
    FROM $src) WHERE rn = 1)"""
    def suppress(name: String, src: String, p: String): String =
      s"""$name AS (
  SELECT m.user_id, m.w, m.pos, m.mp
  FROM $src m JOIN $p ON m.user_id = $p.user_id JOIN z ON m.user_id = z.user_id
  WHERE NOT (m.w = $p.w AND m.pos >= $p.pos - z.zone AND m.pos < $p.pos + z.zone))"""
    s"""WITH $pmpCtes,
pm0 AS MATERIALIZED ($union),
${pick("p1", "pm0")},
z AS MATERIALIZED (SELECT user_id, (w // 2)::BIGINT AS zone FROM p1),
${suppress("r2", "pm0", "p1")},
${pick("p2", "r2")},
${suppress("r3", "r2", "p2")},
${pick("p3", "r3")}
SELECT user_id, rank, "window", discord_idx, discord_mp_e4 FROM (
  SELECT user_id, 1::BIGINT AS rank, w::BIGINT AS "window", pos::BIGINT AS discord_idx,
         floor(mp * 10000.0)::BIGINT AS discord_mp_e4 FROM p1
  UNION ALL SELECT user_id, 2, w, pos, floor(mp * 10000.0)::BIGINT FROM p2
  UNION ALL SELECT user_id, 3, w, pos, floor(mp * 10000.0)::BIGINT FROM p3)"""
  }

  /** q34: PMP top-2 motifs (TopK.pmpTopKMotifs / ref
    * top_k_motifs.py:16-171) — replayed as two chained pick blocks. Each
    * block: 2-D argmin over the remaining pan-profile cells with row-major
    * first-min tie-break (mp ASC, w ASC, pos ASC); pair endpoints a/b from
    * the profile index; a FRESH neighbor distance profile anchored at `a`
    * in the winning window (wdall: the both-direction pair distances —
    * positions within minlag of the anchor sit inside the anchor's
    * exclusion zone since ez = w//2 >= minlag, so the lag-restricted pair
    * set is complete); zones [c-ez, c+ez] removed around a and b; then up
    * to two neighbors, each the (dist ASC, j ASC) argmin under the
    * radius·best bound (filter-then-argmin ≡ the kernel's
    * argmin-then-test, since the bound is a threshold on the ordering
    * key), each suppressing its own zone. Pick 2 sees the pan profile
    * minus the zones pick 1 burned into its winning ROW ONLY (endpoints +
    * accepted neighbors), exactly the kernel's tmp mutation; its neighbor
    * profile is fresh (the kernel masks dp by the ORIGINAL pmp, not the
    * suppressed copy).
    */
  def q34: String = {
    val wdUnion = PmpWindows.map(w =>
      s"""SELECT user_id, $w AS w, i AS s, j, dist FROM pd_w$w
  UNION ALL SELECT user_id, $w AS w, j AS s, i AS j, dist FROM pd_w$w""")
      .mkString(" UNION ALL ")
    val pmUnion = PmpWindows.map(w =>
      s"""SELECT user_id, $w AS w, pos, mp, pi FROM mp_w$w""").mkString(" UNION ALL ")

    def pickBlock(p: String, src: String): String =
      s"""p$p AS MATERIALIZED (
  SELECT user_id, w, pos, mp, pi,
         least(pos, pi) AS a, greatest(pos, pi) AS b, (w // 2)::BIGINT AS ez
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY mp ASC, w ASC, pos ASC) AS rn
        FROM $src) WHERE rn = 1),
dp$p AS MATERIALIZED (
  SELECT d.user_id, d.j, d.dist
  FROM wdall d JOIN p$p p ON d.user_id = p.user_id AND d.w = p.w AND d.s = p.a
  WHERE NOT (d.j >= p.a - p.ez AND d.j <= p.a + p.ez)
    AND NOT (d.j >= p.b - p.ez AND d.j <= p.b + p.ez)),
n${p}1 AS MATERIALIZED (
  SELECT user_id, j FROM (
    SELECT d.user_id, d.j,
           row_number() OVER (PARTITION BY d.user_id ORDER BY d.dist ASC, d.j ASC) AS rn
    FROM dp$p d JOIN p$p p ON d.user_id = p.user_id
    WHERE d.dist <= $MotifRadius * p.mp) WHERE rn = 1),
n${p}2 AS MATERIALIZED (
  SELECT user_id, j FROM (
    SELECT d.user_id, d.j,
           row_number() OVER (PARTITION BY d.user_id ORDER BY d.dist ASC, d.j ASC) AS rn
    FROM dp$p d JOIN n${p}1 n ON d.user_id = n.user_id
    JOIN p$p p ON d.user_id = p.user_id
    WHERE NOT (d.j >= n.j - p.ez AND d.j <= n.j + p.ez)
      AND d.dist <= $MotifRadius * p.mp) WHERE rn = 1)"""

    s"""WITH $pmpCtes,
wdall AS MATERIALIZED ($wdUnion),
pm0 AS MATERIALIZED ($pmUnion),
${pickBlock("1", "pm0")},
z1 AS MATERIALIZED (
  SELECT user_id, w, a AS ctr, ez FROM p1
  UNION ALL SELECT user_id, w, b, ez FROM p1
  UNION ALL SELECT n.user_id, p.w, n.j, p.ez FROM n11 n JOIN p1 p ON n.user_id = p.user_id
  UNION ALL SELECT n.user_id, p.w, n.j, p.ez FROM n12 n JOIN p1 p ON n.user_id = p.user_id),
r2 AS (
  SELECT m.* FROM pm0 m
  WHERE NOT EXISTS (SELECT 1 FROM z1 z WHERE z.user_id = m.user_id AND z.w = m.w
                    AND m.pos >= z.ctr - z.ez AND m.pos <= z.ctr + z.ez)),
${pickBlock("2", "r2")}
SELECT user_id, rank, "window", motif_a, motif_b, motif_mp_e4, nb1_idx, nb2_idx, kernel_agree FROM (
  SELECT p.user_id, 1::BIGINT AS rank, p.w::BIGINT AS "window", p.a::BIGINT AS motif_a,
         p.b::BIGINT AS motif_b, floor(p.mp * 10000.0)::BIGINT AS motif_mp_e4,
         coalesce(n1.j, -1)::BIGINT AS nb1_idx, coalesce(n2.j, -1)::BIGINT AS nb2_idx,
         TRUE AS kernel_agree
  FROM p1 p LEFT JOIN n11 n1 ON p.user_id = n1.user_id LEFT JOIN n12 n2 ON p.user_id = n2.user_id
  UNION ALL
  SELECT p.user_id, 2, p.w, p.a, p.b, floor(p.mp * 10000.0)::BIGINT,
         coalesce(n1.j, -1), coalesce(n2.j, -1), TRUE
  FROM p2 p LEFT JOIN n21 n1 ON p.user_id = n1.user_id LEFT JOIN n22 n2 ON p.user_id = n2.user_id)"""
  }

  /** q29: complexity annotation vector + corrected profile argmins at w=8
    * (AnnotationVectors.makeComplexityAv / applyAv over the brute mp).
    */
  def q29: String = {
    val w = W
    s"""WITH $ptsCte,
${selfMpCtes(w)},
dv AS (
  SELECT user_id, idx - 1 AS i, (vi - lag(vi) OVER (PARTITION BY user_id ORDER BY idx))
         * (vi - lag(vi) OVER (PARTITION BY user_id ORDER BY idx)) AS sq
  FROM pts QUALIFY idx >= 1),
ce AS (
  SELECT user_id, i AS pos,
         sum(sq) OVER cw::BIGINT AS ce, count(*) OVER cw AS cnt
  FROM dv
  WINDOW cw AS (PARTITION BY user_id ORDER BY i ROWS BETWEEN CURRENT ROW AND ${w - 2} FOLLOWING)
  QUALIFY cnt = ${w - 1}),
avr AS (
  SELECT user_id, pos, sqrt(ce::DOUBLE) AS araw,
         max(sqrt(ce::DOUBLE)) OVER (PARTITION BY user_id) AS amax,
         min(sqrt(ce::DOUBLE)) OVER (PARTITION BY user_id) AS amin
  FROM ce),
av AS (
  SELECT user_id, pos, CASE WHEN amax = 0.0 THEN 0.0 ELSE (araw - amin) / amax END AS av
  FROM avr),
cmp AS (
  SELECT m.user_id, m.pos, m.mp,
         m.mp + (1.0 - a.av) * max(m.mp) OVER (PARTITION BY m.user_id) AS cmp
  FROM mp m JOIN av a ON m.user_id = a.user_id AND m.pos = a.pos)
SELECT user_id,
       count(*)::BIGINT AS profile_len,
       min(CASE WHEN rnm = 1 THEN pos END)::BIGINT AS mp_argmin,
       min(CASE WHEN rnc = 1 THEN pos END)::BIGINT AS cmp_argmin,
       min(CASE WHEN rnc = 1 THEN floor(cmp * 10000.0) END)::BIGINT AS cmp_min_e4
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY mp ASC, pos ASC) AS rnm,
         row_number() OVER (PARTITION BY user_id ORDER BY cmp ASC, pos ASC) AS rnc
  FROM cmp)
GROUP BY user_id"""
  }

  // ---- AB-join family --------------------------------------------------

  /** `pts` .. `abd(ua, ub, i, j, dist)`: AB pair distances at window W for
    * the pairs `prs` (ua, ub) over `nlen` and `topk`, the k longest series
    * with at least one full window (the Spark side's n >= w filter). The
    * join with wsq (wn = w) drops the ragged tail windows pos admits.
    */
  private def abJoinCtes(k: Int, prs: String): String =
    s"""$ptsCte,
nlen AS MATERIALIZED (SELECT user_id, count(*)::BIGINT AS n FROM pts GROUP BY 1),
topk AS MATERIALIZED (SELECT user_id, n, row_number() OVER (ORDER BY n DESC, user_id ASC) AS rk
         FROM nlen WHERE n >= $W QUALIFY rk <= $k),
prs AS ($prs),
pos AS MATERIALIZED (
  SELECT p.user_id, p.idx - r.range AS i, r.range AS k, p.vi
  FROM pts p CROSS JOIN range($W) r
  WHERE p.idx - r.range >= 0),
wsq AS MATERIALIZED (
  ${windowSumsSql(W, "fw")}),
abdot AS MATERIALIZED (
  SELECT pa.user_id AS ua, pb.user_id AS ub, pa.i, pb.i AS j, sum(pa.vi * pb.vi)::BIGINT AS dot
  FROM pos pa
  JOIN prs pr ON pa.user_id = pr.ua
  JOIN pos pb ON pb.user_id = pr.ub AND pb.k = pa.k
  GROUP BY 1, 2, 3, 4),
abd AS MATERIALIZED (
  ${pairDistExpr(W, "d.ua, d.ub, d.i, d.j", "d.ua, d.ub, d.i, d.j", """abdot d
    JOIN wsq wi ON wi.user_id = d.ua AND wi.i = d.i
    JOIN wsq wj ON wj.user_id = d.ub AND wj.i = d.j""")} d)"""

  /** MPDist from abd: k-th smallest of rowmins ++ colmins with
    * k = ceil(0.05(na+nb)) - 1 (MpDist.mpdist / BruteMp.mpdist).
    */
  private def mpdistCtes: String =
    s"""rowmin AS (SELECT ua, ub, i, min(dist) AS d FROM abd GROUP BY 1, 2, 3),
colmin AS (SELECT ua, ub, j, min(dist) AS d FROM abd GROUP BY 1, 2, 3),
abba AS (SELECT ua, ub, d FROM rowmin UNION ALL SELECT ua, ub, d FROM colmin),
mpd AS MATERIALIZED (
  SELECT a.ua, a.ub, a.d AS mpdist
  FROM (SELECT ua, ub, d,
          row_number() OVER (PARTITION BY ua, ub ORDER BY d ASC) AS rn,
          count(*) OVER (PARTITION BY ua, ub) AS cnt
        FROM abba) a
  JOIN nlen na ON na.user_id = a.ua
  JOIN nlen nb ON nb.user_id = a.ub
  WHERE a.rn = greatest(least(a.cnt - 1, ceil(0.05 * (na.n + nb.n)::DOUBLE)::BIGINT - 1), 0) + 1)"""

  /** `pts` .. `mpd(ua, ub, mpdist)`: MPDist over every pair ua < ub of the
    * k longest series (MpQueries.mpdistPairs' twin).
    */
  private def mpdistPairsCtes(k: Int): String =
    s"""${abJoinCtes(k,
      "SELECT a.user_id AS ua, b.user_id AS ub FROM topk a JOIN topk b ON a.user_id < b.user_id")},
$mpdistCtes"""

  /** q12: MPDist over all pairs of the MpdistSeries longest user series. */
  def q12: String =
    s"""WITH ${mpdistPairsCtes(MpdistSeries)}
SELECT ua AS user_a, ub AS user_b, floor(mpdist * 10000.0)::BIGINT AS mpdist_e4, TRUE AS kernel_agree
FROM mpd"""

  /** q28: minimum AB-join distance of every user vs the longest series. */
  def q28: String =
    s"""WITH ${abJoinCtes(1,
      "SELECT n.user_id AS ua, t.user_id AS ub FROM nlen n, topk t WHERE n.user_id <> t.user_id")}
SELECT ua AS user_id, ub AS query_user, floor(min(dist) * 10000.0)::BIGINT AS min_join_dist_e4,
       TRUE AS kernel_agree
FROM abd GROUP BY 1, 2"""

  /** q30: pairwise MPDist over the ClusterSeries longest series +
    * single-linkage Clusters-cluster partition via ClusterSeries - Clusters
    * chained Kruskal merge steps (equivalent to Hierarchical single linkage
    * + fcluster maxclust=Clusters when distances are distinct).
    */
  def q30: String = {
    val steps = ClusterSeries - Clusters
    val kruskal = (1 to steps).map { step =>
      val prev = s"c${step - 1}"
      s"""mk$step AS MATERIALIZED (
  SELECT e.ua, e.ub, a.comp AS ca, b.comp AS cb
  FROM mpd e JOIN $prev a ON e.ua = a.user_id JOIN $prev b ON e.ub = b.user_id
  WHERE a.comp <> b.comp
    AND (SELECT count(DISTINCT comp) FROM $prev) > $Clusters
  ORDER BY e.mpdist ASC, e.ua ASC, e.ub ASC LIMIT 1),
c$step AS MATERIALIZED (
  SELECT c.user_id,
         CASE WHEN c.comp IN (SELECT ca FROM mk$step UNION ALL SELECT cb FROM mk$step)
              THEN (SELECT least(ca, cb) FROM mk$step) ELSE c.comp END AS comp
  FROM $prev c)"""
    }
    s"""WITH ${mpdistPairsCtes(ClusterSeries)},
c0 AS (SELECT user_id, user_id AS comp FROM topk),
${kruskal.mkString(",\n")}
SELECT p.ua AS user_a, p.ub AS user_b, floor(p.mpdist * 10000.0)::BIGINT AS mpdist_e4,
       (a.comp = b.comp) AS same_cluster, TRUE AS kernel_agree
FROM mpd p JOIN c$steps a ON p.ua = a.user_id JOIN c$steps b ON p.ub = b.user_id"""
  }

  /** q19: language-ID confusion counts — the stopword-vote heuristic
    * (TextOps.languageId) replayed in SQL; the VALUES list is generated
    * from the same StopwordProfiles map.
    */
  def q19: String = {
    val profiles = graft.ops.TextOps.StopwordProfiles.toSeq.sortBy(_._1)
      .map { case (lang, words) =>
        s"('$lang', [${words.map(w => s"'$w'").mkString(", ")}])"
      }.mkString(", ")
    s"""WITH toks AS (
  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents),
hits AS (
  SELECT t.doc_id, t.lang, l.lname, len(list_distinct(list_intersect(t.tk, l.words))) AS hits
  FROM toks t CROSS JOIN (VALUES $profiles) AS l(lname, words)),
best AS (
  SELECT doc_id, lang, lname, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lname DESC) AS rn
  FROM hits)
SELECT lang, CASE WHEN hits > 0 THEN lname ELSE 'und' END AS predicted, count(*)::BIGINT AS n
FROM best WHERE rn = 1 GROUP BY 1, 2"""
  }

  /** q22: md5-chain fingerprint (TextOps.fingerprint) via list_reduce. */
  def q22: String =
    """SELECT doc_id,
       list_reduce(list_prepend('graft', regexp_split_to_array(trim(text), '\s+')),
                   (acc, t) -> md5(acc || '|' || t)) AS fingerprint
FROM documents"""

  // Multimodal.imageDims / audioSamples of a documents row, in SQL
  private val ImageWidth = s"(${Multimodal.MinSide} + doc_id % ${Multimodal.WidthSpan})"
  private val ImageHeight = s"(${Multimodal.MinSide} + doc_id % ${Multimodal.HeightSpan})"
  private val AudioSamples = s"(${Multimodal.MinSamples} + doc_id % ${Multimodal.SampleSpan})"

  /** q27: multimodal plumbing facts — id/kind/dim/content size. Image rows
    * (doc_id % 3 = 0) carry real PNG payloads whose encoded size is
    * encoder-dependent, so the oracle checks the DECODED pixel-buffer size
    * (w·h·3 from the deterministic geometry in Multimodal.imageDims);
    * audio/video rows check the raw payload size. Audio/video stub feature
    * values are spec-asserted, not hash-compared; real image decode values
    * are hash-compared by q37.
    */
  def q27: String = {
    import Multimodal.{AudioDim, ImageDim, StubDim}
    s"""SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       CASE WHEN doc_id % 3 = 0 THEN $ImageDim WHEN doc_id % 3 = 1 THEN $AudioDim
            ELSE $StubDim END AS dim,
       CASE WHEN doc_id % 3 = 0
            THEN 3 * $ImageWidth * $ImageHeight
            WHEN doc_id % 3 = 1 THEN 2 * $AudioSamples
            ELSE strlen(text) END::BIGINT AS content_bytes
FROM documents"""
  }

  /** Decoded pixel field `px(doc_id, w, h, x, y, v)` of every image row
    * (Multimodal.imagePixel in closed form); the generate_series bounds
    * cover the max geometry (width ≤ 31 → x ≤ 30; height ≤ 23 → y ≤ 22).
    */
  private def imageFieldCtes: String = {
    import Multimodal.{HeightSpan, IdMul, MinSide, PosMul, RowMul, WidthSpan}
    s"""imgs AS (
  SELECT doc_id, $ImageWidth::BIGINT AS w, $ImageHeight::BIGINT AS h
  FROM documents WHERE doc_id % 3 = 0),
px AS (
  SELECT i.doc_id, i.w, i.h, gx.x, gy.y,
         i.doc_id * $IdMul + gx.x * $PosMul + gy.y * $RowMul AS v
  FROM imgs i
  CROSS JOIN generate_series(0, ${MinSide + WidthSpan - 2}) gx(x)
  CROSS JOIN generate_series(0, ${MinSide + HeightSpan - 2}) gy(y)
  WHERE gx.x < i.w AND gy.y < i.h)"""
  }

  /** Decoded sample field `smp(doc_id, n, i, s)` of every audio row
    * (Multimodal.audioSample in closed form; 319 samples → i ≤ 318). `sep`
    * splits smp's FROM clause (q38: one line per join, q39: one line).
    */
  private def audioFieldCtes(sep: String): String = {
    import Multimodal.{IdMul, MinSamples, PosMul, SampleSpan}
    val lastI = MinSamples + SampleSpan - 2
    s"""auds AS (
  SELECT doc_id, $AudioSamples::BIGINT AS n
  FROM documents WHERE doc_id % 3 = 1),
smp AS (
  SELECT a.doc_id, a.n, g.i,
         (a.doc_id * $IdMul + g.i * $PosMul) % 65536 - 32768 AS s
  FROM auds a${sep}CROSS JOIN generate_series(0, $lastI) g(i)${sep}WHERE g.i < a.n)"""
  }

  /** q37: REAL image decode, hash-compared. The Spark side PNG-encodes a
    * deterministic pixel field (Multimodal.imagePixel: v = id*2654435761 +
    * x*7919 + y*104729; r=v%256, g=(v/256)%256, b=(v/65536)%256), decodes
    * it back with JDK ImageIO, and reports per-channel sums plus a
    * position-weighted checksum. This oracle recomputes the identical
    * values in closed form from the formula — PNG is lossless, so only a
    * faithful decode matches.
    */
  def q37: String =
    s"""WITH $imageFieldCtes
SELECT doc_id AS media_id, w AS width, h AS height,
       sum(v % 256)::BIGINT AS sum_r,
       sum((v // 256) % 256)::BIGINT AS sum_g,
       sum((v // 65536) % 256)::BIGINT AS sum_b,
       sum((x * 131 + y) * ((v % 256) + 2 * ((v // 256) % 256)
           + 3 * ((v // 65536) % 256)))::BIGINT AS checksum
FROM px GROUP BY 1, 2, 3"""

  /** q38: REAL audio decode, hash-compared. The Spark side WAV-encodes a
    * deterministic 16-bit PCM field (Multimodal.audioSample: s =
    * (id*2654435761 + i*7919) % 65536 - 32768), decodes it back with
    * javax.sound.sampled, and reports sample sum / absolute-amplitude
    * sum / a frame-index-weighted checksum. This oracle recomputes the
    * identical values in closed form from the formula — PCM is lossless,
    * so only a faithful decode matches.
    */
  def q38: String =
    s"""WITH ${audioFieldCtes("\n  ")}
SELECT doc_id AS media_id, ${Multimodal.AudioSampleRate} AS sample_rate, n AS n_samples,
       sum(s)::BIGINT AS sum_s,
       sum(abs(s))::BIGINT AS sum_abs,
       sum(i * s)::BIGINT AS checksum
FROM smp GROUP BY 1, 2, 3"""

  /** q39: media near-dup — the downstream CONSUMER of the real decoders.
    * Replays the whole pipeline in closed form: per-id decoded-pixel /
    * decoded-sample statistics (the q37/q38 formulas plus the nonlinear
    * channel-product and modular moments), the centered dedup vectors,
    * the planted duplicate payloads (ids < 24 re-ingested as id+1000000),
    * the hyperplane-LSH candidate join, and the exact-cosine verify —
    * every double expression operation-for-operation identical to the
    * Spark side (Multimodal.imageDedupVec / audioDedupVec +
    * Dedup.embeddingDups).
    */
  def q39: String = {
    val iv = "[sr / (255.0*(w*h)) - 0.5, sg / (255.0*(w*h)) - 0.5, " +
      "sb / (255.0*(w*h)) - 0.5, srg / (16256.25*(w*h)) - 1.0, " +
      "(sgb / (16256.25*(w*h)) - 1.0) / 16.0, " +
      "(srb / (16256.25*(w*h)) - 1.0) / 16.0, " +
      "m1 / (125.0*(w*h)) - 1.0, m2 / (120.0*(w*h)) - 1.0]"
    val av = "[ss / (32768.0*n), sa / (16384.0*n) - 1.0, " +
      "ck / (16384.0*n*(n-1)), alt / (32768.0*n), " +
      "s2 / ((1073741824.0/3.0)*n) - 1.0]"
    s"""WITH $imageFieldCtes,
chan AS (
  SELECT doc_id, w, h, x, y, v % 256 AS r, (v // 256) % 256 AS g,
         (v // 65536) % 256 AS b
  FROM px),
ist AS (
  SELECT doc_id, w, h,
    sum(r)::BIGINT AS sr, sum(g)::BIGINT AS sg, sum(b)::BIGINT AS sb,
    sum(r*g)::BIGINT AS srg, sum(g*b)::BIGINT AS sgb, sum(r*b)::BIGINT AS srb,
    sum((r*g) % 251)::BIGINT AS m1, sum((g*b) % 241)::BIGINT AS m2
  FROM chan GROUP BY 1, 2, 3),
${mediaDedupCtes("i", "image", iv, "ist", Multimodal.ImageDedupDim)},
${audioFieldCtes(" ")},
ast AS (
  SELECT doc_id, n, sum(s)::BIGINT AS ss, sum(abs(s))::BIGINT AS sa,
         sum(i*s)::BIGINT AS ck, sum((1 - 2*(i%2))*s)::BIGINT AS alt,
         sum(s*s)::BIGINT AS s2
  FROM smp GROUP BY 1, 2),
${mediaDedupCtes("a", "audio", av, "ast", Multimodal.AudioDedupDim)}
SELECT kind, id_a, id_b, floor(cos * 10000.0)::BIGINT AS cosine_e4
FROM (SELECT * FROM iver UNION ALL SELECT * FROM aver) WHERE cos >= $MediaDupThreshold"""
  }

  /** One media kind's q39 chain, CTEs prefixed `p`: dedup vectors `vec`
    * over `stats`, planted copies, bucket keys (embeddingDups' LSH at width
    * `dim`), candidate join and exact-cosine verify `<p>ver`.
    */
  private def mediaDedupCtes(p: String, kind: String, vec: String, stats: String,
      dim: Int): String =
    s"""${p}vec0 AS (SELECT doc_id AS media_id, $vec AS vec FROM $stats),
${p}vec AS MATERIALIZED (
  SELECT * FROM ${p}vec0
  UNION ALL SELECT media_id + $PlantOffset, vec FROM ${p}vec0 WHERE media_id < $PlantedMedia),
${p}key AS MATERIALIZED (
  SELECT media_id, unnest(${bkeysSql("vec", Dedup.EmbedPlanes, Dedup.EmbedTables, Dedup.EmbedSeed, dim)}) AS bkey
  FROM ${p}vec),
${p}cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
  FROM ${p}key a JOIN ${p}key b ON a.bkey = b.bkey AND a.media_id < b.media_id),
${p}ver AS (
  SELECT '$kind' AS kind, c.id_a, c.id_b, ${cosSql("va.vec", "vb.vec")} AS cos
  FROM ${p}cand c JOIN ${p}vec va ON va.media_id = c.id_a
               JOIN ${p}vec vb ON vb.media_id = c.id_b)"""

  /** q11: snippets — replay of the full pipeline over the padded quantized
    * series: brute pair-distance matrix per candidate, column minima +
    * moving minima (MpDist.mpdistVector shape), per-offset 3rd-smallest
    * selection (calculateMpdist at threshold 0.05, 2*|tsB|=30), then the
    * greedy 2-pick coverage selection and fraction/mask accounting of
    * Snippets.select. Candidate sums use list_reduce so the fold order
    * matches the kernel's left-to-right accumulation.
    */
  def q11: String = {
    val (w, size) = (W, SnippetSize)
    def pickSnippet(src: String) = s"""SELECT user_id, c FROM (
    SELECT user_id, c, row_number() OVER (PARTITION BY user_id ORDER BY s ASC, c ASC) AS rn
    FROM $src) WHERE rn = 1"""
    s"""WITH $ptsCte,
pl AS MATERIALIZED (
  SELECT user_id, n, ($size * ceil(n / $size.0))::BIGINT AS padlen
  FROM (SELECT user_id, count(*)::BIGINT AS n FROM pts GROUP BY 1) WHERE n >= ${2 * size}),
padded AS MATERIALIZED (
  SELECT p.user_id, p.idx, p.vi FROM pts p JOIN pl USING (user_id)
  UNION ALL
  SELECT pl.user_id, pl.n + r.range AS idx, 0::BIGINT AS vi
  FROM pl CROSS JOIN range($size) r WHERE pl.n + r.range < pl.padlen),
wsp AS (
  SELECT user_id, idx AS i,
         sum(vi) OVER fw::BIGINT AS s1, sum(vi * vi) OVER fw::BIGINT AS s2,
         count(*) OVER fw AS wn
  FROM padded
  WINDOW fw AS (PARTITION BY user_id ORDER BY idx ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)
  QUALIFY wn = $w),
dg11 AS (
  SELECT a.user_id, a.idx AS t, b.idx - a.idx AS d, a.vi * b.vi AS pr
  FROM padded a JOIN padded b ON a.user_id = b.user_id AND b.idx >= a.idx),
dots11 AS (
  SELECT user_id, d, t AS i,
         sum(pr) OVER dw::BIGINT AS dot, count(*) OVER dw AS cnt
  FROM dg11
  WINDOW dw AS (PARTITION BY user_id, d ORDER BY t ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)
  QUALIFY cnt = $w),
pd11 AS (
  ${selfPairDist(w, "dots11", "wsp")}),
wd AS MATERIALIZED (
  SELECT user_id, i AS s, j, dist FROM pd11
  UNION ALL
  SELECT user_id, j AS s, i AS j, dist FROM pd11 WHERE i <> j),
cands AS (
  SELECT pl.user_id, $size * r.range AS c, pl.padlen
  FROM pl CROSS JOIN range($size) r WHERE $size * r.range < pl.padlen - $size),
mrows AS MATERIALIZED (
  SELECT ca.user_id, ca.c, wd.s - ca.c AS i, wd.j, wd.dist
  FROM cands ca JOIN wd ON wd.user_id = ca.user_id AND wd.s >= ca.c AND wd.s < ca.c + ${size - w}),
arh AS (SELECT user_id, c, j, min(dist) AS rh FROM mrows GROUP BY 1, 2, 3),
mmin AS (
  SELECT user_id, c, i, j AS o, mn FROM (
    SELECT user_id, c, i, j,
           min(dist) OVER mw AS mn, count(*) OVER mw AS cnt
    FROM mrows
    WINDOW mw AS (PARTITION BY user_id, c, i ORDER BY j ROWS BETWEEN CURRENT ROW AND ${size - w - 1} FOLLOWING))
  WHERE cnt = ${size - w}),
prof AS (
  SELECT user_id, c, o, mn AS v FROM mmin
  UNION ALL
  SELECT a.user_id, a.c, a.j - r.range AS o, a.rh AS v
  FROM arh a CROSS JOIN range(${size - w}) r
  WHERE a.j - r.range >= 0),
dv AS MATERIALIZED (
  SELECT d.user_id, d.c, d.o, d.v AS dv FROM (
    SELECT user_id, c, o, v,
           row_number() OVER (PARTITION BY user_id, c, o ORDER BY v ASC) AS rn
    FROM prof) d
  JOIN pl ON d.user_id = pl.user_id
  WHERE d.rn = 3 AND d.o <= pl.padlen - ${size - 1}),
s1s AS (
  SELECT user_id, c, list_reduce(list_prepend(0.0, list(dv ORDER BY o)), (a, b) -> a + b) AS s
  FROM dv GROUP BY 1, 2),
p1 AS MATERIALIZED (
  ${pickSnippet("s1s")}),
dv1 AS MATERIALIZED (
  SELECT d.user_id, d.o, d.dv AS dv1 FROM dv d JOIN p1 ON d.user_id = p1.user_id AND d.c = p1.c),
s2s AS (
  SELECT d.user_id, d.c,
         list_reduce(list_prepend(0.0, list(least(d.dv, v1.dv1) ORDER BY d.o)), (a, b) -> a + b) AS s
  FROM dv d JOIN dv1 v1 ON d.user_id = v1.user_id AND d.o = v1.o GROUP BY 1, 2),
p2 AS MATERIALIZED (
  ${pickSnippet("s2s")}),
dv2 AS MATERIALIZED (
  SELECT d.user_id, d.o, d.dv AS dv2 FROM dv d JOIN p2 ON d.user_id = p2.user_id AND d.c = p2.c),
msk AS (
  SELECT b.user_id, b.o, b.dv1, b.dv2,
         (b.dv1 <= least(b.dv1, b.dv2)) AS mask1,
         (b.dv2 <= least(b.dv1, b.dv2) - CASE WHEN b.dv1 <= least(b.dv1, b.dv2) THEN 1.0 ELSE 0.0 END) AS mask2
  FROM (SELECT v1.user_id, v1.o, v1.dv1, v2.dv2
        FROM dv1 v1 JOIN dv2 v2 ON v1.user_id = v2.user_id AND v1.o = v2.o) b),
fr AS (
  SELECT m.user_id,
         sum(CASE WHEN m.mask1 THEN 1 ELSE 0 END)::DOUBLE / (pl.padlen - $size) AS f1,
         sum(CASE WHEN m.mask2 THEN 1 ELSE 0 END)::DOUBLE / (pl.padlen - $size) AS f2
  FROM msk m JOIN pl ON m.user_id = pl.user_id
  GROUP BY m.user_id, pl.padlen)
SELECT user_id, rank, snippet_idx, fraction_e4 FROM (
  SELECT p1.user_id, 1::BIGINT AS rank, p1.c::BIGINT AS snippet_idx,
         floor(fr.f1 * 10000.0)::BIGINT AS fraction_e4
  FROM p1 JOIN fr ON p1.user_id = fr.user_id
  UNION ALL
  SELECT p2.user_id, 2, p2.c::BIGINT, floor(fr.f2 * 10000.0)::BIGINT
  FROM p2 JOIN fr ON p2.user_id = fr.user_id)"""
  }

  /** q20: MinHash-LSH near-dup pairs — full algorithm mirror (md5-string
    * signatures, banding, id-only candidate join, exact-Jaccard verify);
    * recall vs brute force is gated separately in DedupRecallSpec.
    */
  def q20: String =
    s"""WITH ${minhashLshCtes("documents")}
SELECT id_a, id_b, jaccard_e4 FROM nearp"""

  /** The full MinHash-LSH CTE chain over `source` (doc_id, text), ending
    * in `nearp(id_a, id_b, jaccard_e4)` — shared by q20 (whole corpus) and
    * q33 (exact-dedup representatives).
    */
  private def minhashLshCtes(source: String): String = {
    import Dedup.{Bands, NumHashes, ShingleK}
    val rows = NumHashes / Bands
    s"""tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM $source),
sh AS MATERIALIZED (
  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - ${ShingleK - 2}),
         i -> array_to_string(tk[i:i+${ShingleK - 1}], ' '))) AS shd
  FROM tok WHERE len(tk) >= $ShingleK),
minh AS (
  SELECT doc_id, f.range AS f, min(md5(f.range || ':' || s.s)) AS mh
  FROM (SELECT doc_id, unnest(shd) AS s FROM sh) s CROSS JOIN range($NumHashes) f
  GROUP BY 1, 2),
sig AS MATERIALIZED (SELECT doc_id, list(mh ORDER BY f) AS sigl FROM minh GROUP BY 1),
band AS MATERIALIZED (
  SELECT doc_id, b.range AS band,
         md5(${(0 until rows).map(r => s"sigl[$rows*b.range+${r + 1}]").mkString(" || '|' || ")}) AS bucket
  FROM sig CROSS JOIN range($Bands) b),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
ver AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.shd, sb.shd)) AS icnt, len(sa.shd) AS na, len(sb.shd) AS nb
  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b),
nearp AS (
  SELECT id_a, id_b, floor(icnt::DOUBLE / (na + nb - icnt) * 10000.0)::BIGINT AS jaccard_e4
  FROM ver WHERE icnt::DOUBLE / (na + nb - icnt) >= $NearDupThreshold)"""
  }

  /** q33: the exact-first dedup pipeline (Dedup.pipeline) — exact md5
    * groups link every non-representative to the group-min id, then the
    * q20 MinHash-LSH chain runs over the representatives only.
    */
  def q33: String =
    s"""WITH gm AS MATERIALIZED (
  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS mid
  FROM documents),
reps AS MATERIALIZED (SELECT doc_id, text FROM gm WHERE doc_id = mid),
${minhashLshCtes("reps")}
SELECT id_a, id_b, kind, jaccard_e4 FROM (
  SELECT mid AS id_a, doc_id AS id_b, 'exact' AS kind, 10000::BIGINT AS jaccard_e4
  FROM gm WHERE doc_id <> mid
  UNION ALL
  SELECT id_a, id_b, 'near', jaccard_e4 FROM nearp)"""

  /** q21: SimHash near-dups — brute-force all-pairs Hamming over the
    * SQL-recomputed md5-bit signatures. Because the Spark side bands with
    * Dedup.MaxHamming + 1 segments (complete by pigeonhole), LSH output == brute
    * force, so this oracle gates banding completeness, not just hashing.
    */
  def q21: String =
    s"""WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tk FROM documents),
bits AS (
  SELECT t.doc_id, p.range AS p,
         CASE WHEN ((strpos('0123456789abcdef', substr(t.h, (p.range // 4)::INT + 1, 1)) - 1)
                    >> (3 - (p.range % 4))::INT) & 1 = 1 THEN 1 ELSE -1 END AS vote
  FROM (SELECT doc_id, md5(tk) AS h FROM tok) t CROSS JOIN range(64) p),
sigs AS MATERIALIZED (
  SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
  FROM (SELECT doc_id, p, sum(vote) AS v FROM bits GROUP BY 1, 2) GROUP BY doc_id)
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         list_sum(list_transform(range(1, 65),
           i -> CASE WHEN substr(a.sig, i::INT, 1) = substr(b.sig, i::INT, 1) THEN 0 ELSE 1 END))::BIGINT AS hamming
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
WHERE hamming <= ${Dedup.MaxHamming}"""

  // ---- embedding LSH mirrors (shared fold/cosine fragments) -----------

  /** Strict left fold of ±x_j — Similarity.bucketBit's fold's SQL twin. */
  private def foldDotSql(vec: String, signs: String): String =
    s"list_reduce(list_prepend(0.0, list_transform($vec, " +
      s"(x, i) -> CASE WHEN substr('$signs', i::INT, 1) = '+' THEN x::DOUBLE ELSE -(x::DOUBLE) END)), (a, b) -> a + b)"

  /** Bucket-key list literal for `tables` x `planes` hyperplanes — signs
    * come from the very function the Spark side uses.
    */
  private def bkeysSql(vec: String, planes: Int, tables: Int, seed: Long,
      dim: Int): String = {
    val keys = (0 until tables).map { t =>
      val bits = (0 until planes).map { p =>
        val signs = Similarity.hyperplaneSigns(t, p, dim, seed)
        s"(CASE WHEN ${foldDotSql(vec, signs)} >= 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
      s"'$t:' || $bits"
    }
    "[" + keys.mkString(", ") + "]"
  }

  /** Cosine as the same double expression Similarity.cosine builds. */
  private def cosSql(a: String, b: String): String =
    s"(list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1]::DOUBLE * z[2]::DOUBLE)), (x, y) -> x + y)" +
      s" / (sqrt(list_reduce(list_prepend(0.0, list_transform($a, x -> x::DOUBLE * x::DOUBLE)), (x, y) -> x + y))" +
      s" * sqrt(list_reduce(list_prepend(0.0, list_transform($b, x -> x::DOUBLE * x::DOUBLE)), (x, y) -> x + y))))"

  /** Per query, the AnnK best of `src`'s scored rows by cos DESC,
    * neighbor_id ASC (Similarity's top-k tie rule).
    */
  private def topKCte(name: String, src: String): String =
    s"""$name AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
    FROM $src) WHERE rn <= $AnnK)"""

  /** Brute-force top-k `brute` of the queries `q` over the corpus `e`. */
  private def bruteTopKCtes: String =
    s"""q AS (SELECT * FROM e WHERE vec_id < $AnnQueries),
bs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ${cosSql("q.embedding", "c.embedding")} AS cos
  FROM e c, q WHERE c.vec_id <> q.vec_id),
${topKCte("brute", "bs")}"""

  /** Per query, the `brute` neighbours `approx` also found (recallHits). */
  private def recallHitsSql(approx: String): String =
    s"""SELECT b.query_id, count(l.neighbor_id)::BIGINT AS n_hits
FROM brute b LEFT JOIN $approx l ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
GROUP BY 1"""

  /** q24: ANN recall — replays BOTH sides (brute-force top-10 and the
    * multi-table hyperplane LSH top-10) and counts hits per query.
    */
  def q24: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
$bruteTopKCtes,
ck AS MATERIALIZED (SELECT vec_id, unnest(${bkeysSql("embedding", Similarity.LshPlanes,
      Similarity.LshTables, Similarity.LshSeed, EmbeddingDim)}) AS bkey FROM e),
qk AS MATERIALIZED (SELECT ck.* FROM ck JOIN q ON ck.vec_id = q.vec_id),
cands AS (
  SELECT DISTINCT qk.vec_id AS query_id, ck.vec_id AS neighbor_id
  FROM ck JOIN qk ON ck.bkey = qk.bkey AND ck.vec_id <> qk.vec_id),
scored AS (
  SELECT c.query_id, c.neighbor_id, ${cosSql("eq.embedding", "ec.embedding")} AS cos
  FROM cands c JOIN e eq ON eq.vec_id = c.query_id JOIN e ec ON ec.vec_id = c.neighbor_id),
${topKCte("lsh", "scored")}
${recallHitsSql("lsh")}"""

  /** Squared L2 fold, quantized vector to centroid (Similarity's d2). */
  private def d2Sql(qv: String, cent: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($qv, $cent), " +
      s"z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))), (a, b) -> a + b)"

  /** EXACT integer squared L2 between two quantized BIGINT vectors — the
    * SQL twin of Similarity.d2Int (seed selection never touches a double).
    */
  private def d2IntSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(list_zip($a, $b), " +
      s"z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y)"

  /** Per vector of `qvv` (`where`), its nearest cells of `cents` by the d2
    * fold, ties to the lowest cell (Similarity.assignCells, ivfTopK's
    * probes): `out` (selected as `id`) and cell, ranks kept by `keep`.
    */
  private def nearestCellSql(out: String, id: String, cents: String, where: String,
      keep: String): String =
    s"""SELECT $out, cell FROM (
    SELECT $id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY ${d2Sql("q.qv", "c.cent")} ASC, c.cell ASC) AS rn
    FROM qvv q CROSS JOIN $cents c$where) WHERE $keep"""

  private def assignSql(cents: String): String =
    nearestCellSql("vec_id", "q.vec_id", cents, "", "rn = 1")

  /** q35: IVF ANN recall — the inverted-file coarse quantizer replayed
    * end-to-end (Similarity.ivfCells/ivfTopK): quantized vectors; the
    * deterministic k-means++-style seeding (md5-keyed 4·kCells sample,
    * then greedy maximin on exact integer distances, one chained CTE
    * triple per pick); `lloydRounds` Lloyd iterations (argmin assignment
    * with ties to the lowest cell; per-dim integer sums → double means;
    * empty cells drop identically); final assignment; nprobe nearest-cell
    * probing; exact cosine ranking inside the probed cells; hit counts vs
    * the brute top-k.
    */
  def q35: String = {
    val kCells = Similarity.IvfCells
    val lloydRounds = Similarity.IvfLloydRounds
    val mkExpr = "md5('ivf:' || vec_id::VARCHAR)"
    val seedCtes = (1 until kCells).map { i =>
      s"""m$i AS (
  SELECT c.vec_id, min(${d2IntSql("c.qv", "s.qv")}) AS mind
  FROM cand c CROSS JOIN s${i - 1} s
  WHERE c.vec_id NOT IN (SELECT vec_id FROM s${i - 1})
  GROUP BY c.vec_id),
p$i AS (SELECT vec_id FROM m$i ORDER BY mind DESC, vec_id ASC LIMIT 1),
s$i AS MATERIALIZED (
  SELECT * FROM s${i - 1} UNION ALL
  SELECT c.vec_id, c.qv, $i AS cell FROM cand c JOIN p$i p ON c.vec_id = p.vec_id)"""
    }.mkString(",\n")
    val lloydCtes = (1 to lloydRounds).map { r =>
      s"""a$r AS MATERIALIZED (
  ${assignSql(s"c${r - 1}")}),
u$r AS (
  SELECT a.cell, r.range AS pos, sum(q.qv[r.range + 1])::BIGINT AS s, count(*) AS cnt
  FROM a$r a JOIN qvv q ON a.vec_id = q.vec_id CROSS JOIN range($EmbeddingDim) r
  GROUP BY 1, 2),
c$r AS MATERIALIZED (SELECT cell, list(s::DOUBLE / cnt ORDER BY pos) AS cent FROM u$r GROUP BY cell)"""
    }.mkString(",\n")
    val cf = s"c$lloydRounds"
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
qvv AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * 10000)::BIGINT) AS qv FROM e),
cand AS MATERIALIZED (
  SELECT vec_id, qv FROM qvv ORDER BY $mkExpr, vec_id LIMIT ${4 * kCells}),
s0 AS MATERIALIZED (
  SELECT vec_id, qv, 0 AS cell FROM qvv ORDER BY $mkExpr, vec_id LIMIT 1),
$seedCtes,
c0 AS MATERIALIZED (
  SELECT cell, list_transform(qv, v -> v::DOUBLE) AS cent FROM s${kCells - 1}),
$lloydCtes,
af AS MATERIALIZED (
  ${assignSql(cf)}),
pr AS MATERIALIZED (
  ${nearestCellSql("query_id", "q.vec_id AS query_id", cf, s" WHERE q.vec_id < $AnnQueries",
      s"rn <= ${Similarity.IvfProbes}")}),
cnd AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM pr p JOIN af a ON a.cell = p.cell AND a.vec_id <> p.query_id),
scored AS (
  SELECT c.query_id, c.neighbor_id, ${cosSql("eq.embedding", "ec.embedding")} AS cos
  FROM cnd c JOIN e eq ON eq.vec_id = c.query_id JOIN e ec ON ec.vec_id = c.neighbor_id),
${topKCte("ivf", "scored")},
$bruteTopKCtes
${recallHitsSql("ivf")}"""
  }

  /** q25: embedding near-dups over the base corpus + 20 planted
    * near-copies (one component +0.25f) — same planting, hyperplanes,
    * candidate join, and verify threshold as the Spark side.
    */
  def q25: String =
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
planted AS (
  SELECT vec_id + $PlantOffset AS vec_id,
         list_transform(embedding, (x, i) -> CASE WHEN i = mp + 1
           THEN (x + 0.25::FLOAT)::FLOAT ELSE x END) AS embedding
  FROM (SELECT vec_id, embedding, (vec_id % $EmbeddingDim)::INT AS mp FROM embeddings WHERE vec_id < $PlantedEmbeddings)),
alle AS MATERIALIZED (SELECT * FROM base UNION ALL SELECT * FROM planted),
ak AS MATERIALIZED (SELECT vec_id, unnest(${bkeysSql("embedding", Dedup.EmbedPlanes,
      Dedup.EmbedTables, Dedup.EmbedSeed, EmbeddingDim)}) AS bkey FROM alle),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ak a JOIN ak b ON a.bkey = b.bkey AND a.vec_id < b.vec_id),
ver AS (
  SELECT c.id_a, c.id_b, ${cosSql("ea.embedding", "eb.embedding")} AS cos
  FROM cand c JOIN alle ea ON ea.vec_id = c.id_a JOIN alle eb ON eb.vec_id = c.id_b)
SELECT id_a, id_b, floor(cos * 10000.0)::BIGINT AS cosine_e4
FROM ver WHERE cos >= $EmbedDupThreshold"""

  /** q15: Gorilla chunk round-trip summary — counts and first/last decoded
    * values are checkable in SQL; losslessness is pinned TRUE.
    */
  def q15: String =
    s"""WITH $ptsCte,
fl AS (
  SELECT user_id, idx, vi,
         row_number() OVER (PARTITION BY user_id ORDER BY idx DESC) AS rd,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM pts)
SELECT user_id, n::BIGINT AS n_points, TRUE AS lossless,
       min(CASE WHEN idx = 0 THEN vi END)::BIGINT AS first_e0,
       min(CASE WHEN rd = 1 THEN vi END)::BIGINT AS last_e0
FROM fl GROUP BY user_id, n"""
}
