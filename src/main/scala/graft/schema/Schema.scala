package graft.schema

import java.sql.Timestamp

/** Typed schemas for the engine. The input table shape follows the
  * engine contract: multi-turn agent transcripts
  * (conv_id, turn_idx, role, text, tool, ts) with (conv_id, turn_idx) as
  * the stable sort key.
  */
final case class Transcript(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** One raw series point: bucket is epoch-microseconds for time-indexed
  * series, or the turn ordinal for position-indexed series.
  */
final case class SeriesPoint(
    conv_id: String,
    kind: String, // a Derive kind, or `<kind>@<tier>` for a tier series
    bucket: Long,
    value: Double)

/** Continuous-aggregate row: the per-bucket struct each retention tier
  * stores. Chains losslessly: 1h aggregates are re-aggregated 1m rows
  * (sum of sums, min of mins, first/last by bucket time), not raw scans.
  */
final case class TierAgg(
    conv_id: String,
    kind: String,
    tier: String, // 1m | 1h | 1d
    bucket: Long, // epoch micros of bucket start
    cnt: Long,
    sum: Double,
    min: Double,
    max: Double,
    first: Double,
    last: Double)

/** Matrix-profile result for one (conversation, tier, kind, window).
  * Mirrors the reference's MatrixProfile dict (stomp.py:359-377) as a
  * typed row; lmp/lpi/rmp/rpi are empty arrays for AB joins.
  */
final case class MpProfileRow(
    conv_id: String,
    kind: String,
    tier: String,
    w: Int,
    ez: Int,
    algorithm: String,
    metric: String,
    join: Boolean,
    mp: Array[Double],
    pi: Array[Long],
    lmp: Array[Double],
    lpi: Array[Long],
    rmp: Array[Double],
    rpi: Array[Long])

/** Per-partition lineage/metrics row for checkpoint-resume. */
final case class LedgerRow(
    partitionKey: String, // e.g. conv bucket or tier name
    stage: String,
    inputVersion: String,
    state: String, // done | failed
    rowsIn: Long,
    rowsOut: Long,
    wallMs: Long,
    finishedAt: Timestamp)
