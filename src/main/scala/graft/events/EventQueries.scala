package graft.events

import graft.Fixtures._
import graft.Gated
import org.apache.spark.sql.functions._

/** Gated queries over the event-table operators (`e_`): sessions,
  * funnels, retention and as-of and range joins.
  */
object EventQueries {

  /** Session gap for `e_sessionize`: 6 h in µs (the events table's median
    * intra-user gap is ~7.3 h, so real sessions split). Mirrored in the
    * oracle SQL. */
  private val SessionGapUs: Long = 6L * 3600 * 1000000

  /** As-of cutoff for `e_latest_asof`: 2024-01-16T00:00:00Z in µs — the
    * midpoint of the events table's one-month span. Mirrored in the
    * oracle SQL. */
  private val AsOfCutoffUs: Long = 1705363200000000L

  /** Synthetic outage windows for `e_range_join` (mirrored in the oracle
    * SQL): 40 windows pacing the events table's Jan-2024 span — one every
    * 18 h from 2024-01-01T00:00:00Z (µs 1704067200000000), lasting
    * 2 + (w mod 4) hours. Durations straddle the 6 h join bucket, so both
    * the single-bucket and the multi-bucket (canonical-bucket dedup)
    * paths of [[EventOps.rangeJoin]] are exercised.
    */
  private val RangeEpoch0Us: Long = 1704067200000000L

  private val RangeSpacingUs: Long = 18L * 3600 * 1000000

  private val RangeHourUs: Long = 3600L * 1000000

  private val RangeBucketUs: Long = 6L * 3600 * 1000000

  private val RangeNumWindows: Int = 40

  /** SQL twin of [[EventOps.sessionize]] at [[SessionGapUs]]: ends in
    * `s(user_id, ts_us, session_id)`, a new session wherever a user's gap
    * exceeds the threshold. Shared by the session and range-join oracles. */
  private val sessionCte: String =
    s"""e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
       |l AS (SELECT user_id, ts_us, event_id,
       |  CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
       |         OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > $SessionGapUs
       |       THEN 1 ELSE 0 END AS is_new FROM e),
       |s AS (SELECT user_id, ts_us,
       |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM l)""".stripMargin

  val all: Seq[Gated] = Seq(
    // gap-based sessionization over the events table: one shuffle on the
    // entity key, two in-partition window passes sharing it
    Gated("e_sessionize", (s, dir) =>
      EventOps.sessionize(s.read.parquet(s"$dir/events.parquet"),
        "user_id", "ts", "event_id", gapMicros = SessionGapUs), Some(
      s"""WITH $sessionCte
         |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
         |  min(ts_us) AS start_us, max(ts_us) AS end_us
         |FROM s GROUP BY 1, 2""".stripMargin)),
    // funnel: earliest in-order view → click → purchase walk per user;
    // slim per-step aggregates chained on one reused user-key
    // partitioning — never a per-user history sort
    // the event_id % 7 sparsifier thins each user's history so stalled
    // walks actually occur (full histories complete trivially): depths
    // 1/2/3 all populated at the gated scale
    // funnel twin: same greedy min-after chain, left joins preserving
    // stalled walks, depth from reached steps
    Gated("e_funnel", (s, dir) =>
      EventOps.funnel(
        s.read.parquet(s"$dir/events.parquet").filter(col("event_id") % 7 === 0),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase")), Some(
      """WITH ev AS (SELECT * FROM events WHERE event_id % 7 = 0),
        |s0 AS (SELECT user_id, min(ts) AS ts_0 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS ts_1 FROM ev e JOIN s0 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts >= s0.ts_0 GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS ts_2 FROM ev e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts >= s1.ts_1 GROUP BY 1)
        |SELECT s0.user_id, s0.ts_0 AS ts_view, s1.ts_1 AS ts_click, s2.ts_2 AS ts_purchase,
        |  CAST(1 + (CASE WHEN s1.ts_1 IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN s2.ts_2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS depth
        |FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)""".stripMargin)),
    // event-type transitions: the order-1 Markov matrix per entity
    // sequence — one entity-key exchange + a metadata-sized pair rollup
    // transitions twin: same (ts, id)-ordered lead, same pair rollup
    Gated("e_transitions", (s, dir) =>
      EventOps.transitions(s.read.parquet(s"$dir/events.parquet"),
        "user_id", "event_type", "ts", "event_id"), Some(
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |l AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type FROM e)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM l WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin)),
    // cohort retention: first-seen-day cohorts × activity-day offsets —
    // one entity-key exchange, in-partition (user, cohort, offset) dedup
    // (group key ⊇ the partition key), then a metadata-sized cell agg
    // retention twin: same day-index DIV, same first-seen window, same
    // offset-0 cohort size via first_value over the cell relation
    Gated("e_retention", (s, dir) =>
      EventOps.retention(s.read.parquet(s"$dir/events.parquet"),
        "user_id", "ts", periodMicros = 86400000000L), Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS p FROM events),
        |f AS (SELECT user_id, p, min(p) OVER (PARTITION BY user_id) AS cohort FROM e),
        |u AS (SELECT DISTINCT user_id, cohort, p - cohort AS offset_p FROM f),
        |c AS (SELECT cohort AS cohort_p, offset_p,
        |      CAST(count(*) AS BIGINT) AS n_active FROM u GROUP BY 1, 2)
        |SELECT cohort_p, offset_p, n_active,
        |  first_value(n_active) OVER (PARTITION BY cohort_p ORDER BY offset_p) AS cohort_size,
        |  CAST(n_active * 1000000 // first_value(n_active)
        |       OVER (PARTITION BY cohort_p ORDER BY offset_p) AS BIGINT) AS retention_ppm
        |FROM c""".stripMargin)),
    // as-of pick: latest event per entity before the cutoff — the recency
    // dedup a re-crawl pipeline applies per url (hash agg with map-side
    // partial, deliberately not a window rank; see events/EventOps)
    Gated("e_latest_asof", (s, dir) =>
      EventOps.latestAsOf(s.read.parquet(s"$dir/events.parquet"),
        "user_id", "ts", "event_id", cutoffMicros = AsOfCutoffUs, payloadCols = Seq("event_type")), Some(
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
         |  FROM events WHERE epoch_us(ts) <= $AsOfCutoffUs),
         |r AS (SELECT user_id, ts_us, event_id, event_type,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn FROM e)
         |SELECT user_id, ts_us, event_id, event_type FROM r WHERE rn = 1""".stripMargin)),
    // as-of JOIN (click → latest prior view per user): union + window —
    // ONE key shuffle over |L|+|R| rows, never the quadratic inequality
    // join; left-outer (unmatched clicks keep NULLs). DuckDB's native
    // ASOF LEFT JOIN is the oracle.
    // DuckDB's native ASOF LEFT JOIN (greatest right ts <= left ts,
    // inclusive) is the exact semantics the union+window formulation
    // implements — the strongest possible oracle for this operator
    Gated("e_asof_join", (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("user_id"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("view_id"), col("ts_us").as("view_ts_us"))
      EventOps.asofJoin(clicks, views, "user_id", "ts_us",
        Seq("view_id", "view_ts_us"))
    }, Some(
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events),
        |l AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts_us, event_id AS view_id, ts_us AS view_ts_us
        |      FROM e WHERE event_type = 'view')
        |SELECT l.event_id, l.user_id, l.ts_us, r.view_id, r.view_ts_us
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us""".stripMargin)),
    // interval-overlap (range) JOIN: user sessions × synthetic outage
    // windows, via the bucketed equi-join with canonical-bucket dedup —
    // never the quadratic inequality BNLJ. Overlap duration in exact µs.
    // the oracle keeps the NAIVE inequality join — proving the bucketed
    // equi-join + canonical-bucket dedup formulation semantics-free
    Gated("e_range_join", (s, dir) => {
      val sessions = EventOps.sessionize(
          s.read.parquet(s"$dir/events.parquet"),
          "user_id", "ts", "event_id", gapMicros = SessionGapUs)
        .select(col("user_id"), col("session_id"), col("start_us"), col("end_us"))
      val windows = s.range(RangeNumWindows.toLong).select(
        col("id").as("window_id"),
        (lit(RangeEpoch0Us) + col("id") * RangeSpacingUs).as("w_start_us"),
        (lit(RangeEpoch0Us) + col("id") * RangeSpacingUs +
          (lit(2L) + col("id") % 4) * RangeHourUs).as("w_end_us"))
      EventOps.rangeJoin(sessions, windows,
          "start_us", "end_us", "w_start_us", "w_end_us", RangeBucketUs)
        .select(col("user_id"), col("session_id"), col("window_id"),
          (least(col("end_us"), col("w_end_us")) -
            greatest(col("start_us"), col("w_start_us"))).as("overlap_us"))
    }, Some(
      s"""WITH $sessionCte,
         |sess AS (SELECT user_id, session_id, min(ts_us) AS start_us, max(ts_us) AS end_us
         |         FROM s GROUP BY 1, 2),
         |w AS (SELECT CAST(x AS BIGINT) AS window_id,
         |  $RangeEpoch0Us + x * $RangeSpacingUs AS w_start_us,
         |  $RangeEpoch0Us + x * $RangeSpacingUs + (2 + x % 4) * $RangeHourUs AS w_end_us
         |  FROM generate_series(0, ${RangeNumWindows - 1}) AS t(x))
         |SELECT sess.user_id, sess.session_id, w.window_id,
         |  least(sess.end_us, w.w_end_us) - greatest(sess.start_us, w.w_start_us) AS overlap_us
         |FROM sess JOIN w ON sess.start_us <= w.w_end_us AND w.w_start_us <= sess.end_us""".stripMargin))
  )
}
