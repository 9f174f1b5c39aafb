package graft
package battery

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators._
import Helpers._

/** Event-analytics battery: sessions, funnels, attribution, as-of
  * joins and windowed rollups. */
object EventsQueries {

  /** Epoch micros for either TIMESTAMP or TIMESTAMP_NTZ input. The
    * driver's parquet encodes `ts` as NTZ, which `unix_micros` rejects;
    * casting through TIMESTAMP under the session's UTC zone gives the
    * same epoch value DuckDB's `epoch_us` computes on the NTZ column. */
  private def tsMicros(c: Column): Column = unix_micros(c.cast("timestamp"))

  val queries: Seq[Q] = Seq(
    Q("events_hourly", (s, d) => Tables.events(s, d)
      .groupBy(col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_type", "hour"),
      """SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        | count(*) AS cnt
        |FROM events GROUP BY event_type, hour ORDER BY event_type, hour""".stripMargin),

    Q("event_sessions", (s, d) => {
      // sessionization: a new session starts after a 30-minute gap
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts")
      Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            tsMicros(col("ts")) - tsMicros(col("prev_ts")) > 1800L * 1000000, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_session").as("sessions"), count(lit(1)).as("events"))
        .orderBy("user_id")
    },
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS sessions, count(*) AS events FROM (
        | SELECT user_id,
        |  CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |       THEN 1 ELSE 0 END AS new_session
        | FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |       FROM events)
        |) GROUP BY user_id ORDER BY user_id""".stripMargin),

    Q("stream_windowed_counts", (s, d) =>
      // batch execution of the Structured Streaming operator — identical
      // code path runs incrementally over readStream input
      graft.streaming.EventStream.windowedCounts(Tables.events(s, d))
        .select(col("event_type"),
          date_format(col("window_start"), "yyyy-MM-dd HH:00").as("hour"),
          col("cnt"), round(col("total_value"), 4).as("total_value"))
        .orderBy("event_type", "hour"),
      """SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        | count(*) AS cnt, round(sum(value), 4) AS total_value
        |FROM events GROUP BY event_type, hour ORDER BY event_type, hour""".stripMargin),

    Q("event_session_windows", (s, d) =>
      // native session_window aggregation, batch execution of the
      // streaming operator (same code path runs over readStream input)
      graft.streaming.EventStream.sessionWindows(Tables.events(s, d))
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("events"))
        .orderBy("user_id", "session_start"),
      // session_window is half-open [start, last + gap): a gap of EXACTLY
      // 30 min starts a new session, hence >= in the break condition
      """WITH w AS (SELECT user_id, ts,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |           FROM events),
        |b AS (SELECT user_id, ts,
        |        CASE WHEN prev_ts IS NULL
        |              OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |             THEN 1 ELSE 0 END AS brk FROM w),
        |s AS (SELECT user_id, ts,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                       ROWS UNBOUNDED PRECEDING) AS sid FROM b)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),

    Q("event_attribution", (s, d) => {
      // click→purchase attribution through the watermarked interval
      // join, run in batch mode (identical code path runs over two
      // readStream feeds; the (0, within] bound keeps stream state
      // GC-able). Timestamps emitted as epoch micros — harness-sortable
      // on both engines.
      val ev = Tables.events(s, d)
      graft.streaming.EventStream.correlate(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          within = "30 minutes")
        .select(col("user_id"), col("l_id"), col("r_id"),
          tsMicros(col("l_ts")).as("l_us"), tsMicros(col("r_ts")).as("r_us"))
        .orderBy("user_id", "l_id", "r_id")
    },
      """SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
        |  epoch_us(l.ts) AS l_us, epoch_us(r.ts) AS r_us
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |  AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
        |ORDER BY l.user_id, l_id, r_id""".stripMargin),

    Q("event_attribution_unmatched", (s, d) => {
      // the funnel-drop-off side: clicks with NO purchase inside the
      // window, via the left-outer interval join (streaming emits these
      // once the watermark proves no match can arrive)
      val ev = Tables.events(s, d)
      graft.streaming.EventStream.correlate(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          within = "30 minutes", joinType = "leftOuter")
        .filter(col("r_id").isNull)
        .select(col("user_id"), col("l_id"), tsMicros(col("l_ts")).as("l_us"))
        .orderBy("user_id", "l_id")
    },
      """SELECT l.user_id, l.event_id AS l_id, epoch_us(l.ts) AS l_us
        |FROM events l
        |WHERE l.event_type = 'click' AND NOT EXISTS (
        |  SELECT 1 FROM events r WHERE r.user_id = l.user_id
        |    AND r.event_type = 'purchase'
        |    AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE)
        |ORDER BY l.user_id, l_id""".stripMargin),

    Q("event_funnel", (s, d) =>
      // greedy earliest-chain funnel in ONE shuffle: per-user sorted
      // event collect + codegen aggregate() fold (the 2k-shuffle
      // cascade alternative is the oracle's formulation)
      EventAnalytics.funnel(Tables.events(s, d),
          Seq("click", "view", "purchase"))
        .orderBy("user_id"),
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |       WHERE event_type = 'click' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS steps_completed,
        |  (t3 IS NOT NULL) AS completed
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)
        |ORDER BY u.user_id""".stripMargin,
      Gate.marker("funnel folds per-user sorted collect in one aggregation; non-step events nulled out map-side, below the exchange",
        "collect_list", "ObjectHashAggregate", "IN (click,view,purchase)")),

    Q("event_retention", (s, d) =>
      EventAnalytics.retention(Tables.events(s, d))
        .orderBy("cohort_day", "day_offset"),
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort_day FROM ud GROUP BY user_id)
        |SELECT c.cohort_day, datediff('day', c.cohort_day, ud.d) AS day_offset,
        |  count(*) AS n_users
        |FROM ud JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Q("event_transitions", (s, d) =>
      EventAnalytics.transitionMatrix(Tables.events(s, d))
        .orderBy("from_type", "to_type"),
      """WITH seq AS (SELECT event_type AS f,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |   AND event_type IS NOT NULL)
        |SELECT f AS from_type, t AS to_type, count(*) AS n FROM seq
        |WHERE t IS NOT NULL GROUP BY f, t
        |ORDER BY from_type, to_type""".stripMargin),

    Q("event_top_paths", (s, d) =>
      // top user-journey prefixes (first 5 event types per user) — the
      // sequence view of onboarding; one user-keyed exchange, reused by
      // the per-user fold
      EventAnalytics.topPaths(Tables.events(s, d), steps = 5, k = 20),
      """WITH p AS (
        | SELECT user_id,
        |   array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>') AS path
        | FROM events
        | WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
        | GROUP BY user_id)
        |SELECT path, count(*) AS n_users FROM p GROUP BY path
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin,
      // the per-user fold must REUSE the window's user-keyed hash
      // partitioning — exactly one user-keyed exchange in the plan (a
      // second one would double the operator's only shuffle)
      Gate("reuse", p => {
        val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
        (userExchanges == 1,
          if (userExchanges == 1) "window partitioning reused by the fold"
          else s"expected 1 user-keyed exchange, got $userExchanges\n$p")
      })),

    Q("event_props_stats", (s, d) =>
      // typed extraction over the JSON props blob: per-type stats of
      // $.k with explicit missing-parse accounting
      EventAnalytics.propsStats(Tables.events(s, d), "k")
        .orderBy("event_type"),
      """WITH v AS (
        | SELECT event_type,
        |   TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
        | FROM events WHERE event_type IS NOT NULL)
        |SELECT event_type,
        |  count(k) AS n_parsed,
        |  count(*) - count(k) AS n_missing,
        |  min(k) AS min_v, max(k) AS max_v,
        |  round(avg(k), 4) AS avg_v
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin,
      Gate.marker("JSON extraction aggregates map-side over the scan",
        "partial_count", "partial_min")),

    Q("event_anomalies", (s, d) =>
      // hourly volume spikes/dips: |z| >= 3 vs the type's own hourly
      // distribution; stats table broadcast back onto the buckets
      EventAnalytics.hourlyAnomalies(Tables.events(s, d), threshold = 3.0)
        .orderBy("event_type", "hour"),
      """WITH h AS (
        | SELECT event_type, date_trunc('hour', ts) AS hb, count(*) AS cnt
        | FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        | GROUP BY 1, 2),
        |s AS (
        | SELECT event_type, avg(cnt) AS m, stddev_pop(cnt) AS sd
        | FROM h GROUP BY 1)
        |SELECT event_type, strftime(hb, '%Y-%m-%d %H:00') AS hour, cnt,
        |  round(m, 4) AS mean_cnt, round((cnt - m) / sd, 4) AS z
        |FROM h JOIN s USING (event_type)
        |WHERE sd > 0 AND abs((cnt - m) / sd) >= 3.0
        |ORDER BY event_type, hour""".stripMargin),

    Q("event_value_quantiles", (s, d) =>
      // per-type value distribution (exact interpolated percentiles,
      // same continuous-quantile definition both engines share)
      Tables.events(s, d)
        .filter(col("event_type").isNotNull) // Spark sorts NULLS FIRST,
        // DuckDB NULLS LAST — excluded on both sides for hash parity
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))
        .orderBy("event_type"),
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    Q("events_active_users", (s, d) => {
      // DAU + trailing-7-day WAU in two aggregations: each (user, day)
      // activity row explodes into the 7 window-END days it contributes
      // to — the scalable alternative to a per-day distinct-over-range
      // self-join; the exchange carries (user, day) pairs only
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val dau = ud.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
      val wau = ud.select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
        .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, Seq("day")).orderBy("day")
    },
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
        |wau AS (SELECT d2 AS day, count(DISTINCT user_id) AS wau FROM (
        |  SELECT user_id,
        |    day + CAST(unnest(generate_series(0, 6)) AS INTEGER) AS d2 FROM ud)
        | GROUP BY d2)
        |SELECT day, dau, wau FROM dau JOIN wau USING (day)
        |ORDER BY day""".stripMargin),

    Q("event_funnel_report", (s, d) =>
      // the chart-facing rollup of event_funnel: users per funnel depth
      EventAnalytics.funnel(Tables.events(s, d), Seq("click", "view", "purchase"))
        .groupBy("steps_completed").agg(count(lit(1)).as("n_users"))
        .orderBy("steps_completed"),
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |       WHERE event_type = 'click' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT steps_completed, count(*) AS n_users FROM (
        | SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |             WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS steps_completed
        | FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |   LEFT JOIN s3 USING (user_id))
        |GROUP BY steps_completed ORDER BY steps_completed""".stripMargin),

    Q("session_overlap_join", (s, d) => {
      // interval-interval overlap: activity sessions (7-day gap) of two
      // event types, per user — binned on the overlap-start bin so
      // every overlapping pair joins exactly once, no nested loop
      val ev = Tables.events(s, d)
      val gapUs = 7L * 86400L * 1000000L
      def sessionsOf(tpe: String, pre: String) =
        EventAnalytics.sessions(ev.filter(col("event_type") === tpe), gapUs)
          .select(col("user_id"), col("session_id").as(s"${pre}_sid"),
            col("start_us").as(s"${pre}_s"), col("end_us").as(s"${pre}_e"))
      RangeJoin.intervalsOverlap(
          sessionsOf("click", "c"), "c_s", "c_e",
          sessionsOf("error", "e"), "e_s", "e_e",
          binWidth = gapUs.toDouble, keys = Seq("user_id"))
        .select("user_id", "c_sid", "e_sid", "c_s", "c_e", "e_s", "e_e")
        .orderBy("user_id", "c_sid", "e_sid")
    },
      {
        def sess(tpe: String, pre: String) =
          s"""SELECT user_id, CAST(sid AS BIGINT) AS ${pre}_sid,
             | min(us) AS ${pre}_s, max(us) AS ${pre}_e FROM (
             | SELECT user_id, us, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             | FROM (SELECT user_id, epoch_us(ts) AS us,
             |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |             OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
             |                > 604800000000
             |             THEN 1 ELSE 0 END AS new_s
             |       FROM events WHERE event_type = '$tpe'))
             |GROUP BY user_id, sid""".stripMargin
        s"""WITH c AS (${sess("click", "c")}), e AS (${sess("error", "e")})
           |SELECT c.user_id, c_sid, e_sid, c_s, c_e, e_s, e_e
           |FROM c JOIN e ON c.user_id = e.user_id AND c_s <= e_e AND e_s <= c_e
           |ORDER BY c.user_id, c_sid, e_sid""".stripMargin
      },
      Gate.noNlj("interval-overlap binned equi-join")),

    Q("event_asof_attribution", (s, d) => {
      // as-of join: every purchase attributed to the MOST RECENT click
      // of the same user at-or-before it, within a 30-minute horizon —
      // the point-in-time top-1 the interval join can't express without
      // a per-row re-aggregation. One shuffle on user_id, running
      // last(ignoreNulls) window, no range-join row explosion.
      val ev = Tables.events(s, d)
      AsOfJoin.asOf(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id").as("p_id"), col("ts"), col("user_id")),
          ev.filter(col("event_type") === "click")
            .select(col("event_id").as("c_id"), col("ts"), col("user_id")),
          keys = Seq("user_id"), tsCol = "ts", tieCol = "c_id",
          payload = Seq("c_id"),
          toleranceMicros = Some(1800L * 1000000L))
        .select(col("user_id"), col("p_id"), tsMicros(col("ts")).as("p_us"),
          col("c_id"), tsMicros(col(AsOfJoin.MatchedTsCol)).as("c_us"))
        .orderBy("user_id", "p_id")
    },
      """SELECT p.user_id, p.event_id AS p_id, epoch_us(p.ts) AS p_us, c.c_id, c.c_us
        |FROM events p LEFT JOIN LATERAL (
        |  SELECT r.event_id AS c_id, epoch_us(r.ts) AS c_us FROM events r
        |  WHERE r.user_id = p.user_id AND r.event_type = 'click'
        |    AND r.ts <= p.ts AND r.ts >= p.ts - INTERVAL 30 MINUTE
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) c ON true
        |WHERE p.event_type = 'purchase'
        |ORDER BY user_id, p_id""".stripMargin,
      // the as-of join must plan as ONE keyed shuffle + running window —
      // no join operator at all
      Gate("window", p => {
        val joins = "Join".r.findAllIn(p).length
        (joins == 0 && p.contains("Window"),
          if (joins == 0) "tagged-union window, zero joins"
          else s"expected join-free window plan\n$p")
      })),

    Q("event_asof_next", (s, d) => {
      // forward + strict variant: each click's NEXT strictly-later
      // purchase within 30 minutes (earliest wins, lowest id on ties) —
      // same single-shuffle union+window plan scanned on negated time
      val ev = Tables.events(s, d)
      AsOfJoin.asOf(
          ev.filter(col("event_type") === "click")
            .select(col("event_id").as("c_id"), col("ts"), col("user_id")),
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id").as("p_id"), col("ts"), col("user_id")),
          keys = Seq("user_id"), tsCol = "ts", tieCol = "p_id",
          payload = Seq("p_id"),
          direction = "forward", strict = true,
          toleranceMicros = Some(1800L * 1000000L))
        .select(col("user_id"), col("c_id"), tsMicros(col("ts")).as("c_us"),
          col("p_id"), tsMicros(col(AsOfJoin.MatchedTsCol)).as("p_us"))
        .orderBy("user_id", "c_id")
    },
      """SELECT l.user_id, l.event_id AS c_id, epoch_us(l.ts) AS c_us, n.p_id, n.p_us
        |FROM events l LEFT JOIN LATERAL (
        |  SELECT r.event_id AS p_id, epoch_us(r.ts) AS p_us FROM events r
        |  WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
        |    AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
        |  ORDER BY r.ts ASC, r.event_id ASC LIMIT 1) n ON true
        |WHERE l.event_type = 'click'
        |ORDER BY user_id, c_id""".stripMargin),

    Q("event_funnel_cycles", (s, d) =>
      EventAnalytics.funnelCycles(Tables.events(s, d),
          Seq("click", "view", "purchase"))
        .orderBy("user_id"),
      // bit-for-bit replay of the packed-integer funnel-cycles fold:
      // event = ts*8+stepIdx, state = (cycles*8+nextStep)*2^51 + lastTs+1
      // (2^51 = 2251799813685248). The engine raise_errors on
      // epoch_us >= 2^51 - 1 (lastTs+1 must stay inside the 51-bit
      // field), so this replay never sees a ts the fold would mis-pack.
      // Folded via a RECURSIVE CTE, one step per list index, NOT
      // list_reduce: DuckDB 1.0.0's list_reduce returns wrong results
      // when a batch holds rows of differing list lengths AND the lambda
      // sometimes returns the accumulator unchanged (verified: batched
      // fold diverges from the same query on a single row and from a
      // by-hand replay of the identical lambda).
      """WITH RECURSIVE se AS (
        |  SELECT user_id, epoch_us(ts) * 8 +
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1 ELSE 2 END AS e
        |  FROM events
        |  WHERE event_type IN ('click','view','purchase')
        |    AND ts IS NOT NULL AND user_id IS NOT NULL),
        |g AS (SELECT user_id, list_sort(list(e)) AS l FROM se GROUP BY user_id),
        |r AS (
        |  SELECT user_id, 1 AS i, CAST(0 AS BIGINT) AS st FROM g
        |  UNION ALL
        |  SELECT r.user_id, r.i + 1,
        |    CASE
        |      WHEN (g.l[r.i] % 8) = ((r.st // 2251799813685248) % 8)
        |       AND (g.l[r.i] // 8) > (r.st % 2251799813685248) - 1
        |      THEN CASE WHEN ((r.st // 2251799813685248) % 8) + 1 = 3
        |        THEN (least((r.st // 2251799813685248) // 8 + 1, 255) * 8)
        |             * 2251799813685248 + (g.l[r.i] // 8) + 1
        |        ELSE ((r.st // 2251799813685248) // 8 * 8
        |              + ((r.st // 2251799813685248) % 8) + 1)
        |             * 2251799813685248 + (g.l[r.i] // 8) + 1 END
        |      ELSE r.st END
        |  FROM r JOIN g USING (user_id) WHERE r.i <= len(g.l))
        |SELECT user_id, CAST(st // 2251799813685248 // 8 AS BIGINT) AS cycles
        |FROM r JOIN g USING (user_id) WHERE r.i = len(g.l) + 1
        |ORDER BY user_id""".stripMargin,
      Gate.marker("packed fold in one aggregation; step pre-filter below the exchange",
        "collect_list", "ObjectHashAggregate", "IN (click,view,purchase)")),

    Q("events_pivot", (s, d) =>
      // wide daily report via PIVOT with an EXPLICIT value list: the
      // explicit list keeps the pivot a single pass (no extra
      // distinct-values job) and pins the output schema — the form
      // that scales and the form an engine swap must reproduce
      Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day"),
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |GROUP BY 1 ORDER BY day""".stripMargin),

    Q("events_cube", (s, d) =>
      EventAnalytics.cubeReport(Tables.events(s, d))
        .orderBy("gid", "event_type", "day"),
      """SELECT GROUPING(event_type, d) AS gid,
        |  coalesce(event_type, '(all)') AS event_type,
        |  coalesce(d, '(all)') AS day,
        |  count(*) AS cnt, round(sum(value), 2) AS total_value
        |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS d, value
        |      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL)
        |GROUP BY CUBE(event_type, d)
        |ORDER BY gid, event_type, day""".stripMargin,
      Gate.marker("all cube grouping sets ride one Expand + partial aggregation",
        "Expand", "partial_count")),

    Q("events_rolling_avg", (s, d) =>
      EventAnalytics.rollingDailyAvg(Tables.events(s, d))
        .orderBy("event_type", "day"),
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS d, count(*) AS cnt
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT event_type, strftime(d, '%Y-%m-%d') AS day, cnt,
        |  round(avg(cnt) OVER (PARTITION BY event_type ORDER BY d
        |    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW), 4) AS avg7
        |FROM daily ORDER BY event_type, day""".stripMargin,
      Gate.marker("range frame runs over the aggregated daily relation", "Window", "partial_count")),

    Q("events_corr", (s, d) =>
      EventAnalytics.dailyCorr(Tables.events(s, d))
        .orderBy("type_a", "type_b"),
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS d, count(*) AS cnt
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  round(corr(a.cnt, b.cnt), 4) AS corr_daily, count(*) AS n_days
        |FROM daily a JOIN daily b ON a.d = b.d AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin),
  )
}
