package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.F

/** SURVEY.md §2.B — event/time processing in batch form. The streaming
  * twins (Structured Streaming with watermarks / state) live in
  * `graft.streaming` and are covered by ScalaTest; these batch versions
  * are the oracle-checked semantics.
  */
object EventQueries {

  /** The 30-minute-gap sessionization kernel, shared by q21/q133/q134
    * (and ProfSession): lag -> flag -> running sum over one user_id
    * shuffle, gap compared in MICROSECONDS (the parquet precision, so
    * both engines compare identical integers). Events exactly at the
    * gap stay IN-session (`>`), the rule the oracles replay verbatim
    * (lesson 40: built-in session_window draws that boundary
    * differently). Appends `session_idx`, drops the flag. */
  private[graft] def sessionized(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val micros = unix_micros(col("ts"))
    ev.withColumn("new_sess",
        when(micros - lag(micros, 1).over(byUser) > 1800000000L, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .drop("new_sess")
  }

  /** The identical kernel as oracle CTEs (`flagged`, `sess`) over the
    * `events` table; `sess` carries (user_id, ts, event_id, event_type,
    * session_idx). */
  private[graft] val sessionCtes: String =
    """flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |), sess AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      |  FROM flagged
      |)""".stripMargin


  val defs: Seq[(String, QueryDef)] = Seq(

    // q20: tumbling-window aggregation — hourly event rollup. In batch the
    // window key is just a truncated timestamp: one shuffle on
    // (hour, nothing else); at 100 TB the parquet scan prunes to the
    // 3 needed columns and aggregation is partial map-side.
    "q20_tumbling" -> QueryDef.of(
      """SELECT date_trunc('hour', ts) AS hour_start,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(F.money(col("value"))).cast("double").as("total_value"))
    },

    // q21: sessionization with a 30-minute inactivity gap. Classic
    // lag -> flag -> running-sum session ids; both windows share one
    // shuffle on user_id. Gap compare in microseconds to match parquet
    // timestamp precision exactly on both engines.
    "q21_session" -> QueryDef.of(
      s"""WITH $sessionCtes
        |SELECT user_id, session_idx, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  min(ts) AS start_ts, max(ts) AS end_ts
        |FROM sess GROUP BY user_id, session_idx
        |""".stripMargin) { (s, dir) =>
      sessionized(Tables.events(s, dir))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("start_ts"),
          max(col("ts")).as("end_ts"))
    },

    // q92: AS-OF join — purchase attribution: each purchase gets the most
    // recent view AT OR BEFORE it by the same user (ties at one timestamp
    // broken by largest event_id). The oracle is the pair-expanding
    // encoding (LEFT JOIN on key + b.ts <= p.ts, keep rank 1) — correct
    // but quadratic inside a key; the Spark plan is AsOf.asofJoin's
    // union-tag carry-forward: ONE shuffle on user_id, linear scan, build
    // rows never pair with probes. Same semantics, scale-safe plan.
    "q92_asof_join" -> QueryDef.of(
      """SELECT event_id, user_id, ts, value, view_ts, view_event_id,
        |  CAST(CASE WHEN view_ts IS NULL THEN NULL
        |       ELSE epoch_us(ts) - epoch_us(view_ts) END AS BIGINT) AS gap_us
        |FROM (
        |  SELECT p.event_id, p.user_id, p.ts, p.value,
        |    v.ts AS view_ts, v.event_id AS view_event_id,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY v.ts DESC NULLS LAST, v.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |    ON p.user_id = v.user_id AND v.ts <= p.ts
        |) WHERE rn = 1
        |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOf.asofJoin(
        purchases, views, key = "user_id", time = "ts",
        carryCols = Seq("ts", "event_id"), buildTie = "event_id", prefix = "view_")
        .withColumn("gap_us",
          (unix_micros(col("ts")) - unix_micros(col("view_ts"))).cast("long"))
    },

    // q93: RANGE join — error events attributed to "hot windows": hourly
    // buckets whose event count exceeds 1.25x the global hourly mean,
    // widened 15 min each way (so windows are NOT bin-aligned and
    // adjacent hot hours overlap — a real interval join, not a group-by).
    // The oracle writes the inequality join directly (DuckDB plans it as
    // IEJoin); Spark would nested-loop it, so RangeJoin.pointInInterval
    // quantizes the axis into 30-min bins and equi-joins on the bin with
    // the containment residual — pairs-that-share-a-bin, never all-pairs.
    "q93_range_join" -> QueryDef.of(
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS cnt
        |  FROM events GROUP BY 1
        |), hot AS (
        |  SELECT h - INTERVAL 15 MINUTE AS w_start,
        |         h + INTERVAL 75 MINUTE AS w_end, cnt AS w_events
        |  FROM hourly
        |  WHERE cnt > 1.25 * (SELECT AVG(cnt) FROM hourly)
        |)
        |SELECT w.w_start, w.w_end, CAST(w.w_events AS BIGINT) AS w_events,
        |  e.event_id, e.ts, e.user_id
        |FROM hot w JOIN events e
        |  ON e.ts >= w.w_start AND e.ts < w.w_end
        |WHERE e.event_type = 'error'
        |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"))
      // threshold as a broadcast scalar join, not a driver-side action:
      // the 1-row mean replicates to every hourly partition for free.
      val hot = hourly
        .crossJoin(broadcast(hourly.agg(avg(col("cnt")).as("__mean"))))
        .filter(col("cnt") > lit(1.25) * col("__mean"))
        .select(
          (col("h") - expr("INTERVAL 15 MINUTE")).as("w_start"),
          (col("h") + expr("INTERVAL 75 MINUTE")).as("w_end"),
          col("cnt").cast("long").as("w_events"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("ts"), col("user_id"))
      graft.operators.RangeJoin.pointInInterval(
        errors, "ts", hot, "w_start", "w_end", binWidth = 30L * 60 * 1000000)
        .select(col("w_start"), col("w_end"), col("w_events"),
          col("event_id"), col("ts"), col("user_id"))
    },

    // q133: interval-OVERLAP join — which user sessions overlapped an
    // incident window (the interval×interval extension of q93: sessions
    // from q21's gap rule, windows from q93's hot-hour rule). Spark's
    // plan for the raw double-inequality join is a nested loop; the
    // binned encoding replicates BOTH sides into covered bins and emits
    // each overlapping pair from exactly ONE canonical bin (the bin of
    // the overlap's start — a bin both sides cover by construction), so
    // there is NO pair-distinct afterwards and the work stays
    // pairs-that-share-a-bin. Session intervals extend 1 µs past their
    // last event (a single-event session still overlaps the window
    // containing its instant); DuckDB oracles the inequality join
    // natively (IEJoin).
    "q133_session_incidents" -> QueryDef.of(
      s"""WITH $sessionCtes, sessions AS (
        |  SELECT user_id, session_idx, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    min(ts) AS s_start, max(ts) AS s_end
        |  FROM sess GROUP BY user_id, session_idx
        |), hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS cnt
        |  FROM events GROUP BY 1
        |), hot AS (
        |  SELECT h - INTERVAL 15 MINUTE AS w_start,
        |         h + INTERVAL 75 MINUTE AS w_end, cnt AS w_events
        |  FROM hourly
        |  WHERE cnt > 1.25 * (SELECT AVG(cnt) FROM hourly)
        |)
        |SELECT s.user_id, s.session_idx, s.n_events, s.s_start, s.s_end,
        |  w.w_start, w.w_end, CAST(w.w_events AS BIGINT) AS w_events
        |FROM sessions s JOIN hot w
        |  ON s.s_start < w.w_end AND w.w_start < s.s_end + INTERVAL 1 MICROSECOND
        |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val sessions = sessionized(ev)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
        .withColumn("__sx", timestamp_micros(unix_micros(col("s_end")) + 1))
      val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"))
      val hot = hourly
        .crossJoin(broadcast(hourly.agg(avg(col("cnt")).as("__mean"))))
        .filter(col("cnt") > lit(1.25) * col("__mean"))
        .select(
          (col("h") - expr("INTERVAL 15 MINUTE")).as("w_start"),
          (col("h") + expr("INTERVAL 75 MINUTE")).as("w_end"),
          col("cnt").cast("long").as("w_events"))
      graft.operators.RangeJoin.intervalOverlap(
          sessions, "s_start", "__sx", hot, "w_start", "w_end",
          binWidth = 30L * 60 * 1000000)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("s_start"), col("s_end"), col("w_start"), col("w_end"), col("w_events"))
    },

    // q136: DAU/WAU report via MERGEABLE daily sketches *(rows-only:
    // sketch internals)* — daily and trailing-7-day distinct users, the
    // growth dashboard's headline pair. The point is the aggregation
    // algebra: ONE corpus-sized pass builds a ~KB Datasketches HLL per
    // day (q86's wire argument), and every trailing window is a UNION of
    // ≤7 daily sketches — exact distinct counts cannot reuse daily
    // aggregates at all (distinct is not mergeable), so the exact form
    // re-touches every event 7× (the spec's twin does exactly that to
    // pin the error). Each daily sketch replicates to the ≤7 windows it
    // feeds (a Generate stage, lesson 37), then unions per window —
    // window work is #days × 7 sketches, independent of event volume.
    "q136_active_users" -> QueryDef.rowsOnly { (s, dir) =>
      // Integer `div`, not `/`: long / long promotes to DOUBLE, whose
      // half-ulp outgrows the 1-µs quotient step past day ~2^16 and
      // truncates-toward-zero on pre-epoch instants.
      val day = expr("unix_micros(ts) div 86400000000")
      val daily = Tables.events(s, dir)
        .groupBy(day.as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      // Phantom trailing window days (day+1..day+6 past a gap or the
      // corpus end) die on the final inner join with `daily` below — a
      // pre-filter against the day list would be a THIRD daily subtree
      // that exchange reuse cannot collapse (its pruned columns differ).
      val contrib = daily
        .select(col("sk"), explode(sequence(col("day"), col("day") + 6)).as("wday"))
      contrib
        .groupBy(col("wday").as("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau_est"))
        .join(daily.select(col("day"), hll_sketch_estimate(col("sk")).as("dau_est")), "day")
        .select(col("day"), col("dau_est").cast("long").as("dau_est"),
          col("wau_est").cast("long").as("wau_est"))
    },

    // q178: q136's ORACLE-GATE twin — exact DAU/WAU (the q66/q67
    // pattern: the exact form gates the day arithmetic, the 7-day
    // contribution explode, and the phantom-trailing-day join; the
    // HLL-sketch form stays the scale path, since the exact WAU's
    // per-(window-day, user) distinct carries 7× the day-user pairs
    // where the sketch union carries 7 × a-few-KB per day). Plan:
    // per-(day, user) distinct partial-combines, then ONE distinct
    // aggregate per window day; trailing days past a gap or the corpus
    // end die on the same inner dau join as q136.
    "q178_active_users_exact" -> QueryDef.of(
      """WITH du AS (
        |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events
        |), dau AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
        |), contrib AS (
        |  SELECT user_id, unnest(range(day, day + 7)) AS day FROM du
        |), wau AS (
        |  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau FROM contrib GROUP BY day
        |)
        |SELECT w.day AS day, dau, wau FROM wau w JOIN dau USING (day)
        |""".stripMargin) { (s, dir) =>
      val day = expr("unix_micros(ts) div 86400000000")
      val du = Tables.events(s, dir)
        .select(day.as("day"), col("user_id")).distinct()
      val dau = du.groupBy(col("day"))
        .agg(count(lit(1)).cast("long").as("dau"))
      val wau = du
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).cast("long").as("wau"))
      wau.join(dau, "day").select(col("day"), col("dau"), col("wau"))
    },

    // q107: FUNNEL analysis — earliest greedy progression through
    // view → click → purchase per user (the event-analytics report
    // sessionization doesn't answer: how far did each user get, and
    // when). Greedy-first is the standard semantics and is optimal
    // (the earliest stage-N completion enables the earliest stage-N+1).
    // Plan shape: ONE exchange on user_id — events collect to a per-user
    // time-sorted array and a single fold walks the state machine; the
    // oracle replays the same greedy with three correlated min-joins.
    // The array is bounded by per-user event history (fine for
    // entity-keyed analytics; an unbounded-history corpus would run the
    // oracle's join-chain form instead: three aggregates co-located on
    // one user_id repartition — measured ~1.5× slower, ProfFunnel).
    // Stage times emit as epoch MICROS — the exact precision the loader
    // produces (ns → µs floor, Tables.events), composing identically to
    // DuckDB's epoch_us on the raw TIMESTAMP_NS column, so the strict-
    // order comparisons run at full stored precision on both engines
    // (and the data has no (user, µs) collisions at any SF anyway).
    "q107_funnel" -> QueryDef.of(
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id
        |)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth,
        |  epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us, epoch_us(t3) AS t3_us
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |""".stripMargin) { (s, dir) =>
      val stageIdx = when(col("event_type") === "view", 0)
        .when(col("event_type") === "click", 1)
        .when(col("event_type") === "purchase", 2)
      graft.operators.Funnel.greedy(
        Tables.events(s, dir), col("user_id"), unix_micros(col("ts")), stageIdx,
        nStages = 3, entityName = "user_id")
        .withColumnRenamed("t1", "t1_us").withColumnRenamed("t2", "t2_us")
        .withColumnRenamed("t3", "t3_us")
    },

    // q134: IN-SESSION funnel — did the user complete view→click→purchase
    // within a single session (q21's 30-minute-gap rule)? The
    // conversion-window ask of product analytics, with the window defined
    // by the session boundary instead of a fixed lag — which keeps the
    // semantics exact: a hard per-stage lag bound breaks greedy-earliest
    // optimality (a later stage-1 anchor can beat the earliest one),
    // while greedy WITHIN a fixed partition is provably optimal, so this
    // composes two verified kernels (q21 sessionization + q107's fold)
    // with no new semantics. Entity = (user, session) struct; the fold's
    // exchange carries slim (entity, t, k) rows.
    "q134_session_funnel" -> QueryDef.of(
      s"""WITH $sessionCtes, v AS (
        |  SELECT user_id, session_idx, MIN(ts) AS t1 FROM sess
        |  WHERE event_type = 'view' GROUP BY user_id, session_idx
        |), c AS (
        |  SELECT s.user_id, s.session_idx, MIN(s.ts) AS t2
        |  FROM sess s JOIN v USING (user_id, session_idx)
        |  WHERE s.event_type = 'click' AND s.ts > t1 GROUP BY s.user_id, s.session_idx
        |), p AS (
        |  SELECT s.user_id, s.session_idx, MIN(s.ts) AS t3
        |  FROM sess s JOIN c USING (user_id, session_idx)
        |  WHERE s.event_type = 'purchase' AND s.ts > t2 GROUP BY s.user_id, s.session_idx
        |)
        |SELECT u.user_id, u.session_idx,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth,
        |  epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us, epoch_us(t3) AS t3_us
        |FROM (SELECT DISTINCT user_id, session_idx FROM sess) u
        |LEFT JOIN v USING (user_id, session_idx)
        |LEFT JOIN c USING (user_id, session_idx)
        |LEFT JOIN p USING (user_id, session_idx)
        |""".stripMargin) { (s, dir) =>
      val sessed = sessionized(Tables.events(s, dir))
      val stageIdx = when(col("event_type") === "view", 0)
        .when(col("event_type") === "click", 1)
        .when(col("event_type") === "purchase", 2)
      graft.operators.Funnel.greedy(
        sessed, struct(col("user_id"), col("session_idx")), unix_micros(col("ts")), stageIdx,
        nStages = 3)
        .select(col("entity.user_id").as("user_id"), col("entity.session_idx").as("session_idx"),
          col("depth"),
          col("t1").as("t1_us"), col("t2").as("t2_us"), col("t3").as("t3_us"))
    }
  )
}
