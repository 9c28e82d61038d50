package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Classic warehouse-analytics vocabulary the inventory was still
  * missing: cohort retention, RANGE-frame moving windows, and pivot
  * (crosstab). All oracle-verified; days are UTC epoch-day longs
  * (`epoch_ms // 86400000`) so no date-type rendering ever crosses the
  * engine boundary.
  */
object AnalyticsQueries {

  private val Srcs = (0 until 20).map(i => s"src$i")

  val defs: Seq[(String, QueryDef)] = Seq(

    // q108: COHORT RETENTION — users grouped by signup day, counted on
    // each later day they were active (the growth report next to q107's
    // funnel). Shapes: per-user cohort day is one partial-combined
    // aggregate; activity pre-distincts (user, day) BEFORE the join so
    // the join carries one row per user-day, never per event; after the
    // join (user, day) uniqueness makes count(*) = distinct users with
    // no second distinct pass.
    "q108_retention" -> QueryDef.of(
      """WITH coh AS (
        |  SELECT user_id, MIN(epoch_ms(ts) // 86400000) AS cohort_day
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id
        |), act AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
        |)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM act JOIN coh USING (user_id)
        |WHERE day >= cohort_day
        |GROUP BY cohort_day, day_offset
        |""".stripMargin) { (s, dir) =>
      val day = (unix_millis(col("ts")) / lit(86400000L)).cast("long")
      val ev = Tables.events(s, dir)
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(day).as("cohort_day"))
      val activity = ev.select(col("user_id"), day.as("day")).distinct()
      activity.join(cohorts, "user_id")
        .filter(col("day") >= col("cohort_day"))
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).cast("long").as("n_users"))
    },

    // q109: RANGE-frame moving window — trailing 3-day event volume per
    // type over daily rollups. The RANGE frame (value-based, -2..0 on
    // the day number) differs from ROWS when days are missing: absent
    // days contribute nothing, so trail_days < 3 exposes gaps — which is
    // the point of the report. One partial-combined rollup, then a
    // window over #types × #days rows — the window input is already
    // aggregate-sized, never event-sized.
    "q109_moving_window" -> QueryDef.of(
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |    COUNT(*) AS n FROM events GROUP BY event_type, day
        |)
        |SELECT event_type, day, CAST(n AS BIGINT) AS n,
        |  CAST(SUM(n) OVER w AS BIGINT) AS trail_sum,
        |  CAST(COUNT(n) OVER w AS BIGINT) AS trail_days
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
        |""".stripMargin) { (s, dir) =>
      val day = (unix_millis(col("ts")) / lit(86400000L)).cast("long")
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), day.as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-2, Window.currentRow)
      daily.select(col("event_type"), col("day"), col("n").cast("long").as("n"),
        sum(col("n")).over(w).cast("long").as("trail_sum"),
        count(col("n")).over(w).cast("long").as("trail_days"))
    },

    // q112: GROUP-WISE LINEAR REGRESSION — per-event-type trend of daily
    // volume over the month (is error volume growing?). The slope
    // emits as an EXACT INTEGER FRACTION: num = n·Sxy − Sx·Sy,
    // den = n·Sxx − Sx² over integer day/count sums — no float ever
    // crosses the engine boundary, unlike regr_slope whose double
    // rendering is engine-specific. Magnitudes: day ≈ 19.7k, 30 days →
    // den ≈ 1e10, num ≈ 1e12 — longs throughout. One rollup + one
    // #types-row aggregate; the regression math is free at any scale.
    "q112_groupwise_regression" -> QueryDef.of(
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS x, COUNT(*) AS y
        |  FROM events GROUP BY event_type, x
        |)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS slope_num,
        |  CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS slope_den
        |FROM daily GROUP BY event_type
        |""".stripMargin) { (s, dir) =>
      val day = (unix_millis(col("ts")) / lit(86400000L)).cast("long")
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), day.as("x"))
        .agg(count(lit(1)).as("y"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_days"),
          (count(lit(1)) * sum(col("x") * col("y")) - sum(col("x")) * sum(col("y")))
            .cast("long").as("slope_num"),
          (count(lit(1)) * sum(col("x") * col("x")) - sum(col("x")) * sum(col("x")))
            .cast("long").as("slope_den"))
    },

    // q113: ROLLUP (grouping sets) — doc counts and token volume at
    // (lang, source), per-lang subtotal, and grand total in ONE pass:
    // Catalyst plans rollup via Expand (3 replicas per row here), which
    // is the RIGHT use of Expand — the alternative is three separate
    // aggregation passes over the corpus. grouping_id() disambiguates
    // subtotal rows from real NULL groups. (DuckDB's GROUPING() takes
    // the columns; Spark's grouping_id() packs the same bits.)
    "q113_rollup" -> QueryDef.of(
      """SELECT lang, source,
        |  CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY ROLLUP (lang, source)
        |""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .rollup(col("lang"), col("source"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).cast("long").as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .select(col("lang"), col("source"), col("gid"), col("docs"), col("chars"))
    },

    // q116: CUBE — q113's rollup plus the per-source subtotal slice, i.e.
    // all four grouping sets of (lang, source) in ONE Expand pass (4
    // replicas per row). The marginal cost over ROLLUP is one more
    // replica, still strictly cheaper than the four separate corpus
    // passes it replaces; partial-combines collapse every grouping set
    // before the single exchange, so the shuffle carries group-sized
    // rows for all four sets at once.
    "q116_cube" -> QueryDef.of(
      """SELECT lang, source,
        |  CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY CUBE (lang, source)
        |""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .cube(col("lang"), col("source"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).cast("long").as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .select(col("lang"), col("source"), col("gid"), col("docs"), col("chars"))
    },

    // q110: PIVOT (crosstab) — documents counted lang × source with the
    // source list as explicit pivot values (deterministic column order;
    // an unlisted-values pivot runs a driver-side distinct scan first —
    // the thing to avoid at scale). Spark's pivot-count yields null for
    // empty cells where the oracle's FILTER counts 0: na.fill closes
    // the gap.
    "q110_pivot" -> QueryDef.of(
      s"""SELECT lang,
         |  ${Srcs.map(c => s"CAST(COUNT(*) FILTER (WHERE source = '$c') AS BIGINT) AS $c").mkString(",\n  ")}
         |FROM documents GROUP BY lang
         |""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .pivot("source", Srcs)
        .agg(count(lit(1)))
        .na.fill(0L, Srcs)
    }
  )
}
