package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** SURVEY.md §2 — the search-quality BENCHMARK monitor
  * (operators/benchmark/__init__.py, the reference's last unmapped
  * operator): its fetch half (live-API autocomplete/search probes) is
  * egress and stays out of scope, but every piece of MATH it runs on the
  * responses is modeled here on deterministic synthetic response
  * fixtures:
  *  - q149: the did-you-mean RE-RANK (:41 search_dym — log-length
  *    doc-count adjustment, re-sort, shard/threshold gates) and the
  *    per-query RANK-QUALITY SCORE (:126 run_single_benchmark — 0.89^i
  *    position discount, per-card majority vote over mapped
  *    Good/Bad/Neutral decisions with Counter's first-encountered
  *    tie-break, signed score normalized to ±100).
  *  - q150: the HISTORY emission ladder (:208 — keep-last per query by
  *    date, then the exact skip chain: unchanged score+suggestion, both
  *    suggestions empty, signed score delta < 0.1, falsy score — score
  *    0.0 skips, the Python-truthiness quirk kept).
  */
object BenchmarkQueries {

  /** Decision mapping stand-in: the reference looks up Airtable's human
    * Good/Bad/Neutral labels by 'query:id'; here the label derives from
    * the same ints that make the id — mod-5 with two Good arms (so Good
    * majorities, Bad majorities, ties and unmapped all occur). */
  private def decSql(x: String): String =
    s"CASE (($x) % 5) WHEN 0 THEN 'Good' WHEN 1 THEN 'Bad' WHEN 2 THEN 'Neutral' WHEN 4 THEN 'Good' END"
  private def decCol(x: Column): Column =
    when(x % 5 === 0, "Good").when(x % 5 === 1, "Bad")
      .when(x % 5 === 2, "Neutral").when(x % 5 === 4, "Good")

  val defs: Seq[(String, QueryDef)] = Seq(

    // q149: benchmark scoring — one output row per probe query. The
    // cards arm replays run_single_benchmark's loop as a per-card
    // projection + one per-query aggregate: the two result lists
    // (national=false/true) keep their OWN 0-based positions (the
    // reference concatenates two enumerate()s — positions repeat, the
    // quirk kept), each card's decision list is [service, organization,
    // responses..., situations...] in emission order, Neutral/unmapped
    // drop, majority wins and a tie falls to the FIRST decision in list
    // order (Counter.most_common insertion-order tie-break). The dym arm
    // replays search_dym relationally: entry 0 keeps its raw doc_count,
    // later entries scale by ln(len(key))/ln(len(key0)), the re-sorted
    // winner must clear shard-size and min(50,total)/3 gates, total<10
    // aborts; a miss falls back to the autocomplete suggestion.
    // Floats: doubles end-to-end with e-notation literals (the DuckDB
    // DECIMAL trap), score rounded to 4dp (SURVEY §4 transcendental
    // posture — the per-query sum is ≤9 addends). Plan: generated card
    // rows (explode over a bounded sequence — no driver loop), one
    // groupBy(qn) aggregate, the dym winner through a per-key window
    // (the rewrite lowers it onto TopKPerKey), three slim per-qn joins.
    "q149_benchmark_score" -> QueryDef.of {
      val dSvc = decSql("qn + sid*2")
      val dOrg = decSql("qn + oid*3 + 1")
      def dResp(r: Int) = decSql(s"qn + ((qn + i*11 + $r*29) % 80)*5 + 2")
      val dSit = decSql("qn + ((qn*7 + i*13) % 40)*7 + 3")
      s"""WITH q AS (
         |  SELECT DISTINCT c_custkey % 120 AS qn FROM customer),
         |lists AS (SELECT 0 AS l UNION ALL SELECT 1),
         |cards AS (
         |  SELECT qn, l,
         |    unnest(range(CASE WHEN l = 0 THEN 3 + qn % 5 ELSE 2 + qn % 4 END)) AS i
         |  FROM q, lists),
         |ent AS (
         |  SELECT qn, l, i,
         |    (qn*31 + l*17 + i*7) % 90 AS sid,
         |    (qn*13 + l*5 + i*3) % 70 AS oid,
         |    i % 3 AS nr, i % 2 AS ns
         |  FROM cards),
         |scored AS (
         |  SELECT qn, l, i, power(89e-2, i) AS ind,
         |    list_filter([
         |      $dSvc,
         |      $dOrg,
         |      CASE WHEN nr > 0 THEN ${dResp(0)} END,
         |      CASE WHEN nr > 1 THEN ${dResp(1)} END,
         |      CASE WHEN ns > 0 THEN $dSit END
         |    ], x -> x IN ('Good', 'Bad')) AS filt
         |  FROM ent),
         |votes AS (
         |  SELECT qn, ind,
         |    len(list_filter(filt, x -> x = 'Good')) AS g,
         |    len(list_filter(filt, x -> x = 'Bad')) AS b,
         |    filt[1] AS first_dec
         |  FROM scored),
         |agg AS (
         |  SELECT qn,
         |    round(100e0 * sum(CASE WHEN g + b = 0 THEN 0e0
         |                           WHEN g > b THEN ind
         |                           WHEN b > g THEN -ind
         |                           WHEN first_dec = 'Good' THEN ind
         |                           ELSE -ind END) / sum(ind), 4) AS score
         |  FROM votes GROUP BY qn),
         |pa AS (
         |  SELECT qn, unnest(range(2 + qn % 4)) AS j FROM q),
         |pa2 AS (
         |  SELECT qn, j,
         |    repeat('א', 3 + (qn + j*2) % 7) || CAST(j AS VARCHAR) AS key,
         |    4 + (qn + j*2) % 7 AS klen,
         |    4 + qn % 7 AS klen0,
         |    5 + (qn*3 + j*11) % 60 AS dc
         |  FROM pa),
         |pa3 AS (
         |  SELECT qn, j, key,
         |    CASE WHEN j = 0 THEN CAST(dc AS DOUBLE)
         |         ELSE dc * ln(CAST(klen AS DOUBLE)) / ln(CAST(klen0 AS DOUBLE)) END AS adj
         |  FROM pa2),
         |win AS (
         |  SELECT qn, key, adj,
         |    row_number() OVER (PARTITION BY qn ORDER BY adj DESC, j ASC) AS rn
         |  FROM pa3),
         |dym AS (
         |  SELECT qn,
         |    CASE WHEN (qn*13) % 120 >= 10 AND adj <= 50e0
         |              AND adj > CAST(least(50, (qn*13) % 120) AS DOUBLE) / 3e0
         |         THEN key END AS dym_key
         |  FROM win WHERE rn = 1)
         |SELECT 'שאילתה ' || CAST(q.qn AS VARCHAR) AS query,
         |  q.qn % 3 = 0 AS structured,
         |  CAST((q.qn*7) % 150 AS BIGINT) AS n_results,
         |  CASE WHEN q.qn % 3 = 0 THEN NULL
         |       ELSE COALESCE(d.dym_key,
         |         CASE WHEN q.qn % 2 = 0 THEN 'הצעה ' || CAST(q.qn AS VARCHAR) END) END AS suggestion,
         |  a.score AS score
         |FROM q JOIN agg a ON q.qn = a.qn JOIN dym d ON q.qn = d.qn
         |""".stripMargin
    } { (s, dir) =>
      val qn = col("qn")
      val q = Tables.customer(s, dir)
        .select((col("c_custkey") % 120).as("qn")).distinct()
      val cards = q
        .withColumn("l", explode(array(lit(0), lit(1))))
        .withColumn("i", explode(sequence(lit(0),
          when(col("l") === 0, lit(3) + qn % 5).otherwise(lit(2) + qn % 4) - 1)))
      val i = col("i")
      val ent = cards.select(qn, col("l"), i,
        ((qn * 31 + col("l") * 17 + i * 7) % 90).as("sid"),
        ((qn * 13 + col("l") * 5 + i * 3) % 70).as("oid"),
        (i % 3).as("nr"), (i % 2).as("ns"))
      def dResp(r: Int) = decCol(qn + ((qn + i * 11 + r * 29) % 80) * 5 + 2)
      val scored = ent.select(qn, pow(lit(0.89), i).as("ind"),
        filter(array(
          decCol(qn + col("sid") * 2),
          decCol(qn + col("oid") * 3 + 1),
          when(col("nr") > 0, dResp(0)),
          when(col("nr") > 1, dResp(1)),
          when(col("ns") > 0, decCol(qn + ((qn * 7 + i * 13) % 40) * 7 + 3))),
          x => x.isin("Good", "Bad")).as("filt"))
      val g = size(filter(col("filt"), x => x === "Good"))
      val b = size(col("filt")) - size(filter(col("filt"), x => x === "Good"))
      val signed = when(size(col("filt")) === 0, lit(0.0))
        .when(g > b, col("ind"))
        .when(b > g, -col("ind"))
        .when(element_at(col("filt"), 1) === "Good", col("ind"))
        .otherwise(-col("ind"))
      val agg0 = scored.select(qn, col("ind"), signed.as("signed"))
        .groupBy(qn)
        .agg(round(lit(100.0) * sum(col("signed")) / sum(col("ind")), 4).as("score"))
      val j = col("j")
      val pa = q.withColumn("j", explode(sequence(lit(0), lit(1) + qn % 4)))
        .select(qn, j,
          concat(expr("repeat('א', 3 + (qn + j*2) % 7)"), j.cast("string")).as("key"),
          (lit(4) + (qn + j * 2) % 7).as("klen"),
          (lit(4) + qn % 7).as("klen0"),
          (lit(5) + (qn * 3 + j * 11) % 60).as("dc"))
      val adj = when(j === 0, col("dc").cast("double"))
        .otherwise(col("dc") * log(col("klen").cast("double")) / log(col("klen0").cast("double")))
      val win = pa.withColumn("adj", adj)
        .withColumn("rn", row_number().over(
          Window.partitionBy(qn).orderBy(col("adj").desc, j.asc)))
        .filter(col("rn") === 1)
      val total = (qn * 13) % 120
      val dym = win.select(qn,
        when(total >= 10 && col("adj") <= 50.0 &&
          col("adj") > least(lit(50), total).cast("double") / lit(3.0),
          col("key")).as("dym_key"))
      q.join(agg0, Seq("qn")).join(dym, Seq("qn"))
        .select(
          concat(lit("שאילתה "), qn.cast("string")).as("query"),
          (qn % 3 === 0).as("structured"),
          ((qn * 7) % 150).cast("long").as("n_results"),
          when(qn % 3 === 0, lit(null).cast("string"))
            .otherwise(coalesce(col("dym_key"),
              when(qn % 2 === 0, concat(lit("הצעה "), qn.cast("string"))))).as("suggestion"),
          col("score"))
    },

    // q150: the history change-detect ladder (:208) — keep-LAST history
    // per query by date (sort_rows + join_with_self 'last'), left-join
    // the fresh benchmark row, then the exact skip chain in code order:
    // (1) score AND suggestion unchanged (null-safe equality — None ==
    // None passes in Python), (2) both suggestions empty, (3) both
    // scores truthy and the SIGNED delta < 0.1 (a big score DROP also
    // skips — the reference's quirk, kept), (4) falsy new score (0.0
    // skips like None — Python truthiness). Emitted rows are the new
    // history records (Date excluded: now() is nondeterministic).
    // Plan: one keep-last exchange through the TopKPerKey-lowered
    // window + one broadcast-size left join.
    "q150_benchmark_history" -> QueryDef.of(
      """WITH hist AS (
        |  SELECT o_orderkey % 100 AS qn, o_orderkey AS dt,
        |    CASE WHEN o_orderkey % 11 = 5 THEN NULL
        |         ELSE CAST((o_orderkey*7) % 1000 AS DOUBLE) / 10e0 END AS h_score,
        |    CASE WHEN o_orderkey % 4 = 0 THEN 'הצעה ' || CAST(o_orderkey % 9 AS VARCHAR) END AS h_sugg
        |  FROM orders),
        |last AS (
        |  SELECT qn, h_score, h_sugg FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qn ORDER BY dt DESC) AS rn FROM hist)
        |  WHERE rn = 1),
        |bench AS (
        |  SELECT DISTINCT c_custkey % 120 AS qn FROM customer),
        |b2 AS (
        |  SELECT qn,
        |    CASE WHEN qn % 7 = 3 THEN NULL ELSE CAST((qn*37) % 1000 AS DOUBLE) / 10e0 END AS score,
        |    CASE WHEN qn % 3 = 0 THEN 'הצעה ' || CAST(qn % 9 AS VARCHAR) END AS sugg,
        |    CAST((qn*11) % 50 AS BIGINT) AS n_results
        |  FROM bench),
        |j AS (
        |  SELECT b2.*, l.h_score, l.h_sugg, l.qn IS NOT NULL AS has_hist
        |  FROM b2 LEFT JOIN last l ON b2.qn = l.qn)
        |SELECT 'שאילתה ' || CAST(qn AS VARCHAR) AS query, score, sugg AS suggestion, n_results
        |FROM j
        |WHERE NOT (has_hist AND score IS NOT DISTINCT FROM h_score AND sugg IS NOT DISTINCT FROM h_sugg)
        |  AND NOT (has_hist AND sugg IS NULL AND h_sugg IS NULL)
        |  AND NOT (has_hist AND COALESCE(score, 0e0) <> 0e0 AND COALESCE(h_score, 0e0) <> 0e0
        |           AND (score - h_score) < 1e-1)
        |  AND COALESCE(score, 0e0) <> 0e0
        |""".stripMargin) { (s, dir) =>
      val o = col("o_orderkey")
      val hist = Tables.orders(s, dir).select(
        (o % 100).as("qn"), o.as("dt"),
        when(o % 11 === 5, lit(null).cast("double"))
          .otherwise(((o * 7) % 1000).cast("double") / lit(10.0)).as("h_score"),
        when(o % 4 === 0, concat(lit("הצעה "), (o % 9).cast("string"))).as("h_sugg"))
      val last = hist
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qn")).orderBy(col("dt").desc)))
        .filter(col("rn") === 1)
        .select(col("qn"), col("h_score"), col("h_sugg"), lit(true).as("has_hist"))
      val qn = col("qn")
      val b2 = Tables.customer(s, dir)
        .select((col("c_custkey") % 120).as("qn")).distinct()
        .select(qn,
          when(qn % 7 === 3, lit(null).cast("double"))
            .otherwise(((qn * 37) % 1000).cast("double") / lit(10.0)).as("score"),
          when(qn % 3 === 0, concat(lit("הצעה "), (qn % 9).cast("string"))).as("sugg"),
          ((qn * 11) % 50).cast("long").as("n_results"))
      val j = b2.join(broadcast(last), Seq("qn"), "left")
        .withColumn("has_hist", coalesce(col("has_hist"), lit(false)))
      j.filter(
        !(col("has_hist") && col("score") <=> col("h_score") && col("sugg") <=> col("h_sugg")) &&
          !(col("has_hist") && col("sugg").isNull && col("h_sugg").isNull) &&
          !(col("has_hist") && coalesce(col("score"), lit(0.0)) =!= 0.0 &&
            coalesce(col("h_score"), lit(0.0)) =!= 0.0 &&
            col("score") - col("h_score") < 0.1) &&
          coalesce(col("score"), lit(0.0)) =!= 0.0)
        .select(concat(lit("שאילתה "), qn.cast("string")).as("query"),
          col("score"), col("sugg").as("suggestion"), col("n_results"))
    }
  )
}
