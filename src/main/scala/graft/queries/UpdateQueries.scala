package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.F

/** SURVEY.md §2.A (continued) — the reference's table-maintenance
  * semantics: upsert-with-status (srm_tools/update_table.py
  * airtable_updater_flow) and field-level manual fixes
  * (operators/derive/manual_fixes.py). The "fetched" side is derived
  * deterministically from the test tables so the oracle can reproduce it.
  */
object UpdateQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // q36: upsert flow (update_table.py:56): current FULL OUTER JOIN
    // fetched on the row id; rows present in fetched become ACTIVE with
    // merged fields, rows only in current go INACTIVE; a row hash detects
    // real changes (test_hash) so unchanged rows can be skipped downstream.
    "q36_upsert" -> QueryDef.of(
      """WITH current AS (
        |  SELECT c_custkey AS id, c_name AS name, CAST(c_acctbal AS DECIMAL(18,2)) AS balance
        |  FROM customer
        |), fetched AS (
        |  SELECT o_custkey AS id,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS balance
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |  GROUP BY o_custkey
        |)
        |SELECT coalesce(c.id, f.id) AS id,
        |  c.name AS name,
        |  CAST(coalesce(f.balance, c.balance) AS DOUBLE) AS balance,
        |  CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status,
        |  (c.id IS NOT NULL AND f.id IS NOT NULL AND f.balance <> c.balance) AS changed
        |FROM current c FULL OUTER JOIN fetched f ON c.id = f.id
        |""".stripMargin) { (s, dir) =>
      val current = Tables.customer(s, dir).select(
        col("c_custkey").as("c_id"), col("c_name").as("name"), F.money(col("c_acctbal")).as("c_balance"))
      val fetched = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .groupBy(col("o_custkey").as("f_id"))
        .agg(sum(F.money(col("o_totalprice"))).cast("decimal(18,2)").as("f_balance"))
      current.join(fetched, col("c_id") === col("f_id"), "full_outer")
        .select(
          coalesce(col("c_id"), col("f_id")).as("id"),
          col("name"),
          coalesce(col("f_balance"), col("c_balance")).cast("double").as("balance"),
          when(col("f_id").isNotNull, "ACTIVE").otherwise("INACTIVE").as("status"),
          (col("c_id").isNotNull && col("f_id").isNotNull && col("f_balance") =!= col("c_balance")).as("changed"))
    },

    // q37: manual fixes (manual_fixes.py): a (record, field, value) patch
    // table applied over the base — left join + per-field coalesce, with a
    // used/unused accounting flag (the reference tracks fix usage).
    "q37_manual_fixes" -> QueryDef.of(
      """WITH fixes AS (
        |  SELECT c_custkey AS fix_id, upper(c_name) AS new_name
        |  FROM customer WHERE c_custkey % 100 = 0
        |)
        |SELECT c_custkey AS custkey,
        |  coalesce(f.new_name, c_name) AS name,
        |  (f.fix_id IS NOT NULL) AS was_fixed
        |FROM customer c LEFT JOIN fixes f ON c.c_custkey = f.fix_id
        |""".stripMargin) { (s, dir) =>
      val customers = Tables.customer(s, dir)
      val fixes = customers.filter(col("c_custkey") % 100 === 0)
        .select(col("c_custkey").as("fix_id"), upper(col("c_name")).as("new_name"))
      customers.join(broadcast(fixes), col("c_custkey") === col("fix_id"), "left")
        .select(
          col("c_custkey").as("custkey"),
          coalesce(col("new_name"), col("c_name")).as("name"),
          col("fix_id").isNotNull.as("was_fixed"))
    },

    // q122: row-validity gate (utilities/update.py:3 filter_valid_rows) —
    // keep rows where at least one watched field is usable, before an
    // update batch ships. Faithful to the reference's CODE, which
    // invalidates exactly NULL, float NaN, and trim-lower == 'none'
    // (its docstring also claims empty strings, but the code keeps them
    // — the code is the behavior we re-express). The dirty batch is
    // derived deterministically from `customer` (hash-mod field
    // corruption) so the oracle reproduces it; the filter itself is one
    // codegen'd boolean over the row — map-side, zero shuffles at any
    // scale. Per-field validity flags ride out for the update
    // accounting the reference logs.
    "q122_valid_rows" -> QueryDef.of(
      """WITH dirtied AS (
        |  SELECT c_custkey AS id,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'None' ELSE c_mktsegment END AS segment,
        |    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_name END AS name,
        |    CASE WHEN c_custkey % 11 = 0 THEN CAST('NaN' AS DOUBLE)
        |         ELSE CAST(c_acctbal AS DOUBLE) END AS bal
        |  FROM customer
        |), flagged AS (
        |  SELECT id,
        |    (segment IS NOT NULL AND lower(trim(segment)) <> 'none') AS segment_valid,
        |    (name IS NOT NULL AND lower(trim(name)) <> 'none') AS name_valid,
        |    (bal IS NOT NULL AND NOT isnan(bal)) AS bal_valid
        |  FROM dirtied
        |)
        |SELECT id, segment_valid, name_valid, bal_valid
        |FROM flagged WHERE segment_valid OR name_valid OR bal_valid
        |""".stripMargin) { (s, dir) =>
      def strValid(c: org.apache.spark.sql.Column) =
        c.isNotNull && lower(trim(c)) =!= "none"
      val dirtied = Tables.customer(s, dir).select(
        col("c_custkey").as("id"),
        when(col("c_custkey") % 5 === 0, "None").otherwise(col("c_mktsegment")).as("segment"),
        when(col("c_custkey") % 3 === 0, lit(null)).otherwise(col("c_name")).as("name"),
        when(col("c_custkey") % 11 === 0, lit(Double.NaN))
          .otherwise(col("c_acctbal").cast("double")).as("bal"))
      dirtied.select(
        col("id"),
        strValid(col("segment")).as("segment_valid"),
        strValid(col("name")).as("name_valid"),
        (col("bal").isNotNull && !isnan(col("bal"))).as("bal_valid"))
        .filter(col("segment_valid") || col("name_valid") || col("bal_valid"))
    },

    // q124: SCD TYPE-2 merge — q36 is the reference's SCD-1 overwrite
    // (latest value wins, history lost); the type-2 form every
    // warehouse keeps for auditable dimensions: a changed attribute
    // CLOSES the open version (valid_to = batch time) and inserts a new
    // open one, unchanged rows pass through untouched, brand-new ids
    // open at the batch time. One full-outer join on the key decides
    // all four fates in a single pass (no per-fate re-scan); the three
    // outputs are projections of that one joined frame, so the union
    // is plan-reuse, not re-computation. DECIMAL(18,2) balance
    // comparisons — never double equality. Scale: the join shuffles on
    // id (linear), the union adds no exchange.
    "q124_scd2_merge" -> QueryDef.of(
      """WITH current AS (
        |  SELECT c_custkey AS id, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
        |    CAST(0 AS BIGINT) AS valid_from
        |  FROM customer
        |), batch AS (
        |  SELECT o_custkey AS id,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS bal
        |  FROM orders GROUP BY o_custkey
        |), j AS (
        |  SELECT coalesce(c.id, b.id) AS id, c.bal AS c_bal, b.bal AS b_bal,
        |    c.valid_from AS c_from,
        |    (c.id IS NOT NULL AND b.id IS NOT NULL AND c.bal <> b.bal) AS changed,
        |    (c.id IS NULL) AS brand_new
        |  FROM current c FULL OUTER JOIN batch b ON c.id = b.id
        |)
        |SELECT id, CAST(bal AS DOUBLE) AS bal, valid_from, valid_to, is_current FROM (
        |  SELECT id, c_bal AS bal, c_from AS valid_from,
        |    CAST(1000 AS BIGINT) AS valid_to, FALSE AS is_current
        |  FROM j WHERE changed
        |  UNION ALL
        |  SELECT id, c_bal AS bal, c_from AS valid_from,
        |    CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
        |  FROM j WHERE NOT changed AND NOT brand_new
        |  UNION ALL
        |  SELECT id, b_bal AS bal, CAST(1000 AS BIGINT) AS valid_from,
        |    CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
        |  FROM j WHERE changed OR brand_new
        |)
        |""".stripMargin) { (s, dir) =>
      val batchTs = lit(1000L)
      val current = Tables.customer(s, dir).select(
        col("c_custkey").as("c_id"), F.money(col("c_acctbal")).as("c_bal"),
        lit(0L).as("c_from"))
      val batch = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("b_id"))
        .agg(sum(F.money(col("o_totalprice"))).cast("decimal(18,2)").as("b_bal"))
      val j = current.join(batch, col("c_id") === col("b_id"), "full_outer")
        .select(
          coalesce(col("c_id"), col("b_id")).as("id"),
          col("c_bal"), col("b_bal"), col("c_from"),
          (col("c_id").isNotNull && col("b_id").isNotNull &&
            col("c_bal") =!= col("b_bal")).as("changed"),
          col("c_id").isNull.as("brand_new"))
      val closed = j.filter(col("changed")).select(
        col("id"), col("c_bal").as("bal"), col("c_from").as("valid_from"),
        batchTs.as("valid_to"), lit(false).as("is_current"))
      val stillOpen = j.filter(!col("changed") && !col("brand_new")).select(
        col("id"), col("c_bal").as("bal"), col("c_from").as("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
      val opened = j.filter(col("changed") || col("brand_new")).select(
        col("id"), col("b_bal").as("bal"), batchTs.as("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
      closed.unionAll(stillOpen).unionAll(opened)
        // DECIMAL for the comparison, DOUBLE on the boundary (q36's rule)
        .withColumn("bal", col("bal").cast("double"))
        .select(col("id"), col("bal"), col("valid_from"), col("valid_to"),
          col("is_current"))
    }
  )
}
