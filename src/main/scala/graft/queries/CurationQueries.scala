package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.F
import graft.operators.Curation

/** SURVEY.md §2 — curation-base merge (from_curation.py:47) and taxonomy
  * canonicalization (to_dp.py:116), the two recurring reference patterns
  * round 1 left uncovered.
  */
object CurationQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // q46: copy_from_curation_base — gate chain (ACTIVE status, decision
    // not Rejected/Suspended, has services), decision defaulting to 'New',
    // field-subset copy, UPDATE/CREATE classification against the
    // destination table. The service gate's count and the destination id
    // set both come from aggregates, not driver dicts.
    "q46_curation_merge" -> QueryDef.of(
      """WITH svc AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1
        |), cur AS (
        |  SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS balance,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'Rejected'
        |         WHEN c_custkey % 11 = 1 THEN 'Suspended'
        |         WHEN c_custkey % 11 IN (2, 3) THEN NULL
        |         ELSE 'Approved' END AS decision
        |  FROM customer
        |)
        |SELECT id, name, segment, balance,
        |  coalesce(decision, 'New') AS decision,
        |  CASE WHEN id % 3 = 0 THEN 'UPDATE' ELSE 'CREATE' END AS operation
        |FROM cur LEFT JOIN svc ON id = o_custkey
        |WHERE status = 'ACTIVE'
        |  AND coalesce(decision, 'New') NOT IN ('Rejected', 'Suspended')
        |  AND coalesce(n, 0) > 0
        |""".stripMargin) { (s, dir) =>
      val svc = Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_services"))
      val curation = Tables.customer(s, dir)
        .select(
          col("c_custkey").as("id"),
          col("c_name").as("name"),
          col("c_mktsegment").as("segment"),
          F.money(col("c_acctbal")).cast("double").as("balance"),
          when(col("c_custkey") % 7 === 0, "INACTIVE").otherwise("ACTIVE").as("status"),
          when(col("c_custkey") % 11 === 0, "Rejected")
            .when(col("c_custkey") % 11 === 1, "Suspended")
            .when((col("c_custkey") % 11).isin(2, 3), lit(null))
            .otherwise("Approved").as("decision"))
        .join(svc, col("id") === col("o_custkey"), "left")
        .withColumn("n_services", coalesce(col("n_services"), lit(0L)))
      // the destination table's existing rows (the updater side)
      val current = Tables.customer(s, dir)
        .filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("id"))
      Curation.copyFromCuration(
        curation, current, "id",
        fields = Seq("name", "segment", "balance"),
        statusOk = col("status") === "ACTIVE",
        decisionCol = col("decision"),
        hasServices = col("n_services") > 0)
    },

    // q58: merge-duplicate-services (to_dp.py:409): orgs whose
    // "implementing" services cover other service ids drop the covered
    // rows (substring containment against any implements entry), and
    // soproc-sourced services drop entirely for orgs that implement
    // anything. The reference sorts implementing-first and folds a driver
    // dict; here both drop rules are anti-joins within the org block —
    // order-independent and fully distributed.
    "q58_merge_services" -> QueryDef.of(
      """WITH svc AS (
        |  SELECT o_custkey AS org_id,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'soproc:' ELSE 'svc:' END
        |      || CAST(o_custkey AS VARCHAR) || ':' || CAST(o_orderkey % 20 AS VARCHAR) AS service_id,
        |    CASE WHEN o_orderkey % 5 = 0
        |         THEN 'covers svc:' || CAST(o_custkey AS VARCHAR) || ':' || CAST((o_orderkey + 1) % 20 AS VARCHAR)
        |         END AS implements
        |  FROM orders
        |), impl AS (
        |  SELECT org_id, implements FROM svc WHERE implements IS NOT NULL
        |)
        |SELECT DISTINCT s.org_id, s.service_id, s.implements
        |FROM svc s
        |WHERE s.implements IS NOT NULL
        |   OR (NOT EXISTS (SELECT 1 FROM impl i WHERE i.org_id = s.org_id
        |                    AND position(s.service_id IN i.implements) > 0)
        |       AND NOT (starts_with(s.service_id, 'soproc:')
        |                AND EXISTS (SELECT 1 FROM impl i WHERE i.org_id = s.org_id)))
        |""".stripMargin) { (s, dir) =>
      val svc = Tables.orders(s, dir).select(
        col("o_custkey").as("org_id"),
        concat(
          when(col("o_orderkey") % 7 === 0, "soproc:").otherwise("svc:"),
          col("o_custkey").cast("string"), lit(":"), (col("o_orderkey") % 20).cast("string")).as("service_id"),
        when(col("o_orderkey") % 5 === 0,
          concat(lit("covers svc:"), col("o_custkey").cast("string"), lit(":"),
            ((col("o_orderkey") + 1) % 20).cast("string"))).as("implements"))
      val impl = svc.filter(col("implements").isNotNull)
      val implForJoin = impl.select(col("org_id").as("i_org"), col("implements").as("i_impl"))
      val implOrgs = implForJoin.select(col("i_org")).distinct()
      val cands = svc.filter(col("implements").isNull)
      val afterCovered = cands.join(implForJoin,
        col("org_id") === col("i_org") && col("i_impl").contains(col("service_id")),
        "left_anti")
      val afterSoproc = afterCovered.join(implOrgs,
        col("org_id") === col("i_org") && col("service_id").startsWith("soproc:"),
        "left_anti")
      graft.operators.Relational.concatenate(Seq(impl, afterSoproc)).distinct()
    },

    // q47: taxonomy canonicalization + parent expansion — the reference's
    // normalize-then-expand chain (to_dp.py:116 normalize_taxonomy_ids,
    // then helpers.py:100 update_taxonomy_with_parents). The messy input
    // arrays (comma concatenation, space-smashed ids, singular root,
    // bare root, padding/punctuation, duplicates) derive from part
    // columns. `norm` preserves first-appearance order (the reference's
    // contract); `parents` is the sorted expansion.
    "q47_taxonomy_normalize" -> QueryDef.of(
      """WITH src AS (
        |  SELECT p_partkey AS part_id, [
        |    'human_situation:' || replace(lower(p_type), ' ', '_'),
        |    'human_situations:brand_' || replace(lower(p_brand), '#', '_') || ',human_situations:size_' || CAST(p_size % 4 AS VARCHAR),
        |    CASE WHEN p_partkey % 5 = 0 THEN 'human_situations' ELSE 'human_situations:cat_' || CAST(p_partkey % 7 AS VARCHAR) END,
        |    'human_situations:x_' || CAST(p_partkey % 3 AS VARCHAR) || ':deep human_situations:y_' || CAST(p_partkey % 2 AS VARCHAR),
        |    ' human_situations:pad_' || CAST(p_partkey % 2 AS VARCHAR) || ';',
        |    'human_situations:cat_' || CAST(p_partkey % 7 AS VARCHAR)
        |  ] AS ids FROM part
        |), st1 AS (
        |  SELECT part_id,
        |    list_filter(list_transform(flatten(list_transform(ids, x -> string_split(x, ','))), p -> regexp_replace(p, '^\s+|\s+$', '', 'g')), p -> p <> '') AS ne
        |  FROM src
        |), st2 AS (
        |  SELECT part_id,
        |    flatten(list_transform(ne, p ->
        |      CASE WHEN len(regexp_extract_all(p, 'human_situations:[A-Za-z0-9_:-]+|human_situation:[A-Za-z0-9_:-]+')) > 1
        |           THEN regexp_extract_all(p, 'human_situations:[A-Za-z0-9_:-]+|human_situation:[A-Za-z0-9_:-]+')
        |           ELSE [p] END)) AS sm
        |  FROM st1
        |), st3 AS (
        |  SELECT part_id,
        |    list_filter(
        |      list_transform(sm, t -> trim(regexp_replace(regexp_replace(t, '^human_situation:', 'human_situations:'), '^\s+|\s+$', '', 'g'), ',;')),
        |      t -> t <> '' AND t <> 'human_situations') AS kept
        |  FROM st2
        |), st4 AS (
        |  SELECT part_id,
        |    list_filter(kept, (x, i) -> list_position(kept, x) = i) AS norm
        |  FROM st3
        |)
        |SELECT part_id,
        |  array_to_string(norm, '|') AS norm,
        |  array_to_string(list_sort(list_distinct(flatten(list_transform(norm, id ->
        |    list_transform(range(2, len(string_split(id, ':')) + 1), i ->
        |      array_to_string(string_split(id, ':')[1:i], ':')))))), '|') AS parents
        |FROM st4
        |""".stripMargin) { (s, dir) =>
      val ids = array(
        concat(lit("human_situation:"), regexp_replace(lower(col("p_type")), " ", "_")),
        concat(lit("human_situations:brand_"), regexp_replace(lower(col("p_brand")), "#", "_"),
          lit(",human_situations:size_"), (col("p_size") % 4).cast("string")),
        when(col("p_partkey") % 5 === 0, lit("human_situations"))
          .otherwise(concat(lit("human_situations:cat_"), (col("p_partkey") % 7).cast("string"))),
        concat(lit("human_situations:x_"), (col("p_partkey") % 3).cast("string"),
          lit(":deep human_situations:y_"), (col("p_partkey") % 2).cast("string")),
        concat(lit(" human_situations:pad_"), (col("p_partkey") % 2).cast("string"), lit(";")),
        concat(lit("human_situations:cat_"), (col("p_partkey") % 7).cast("string")))
      Tables.part(s, dir)
        .select(col("p_partkey").as("part_id"), F.normalizeTaxonomyIds(ids).as("norm_arr"))
        .select(
          col("part_id"),
          array_join(col("norm_arr"), "|").as("norm"),
          array_join(F.taxonomyParents(col("norm_arr")), "|").as("parents"))
    }
  )
}
