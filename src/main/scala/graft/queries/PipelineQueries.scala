package graft.queries

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.pipelines.CardPipeline

/** SURVEY.md §2 — q64: the CardPipeline flagship (the reference's whole
  * to_dp.py derive flow: srm_data_pull -> flat_branches -> flat_services
  * -> card_data) as an ORACLE-VERIFIED query. The DuckDB SQL replays every
  * stage — surrogate hash keys, duplicate-branch merge windows, org
  * counts, the ITM->WGS84 projection chain (GeoQueries.projectionCtes,
  * JVM constants interpolated), bbox-gated point ids, situation
  * normalize->fix, phone grouping, address selection, scoring — so the
  * end-to-end composition is held to the same hash gate as every
  * individual operator (round-2 VERDICT next-step #8).
  */
object PipelineQueries {

  /** The DuckDB CTE chain replaying CardPipeline.cards stage-for-stage;
    * ends at the `named` CTE whose rows are the card table (shared by
    * q64's projection and q65's publish rollup). */
  private def cardCtes: String =
    s"""WITH orgs AS (
         |  SELECT c_custkey AS organization_id, c_name AS organization_name,
         |    c_mktsegment AS organization_kind, c_acctbal AS organization_balance,
         |    CASE WHEN c_custkey % 3 = 0 THEN 'Org' || CAST(c_custkey % 100 AS VARCHAR) END AS organization_short_name
         |  FROM customer
         |), branches AS (
         |  SELECT o_orderkey AS branch_id, o_custkey AS organization_id,
         |    o_orderstatus AS branch_status, o_orderdate AS branch_date,
         |    o_orderpriority AS branch_priority
         |  FROM orders
         |), flat AS (
         |  SELECT b.*, g.organization_name, g.organization_kind, g.organization_balance,
         |    g.organization_short_name,
         |    substr(md5(CAST(b.organization_id AS VARCHAR) || b.branch_status || b.branch_priority), 1, 8) AS branch_key,
         |    coalesce(nullif(g.organization_short_name, ''), g.organization_name) AS branch_short_name
         |  FROM branches b JOIN orgs g ON b.organization_id = g.organization_id
         |), merged AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY branch_key ORDER BY branch_date, branch_id) AS rn
         |    FROM flat
         |  ) WHERE rn = 1
         |), counted AS (
         |  SELECT m.*, oc.organization_branch_count FROM merged m
         |  JOIN (SELECT organization_id, CAST(COUNT(*) AS BIGINT) AS organization_branch_count
         |        FROM merged GROUP BY 1) oc
         |    ON m.organization_id = oc.organization_id
         |), services AS (
         |  SELECT l_orderkey AS branch_id, l_linenumber AS service_seq,
         |    l_returnflag AS service_flag, l_linestatus AS service_status,
         |    l_shipdate AS service_date
         |  FROM lineitem
         |), cards0 AS (
         |  SELECT s.*, c.* EXCLUDE (branch_id, rn),
         |    substr(md5(CAST(s.branch_id AS VARCHAR) || CAST(s.service_seq AS VARCHAR)), 1, 8) AS service_id
         |  FROM services s JOIN counted c ON s.branch_id = c.branch_id
         |), cards1 AS (
         |  SELECT *, substr(md5(branch_key || service_id), 1, 8) AS card_id FROM cards0
         |), uniq AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY card_id ORDER BY service_date, service_seq, service_flag, service_status) AS rn2
         |    FROM cards1
         |  ) WHERE rn2 = 1
         |), src AS (
         |  SELECT *,
         |    150000.0 + (organization_id % 20) * 5000.0 AS e,
         |    450000.0 + (branch_id % 25) * 10000.0 AS n
         |  FROM uniq
         |),
         |${GeoQueries.projectionCtes},
         |geo AS (
         |  SELECT *,
         |    organization_id % 10 = 0 AS national_service,
         |    (wgs_lon > 33.0 AND wgs_lon < 37.0 AND wgs_lat > 29.3 AND wgs_lat < 33.3) AS geo_ok
         |  FROM wgs
         |), named AS (
         |  SELECT *,
         |    CASE WHEN national_service THEN 'national_service'
         |         WHEN geo_ok THEN replace(printf('%08.5f', wgs_lon), '.', '') || replace(printf('%08.5f', wgs_lat), '.', '')
         |    END AS point_id,
         |    trim(regexp_replace(regexp_replace(organization_name, 'Customer#0*', '', 'g'), '#', '', 'g')) AS org_clean,
         |    coalesce(
         |      CASE WHEN organization_id % 3 = 0 THEN 'כתובת ' || CAST(branch_id % 100 AS VARCHAR) END,
         |      CASE WHEN organization_id % 3 = 1 AND NOT regexp_matches('רחוב ' || branch_priority, '[A-Za-z]')
         |           THEN 'רחוב ' || branch_priority END,
         |      'סניף ' || CAST(organization_id % 50 AS VARCHAR)
         |    ) AS branch_address,
         |    '05' || CAST(organization_id % 4 AS VARCHAR) || lpad(CAST(organization_id % 10000000 AS VARCHAR), 7, '0') AS phone_digits
         |  FROM geo
         |)""".stripMargin

  /** The card-table projection over `named` — q64's output shape. */
  private def cardSelect: String =
    s"""SELECT card_id, service_id, branch_key, branch_id, organization_id,
         |  org_clean AS organization_name, organization_kind,
         |  organization_branch_count, branch_short_name, branch_address,
         |  array_to_string(list_sort(list_distinct([service_flag, service_status, branch_status])), '|') AS situation_ids,
         |  national_service, point_id,
         |  trim(org_clean || ' ' || service_flag) AS collapse_key,
         |  substr(phone_digits, 1, 3) || '-' || substr(phone_digits, 4, 3) || '-' || substr(phone_digits, 7, 4) AS phones,
         |  round((CASE WHEN organization_balance > 0 THEN 10.0 ELSE 1.0 END)
         |    * sqrt(organization_branch_count)
         |    * (CASE WHEN branch_priority IN ('1-URGENT', '2-HIGH') THEN 5.0 ELSE 1.0 END), 4) AS card_score,
         |  organization_kind || '|' || organization_kind || ' ' || branch_priority
         |    || '|' || 'services for ' || organization_kind AS autocompletes
         |FROM named""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(

    "q64_card_pipeline" -> QueryDef.of(s"$cardCtes\n$cardSelect\n") { (s, dir) =>
      CardPipeline.cards(s, dir).select(
        col("card_id"), col("service_id"), col("branch_key"), col("branch_id"),
        col("organization_id"), col("organization_name"), col("organization_kind"),
        col("organization_branch_count"), col("branch_short_name"), col("branch_address"),
        array_join(col("situation_ids"), "|").as("situation_ids"),
        col("national_service"), col("point_id"), col("collapse_key"),
        array_join(col("organization_phone_numbers"), "|").as("phones"),
        round(col("card_score"), 4).as("card_score"),
        array_join(col("possible_autocomplete"), "|").as("autocompletes"))
    },

    // q65: the PUBLISH stage composed downstream of the card pipeline —
    // the reference's to_es.py + to_sitemap.py + autocomplete.py flows
    // consume card_data; here each organization rolls its cards into one
    // search document: sorted card children, best score, sitemap paths
    // (to_sitemap.py:47 '/c/{id}'), and the deduped autocomplete corpus.
    // Oracle = the SAME card CTE chain as q64 with the rollup on top, so
    // the derive->publish composition is hash-gated end to end.
    "q65_publish_docs" -> QueryDef.of(
      s"""$cardCtes,
         |cards_out AS (
         |  SELECT organization_id, organization_name AS raw_org_name, org_clean, card_id, point_id,
         |    national_service,
         |    round((CASE WHEN organization_balance > 0 THEN 10.0 ELSE 1.0 END)
         |      * sqrt(organization_branch_count)
         |      * (CASE WHEN branch_priority IN ('1-URGENT', '2-HIGH') THEN 5.0 ELSE 1.0 END), 4) AS card_score,
         |    [organization_kind, organization_kind || ' ' || branch_priority,
         |     'services for ' || organization_kind] AS autocompletes
         |  FROM named
         |)
         |SELECT organization_id, min(org_clean) AS organization_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_cards,
         |  CAST(SUM(CASE WHEN national_service THEN 1 ELSE 0 END) AS BIGINT) AS n_national,
         |  round(max(card_score), 4) AS top_score,
         |  array_to_string(list_sort(list(card_id || ':' || coalesce(point_id, ''))), '|') AS cards,
         |  array_to_string(list_sort(list_distinct(list('/c/' || card_id))), '|') AS sitemap_paths,
         |  array_to_string(list_sort(list_distinct(flatten(list(autocompletes)))), '|') AS autocomplete
         |FROM cards_out GROUP BY organization_id
         |""".stripMargin) { (s, dir) =>
      // r12 (guide §2.3 — shuffle keys and metadata instead of payloads):
      // the rollup exchange used to carry THREE derived string payloads
      // per card row (card_id:point child, '/c/' sitemap path, and the
      // 3-string autocomplete triple). All of them are derivable from
      // less: `cards` and `sitemap_paths` both come from ONE collected
      // (card_id, point) struct list — card_ids are 8 fixed hex chars and
      // unique after the card dedup, so struct order == the former
      // concatenated-string order and the '/c/' prefix preserves it —
      // and the autocomplete triple is a pure function of (organization_
      // kind, branch_priority), of which an organization has ≤ a handful
      // of distinct values: collect_set's partial buffers carry the
      // per-partition DISTINCT triples (a few rows per org) where
      // collect_list shipped ~75 B for every card row. Post-aggregate
      // transforms run over ≤ #orgs rows — noise. Sorted-distinct output
      // strings are identical by construction.
      val cards = CardPipeline.cards(s, dir)
        // project the collect inputs before the groupBy (SURVEY §6
        // lesson 14: ObjectHashAggregate inputs evaluate interpreted)
        .select(
          col("organization_id"), col("organization_name"),
          col("national_service"), round(col("card_score"), 4).as("card_score"),
          struct(col("card_id"),
            coalesce(col("point_id"), lit("")).as("pid")).as("card_child"),
          col("possible_autocomplete"))
      cards
        .groupBy(col("organization_id"))
        .agg(
          min(col("organization_name")).as("organization_name"),
          count(lit(1)).as("n_cards"),
          sum(when(col("national_service"), 1L).otherwise(0L)).as("n_national"),
          round(max(col("card_score")), 4).as("top_score"),
          collect_list(col("card_child")).as("__cc"),
          collect_set(col("possible_autocomplete")).as("__au"))
        .select(
          col("organization_id"), col("organization_name"),
          col("n_cards"), col("n_national"), col("top_score"),
          array_join(transform(sort_array(col("__cc")),
            x => concat(x.getField("card_id"), lit(":"), x.getField("pid"))), "|")
            .as("cards"),
          array_join(sort_array(array_distinct(transform(col("__cc"),
            x => concat(lit("/c/"), x.getField("card_id"))))), "|")
            .as("sitemap_paths"),
          array_join(sort_array(array_distinct(flatten(col("__au")))), "|")
            .as("autocomplete"))
    }
  )
}
