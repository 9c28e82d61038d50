package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{EsDocs, Relational}

/** SURVEY.md §2.D (continued) — the reference's full Elasticsearch publish
  * breadth (to_es.py): beyond the per-card documents (q34), the search
  * backend indexes taxonomy-response documents (to_es.py:209), situation
  * documents (to_es.py:251) and organization documents (to_es.py:292) —
  * each "explode ids / count per id / join the entity table / filter
  * active / score" — plus a recursive text-field collection used for index
  * testing (to_es.py:145 select_text_fields).
  */
object EsQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // q44: multi-doc-type ES union. Three document flows over the TPC-H
    // analogs — responses (order priorities + taxonomy parent),
    // situations (market segments + parent), organizations (nations,
    // score=10*count like to_es.py:311) — unioned by name into one
    // bulk-indexable table. Each branch is one key-partitioned aggregate
    // with a broadcast dimension join; the union adds no shuffle.
    "q44_es_doc_types" -> QueryDef.of(
      """WITH resp_ids AS (
        |  SELECT unnest(['priority:' || o_orderpriority, 'priority']) AS id FROM orders
        |), resp_cnt AS (
        |  SELECT id, CAST(COUNT(*) AS BIGINT) AS cnt FROM resp_ids GROUP BY id
        |), resp AS (
        |  SELECT 'response' AS doc_type, id,
        |    CASE WHEN id LIKE '%:%' THEN split_part(id, ':', 2) ELSE id END AS name,
        |    cnt, CAST(cnt AS DOUBLE) AS score
        |  FROM resp_cnt WHERE id NOT LIKE '%LOW%'
        |), sit_ids AS (
        |  SELECT unnest(['segment:' || c_mktsegment, 'segment']) AS id
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |), sit_cnt AS (
        |  SELECT id, CAST(COUNT(*) AS BIGINT) AS cnt FROM sit_ids GROUP BY id
        |), sit AS (
        |  SELECT 'situation' AS doc_type, id,
        |    CASE WHEN id LIKE '%:%' THEN split_part(id, ':', 2) ELSE id END AS name,
        |    cnt, CAST(cnt AS DOUBLE) AS score
        |  FROM sit_cnt
        |), org_cnt AS (
        |  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM customer GROUP BY 1
        |), org AS (
        |  SELECT 'org' AS doc_type, 'org:' || CAST(n_nationkey AS VARCHAR) AS id,
        |    n_name AS name, cnt, CAST(10 * cnt AS DOUBLE) AS score
        |  FROM org_cnt JOIN nation ON c_nationkey = n_nationkey
        |)
        |SELECT * FROM resp UNION ALL SELECT * FROM sit UNION ALL SELECT * FROM org
        |""".stripMargin) { (s, dir) =>
      val orders = Tables.orders(s, dir)
      val respIds = orders.select(explode(array(
        concat(lit("priority:"), col("o_orderpriority")), lit("priority"))).as("id"))
      val nameOf = when(col("id").contains(":"), element_at(split(col("id"), ":"), 2)).otherwise(col("id"))
      val resp = respIds.groupBy(col("id")).agg(count(lit(1)).as("cnt"))
        .filter(!col("id").contains("LOW")) // the reference's ACTIVE-status gate
        .select(lit("response").as("doc_type"), col("id"), nameOf.as("name"),
          col("cnt"), col("cnt").cast("double").as("score"))
      val sitIds = orders
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(explode(array(
          concat(lit("segment:"), col("c_mktsegment")), lit("segment"))).as("id"))
      val sit = sitIds.groupBy(col("id")).agg(count(lit(1)).as("cnt"))
        .select(lit("situation").as("doc_type"), col("id"), nameOf.as("name"),
          col("cnt"), col("cnt").cast("double").as("score"))
      val org = Tables.customer(s, dir)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .select(lit("org").as("doc_type"),
          concat(lit("org:"), col("n_nationkey").cast("string")).as("id"),
          col("n_name").as("name"), col("cnt"), (col("cnt") * 10).cast("double").as("score"))
      Relational.concatenate(Seq(resp, sit, org))
    },

    // q45: recursive text-field collection (to_es.py:145
    // select_text_fields): walk the nested card document, skip the url
    // exclusion list, extract regex hits from every string leaf in schema
    // order. The recursion runs at plan-build time over the schema (see
    // EsDocs.textFields) so the whole thing is one projection; the nested
    // child array comes from the same single join+groupBy as q34.
    "q45_text_fields" -> QueryDef.of(
      """WITH docs AS (
        |  SELECT c_custkey AS card_id, max(c_name) AS name, max(c_mktsegment) AS segment,
        |    list_sort(list({'orderkey': o_orderkey, 'status': o_orderstatus, 'priority': o_orderpriority})) AS orders
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey
        |)
        |SELECT card_id,
        |  array_to_string(
        |    regexp_extract_all(name, '[A-Za-z]{3,}')
        |    || regexp_extract_all(segment, '[A-Za-z]{3,}')
        |    || flatten(list_transform(orders, o ->
        |      regexp_extract_all(o.status, '[A-Za-z]{3,}')
        |      || regexp_extract_all(o.priority, '[A-Za-z]{3,}')))
        |  , '|') AS text
        |FROM docs
        |""".stripMargin) { (s, dir) =>
      val doc = struct(
        col("name"),
        col("urls"), // excluded from text collection, like service_urls etc.
        col("segment"),
        col("orders"))
      val docs = Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey").as("card_id"))
        .agg(
          max(col("c_name")).as("name"),
          max(col("c_mktsegment")).as("segment"),
          sort_array(collect_list(struct(
            col("o_orderkey").as("orderkey"),
            col("o_orderstatus").as("status"),
            col("o_orderpriority").as("priority")))).as("orders"))
        .withColumn("urls", array(concat(lit("http://ex/"), col("card_id").cast("string"))))
        .withColumn("doc", doc)
      docs.select(
        col("card_id"),
        array_join(
          EsDocs.textFields(col("doc"), docs.schema("doc").dataType, "[A-Za-z]{3,}",
            exclude = Set("urls")),
          "|").as("text"))
    }
  )
}
