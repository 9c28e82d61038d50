package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** SURVEY.md §2.A (continued) — rule-driven enrichment from the
  * reference: auto-tagging (operators/derive/autotagging.py) and
  * entity-name cleanup (srm_tools/data_cleaning.py).
  */
object TaggingQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // q38: auto-tagging (autotagging.py:22): a small rule table (query
    // string -> tags) applied to every row — matched when a searched field
    // ends with the query or contains "query ". Rules are broadcast; tags
    // aggregate to a sorted distinct array per entity, mirroring the
    // reference's auto_tagged accumulation.
    "q38_autotag" -> QueryDef.of(
      """WITH rules AS (
        |  SELECT DISTINCT split_part(p_name, ' ', 2) AS query,
        |    'part_type:' || split_part(p_name, ' ', 2) AS tag
        |  FROM part
        |)
        |SELECT p.p_partkey AS part_id,
        |  array_to_string(list_sort(list(DISTINCT r.tag)), '|') AS auto_tagged
        |FROM part p JOIN rules r
        |  ON (p.p_name LIKE '%' || r.query OR position(r.query || ' ' IN p.p_name) > 0)
        |GROUP BY p.p_partkey
        |""".stripMargin) { (s, dir) =>
      val part = Tables.part(s, dir)
      val rules = part
        .select(element_at(split(col("p_name"), " "), 2).as("query"))
        .distinct()
        .withColumn("tag", concat(lit("part_type:"), col("query")))
      part.join(broadcast(rules),
          col("p_name").endsWith(col("query")) ||
            col("p_name").contains(concat(col("query"), lit(" "))))
        .groupBy(col("p_partkey").as("part_id"))
        .agg(array_join(sort_array(collect_set(col("tag"))), "|").as("auto_tagged"))
    },

    // q39: entity-name cleanup (data_cleaning.py clean_org_name): chained
    // literal replaces + strips. Same shape over the synthetic names:
    // drop the entity prefix, strip leading zeros, trim punctuation.
    "q39_clean_name" -> QueryDef.of(
      """SELECT c_custkey AS custkey,
        |  trim(regexp_replace(replace(replace(c_name, 'Customer#', ''), '#', ''), '^0+', '')) AS clean_name
        |FROM customer""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey").as("custkey"),
          trim(regexp_replace(
            regexp_replace(regexp_replace(col("c_name"), "Customer#", ""), "#", ""),
            "^0+", "")).as("clean_name"))
    }
  )
}
