package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.F

/** SURVEY.md §2.D — derived-output shapes from the reference's publish
  * pipelines: relevance scoring (to_es.py), nested search documents
  * (to_es.py/es_schemas.py), and sitemap path generation (to_sitemap.py).
  */
object DeriveQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // q33: multiplicative relevance score (to_es.py:24 card_score — tiered
    // boosts, sqrt growth on entity counts). Shape preserved: boolean
    // multipliers, sqrt/linear branch-count term, kind-based boost.
    "q33_card_score" -> QueryDef.of(
      """SELECT c_custkey AS custkey,
        |  round(
        |    (CASE WHEN c_acctbal > 0 THEN 10.0 ELSE 1.0 END)
        |    * (CASE WHEN COUNT(o_orderkey) > 100 THEN COUNT(o_orderkey) / 10.0 ELSE sqrt(COUNT(o_orderkey)) END)
        |    * (CASE WHEN max(c_nationkey) IN (1, 2, 3) THEN 5.0 ELSE 1.0 END)
        |  , 4) AS score
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_acctbal
        |""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey").as("custkey"), col("c_acctbal"))
        .agg(count(col("o_orderkey")).as("n"), max(col("c_nationkey")).as("nk"))
        .select(
          col("custkey"),
          round(
            when(col("c_acctbal") > 0, 10.0).otherwise(1.0)
              * when(col("n") > 100, col("n") / 10.0).otherwise(sqrt(col("n")))
              * when(col("nk").isin(1, 2, 3), 5.0).otherwise(1.0),
            4).as("score"))
    },

    // q34: nested search documents (to_es.py data_api_es_flow +
    // es_schemas.py): entity root + sorted nested array of child structs —
    // the document shape Elasticsearch indexing consumes. Children sorted
    // for determinism (collect_list order is partition-dependent).
    // `last_modified` is to_es.py:61 parse_date + the :84
    // airtable_last_modified max-of-parsable-dates: tolerant parsing is
    // try_to_timestamp (null on junk, like the reference's except ->
    // None), and max() skips the nulls exactly like max(filter(None, ..)).
    // Raw values derive with a valid date, a datetime, and junk so every
    // parse branch runs.
    "q34_es_docs" -> QueryDef.of(
      """SELECT c_custkey AS custkey, max(c_name) AS name,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  array_to_string(list_transform(
        |    list_sort(list({'orderkey': o_orderkey, 'status': o_orderstatus})),
        |    o -> CAST(o.orderkey AS VARCHAR) || ':' || o.status), '|') AS orders,
        |  CAST(max(try_cast(
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'not-a-date'
        |         WHEN o_orderkey % 3 = 0 THEN CAST(o_orderdate AS VARCHAR) || ' 12:30:45'
        |         ELSE CAST(o_orderdate AS VARCHAR) END AS TIMESTAMP)) AS VARCHAR) AS last_modified
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |""".stripMargin) { (s, dir) =>
      // Nested child array serialized 'orderkey:status|…' in the final
      // projection (both engines) so the driver can sort/hash the column.
      val rawDate = when(col("o_orderkey") % 7 === 0, lit("not-a-date"))
        .when(col("o_orderkey") % 3 === 0,
          concat(col("o_orderdate").cast("string"), lit(" 12:30:45")))
        .otherwise(col("o_orderdate").cast("string"))
      // lesson-4 hash compute spread (r11, measured): the orders scan is
      // one row group locally, so scan + timestamp parse + partial
      // ObjectHashAggregate ran as one task (~1 s, with multi-second GC
      // spikes); only the four raw columns ride the exchange.
      Tables.customer(s, dir)
        .join(
          graft.operators.Relational.spreadForCompute(
            Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
              col("o_orderstatus"), col("o_orderdate")),
            col("o_orderkey")),
          col("c_custkey") === col("o_custkey"))
        // parse BEFORE the groupBy (collect_list makes the agg an
        // ObjectHashAggregate with interpreted input expressions), and
        // DISPATCH ON LENGTH so each row attempts exactly one format:
        // try_to_timestamp failures are JVM exceptions, and a
        // coalesce-of-formats threw ~one exception per row (tripled the
        // query). Junk still parses-and-fails once — that's the tolerant
        // contract.
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_orderstatus"),
          when(length(rawDate) === 19, try_to_timestamp(rawDate, lit("yyyy-MM-dd HH:mm:ss")))
            .when(length(rawDate) === 10, try_to_timestamp(rawDate, lit("yyyy-MM-dd")))
            .as("modified_ts"))
        .groupBy(col("c_custkey").as("custkey"))
        .agg(
          max(col("c_name")).as("name"),
          count(lit(1)).as("n_orders"),
          array_join(
            transform(
              sort_array(collect_list(struct(
                col("o_orderkey").as("orderkey"),
                col("o_orderstatus").as("status")))),
              o => concat(o.getField("orderkey").cast("string"), lit(":"), o.getField("status"))),
            "|").as("orders"),
          max(col("modified_ts")).cast("string").as("last_modified"))
    },

    // q52: possible_autocomplete (to_dp.py:180) + collapse_key
    // (to_dp.py:890): the per-card responses × situations conditional
    // cross-product — bare response names, situation names gated by
    // IGNORE_SITUATIONS (autocomplete.py:35) and the age_group/language
    // category exclusion, the Hebrew phrase templates, city variants —
    // then sorted-set dedup. All nested array expressions (transform-in-
    // transform + flatten), one row in one row out, no explode/shuffle.
    "q52_possible_autocomplete" -> QueryDef.of(
      """WITH cards AS (
        |  SELECT c_custkey AS card_id, c_name, c_mktsegment,
        |    list_sort(list_distinct(list(o_orderpriority))) AS resp_names,
        |    CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE max(n_name) END AS branch_city
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN orders ON o_custkey = c_custkey
        |  GROUP BY 1, 2, 3
        |), sits AS (
        |  SELECT card_id, c_name, c_mktsegment, resp_names, branch_city,
        |    [
        |      {'id': 'human_situations:age_group:adults', 'name': 'מבוגרים'},
        |      {'id': 'human_situations:benefits:' || lower(c_mktsegment), 'name': lower(c_mktsegment)}
        |    ] AS situations
        |  FROM cards
        |), phrases AS (
        |  SELECT card_id,
        |    trim(c_name || ' ' || coalesce(c_mktsegment, '')) AS collapse_key,
        |    flatten(list_transform(resp_names, r ->
        |      [r]
        |      || flatten(list_transform(situations, s ->
        |           (CASE WHEN s.id NOT IN ('human_situations:language:hebrew_speaking', 'human_situations:age_group:adults')
        |                  AND string_split(s.id, ':')[2] NOT IN ('age_group', 'language')
        |                 THEN [s.name] ELSE [] END)
        |           || (CASE WHEN s.id NOT IN ('human_situations:language:hebrew_speaking', 'human_situations:age_group:adults')
        |                 THEN [r || ' עבור ' || s.name] ELSE [] END)
        |           || (CASE WHEN branch_city IS NOT NULL
        |                 THEN ['שירותים עבור ' || s.name || ' ב' || branch_city,
        |                       r || ' עבור ' || s.name || ' ב' || branch_city] ELSE [] END)))
        |      || (CASE WHEN branch_city IS NOT NULL THEN [r || ' ב' || branch_city] ELSE [] END)
        |    )) AS ph
        |  FROM sits
        |)
        |SELECT card_id, collapse_key,
        |  array_to_string(list_sort(list_distinct(list_filter(ph, x -> x IS NOT NULL AND x <> ''))), '|') AS autocompletes
        |FROM phrases
        |""".stripMargin) { (s, dir) =>
      val ignore = Seq("human_situations:language:hebrew_speaking", "human_situations:age_group:adults")
      // Relational de-HOF (round-2 VERDICT finding #2): the old form ran a
      // nested transform-in-transform (interpreted, a lambda frame per
      // response x situation) over each card's collected response list.
      // The cross-product is instead built ONE SOURCE ROW at a time — each
      // orders row IS one response candidate, so its phrase block is a
      // plain codegen'd concat of conditional literal arrays (the two
      // situations unroll statically: s1 sits in IGNORE_SITUATIONS and
      // contributes only city phrases; s2 is a benefits:* id so both its
      // gates pass) — then ONE groupBy flatten/distinct/sorts the blocks.
      // Duplicate o_orderpriority values produce duplicate phrase blocks
      // that the same final array_distinct already removes, so the result
      // is bit-identical to the collected-list form and the oracle.
      val empty = array().cast("array<string>")
      val cards = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey").as("card_id"), col("c_name"), col("c_mktsegment"))
        .agg(
          array_distinct(collect_list(col("o_orderpriority"))).as("resp_names"),
          when(col("c_custkey") % 4 === 0, lit(null)).otherwise(max(col("n_name"))).as("branch_city"))
      // Explode the per-card response list and build each response's
      // phrase block as a codegen'd concat of conditional literal arrays
      // (the two situations unroll statically: s1 sits in
      // IGNORE_SITUATIONS and contributes only city phrases; s2 is a
      // benefits:* id so both its gates pass). The re-aggregation groups
      // by the SAME keys as the first, so it reuses its hash partitioning
      // — explode + rebuild run entirely within the partition, and the
      // only exchange in the plan is the first groupBy's (this is what
      // replaced the round-2 interpreted transform-in-transform, VERDICT
      // finding #2 — per-element work belongs in a Generate stage, not a
      // lambda).
      val r = col("r")
      val city = col("branch_city")
      val s1Name = lit("מבוגרים")
      val s2Name = lower(col("c_mktsegment"))
      val phraseBlock = concat(
        array(r),
        when(city.isNotNull, array(
          concat(lit("שירותים עבור "), s1Name, lit(" ב"), city),
          concat(r, lit(" עבור "), s1Name, lit(" ב"), city))).otherwise(empty),
        array(s2Name, concat(r, lit(" עבור "), s2Name)),
        when(city.isNotNull, array(
          concat(lit("שירותים עבור "), s2Name, lit(" ב"), city),
          concat(r, lit(" עבור "), s2Name, lit(" ב"), city))).otherwise(empty),
        when(city.isNotNull, array(concat(r, lit(" ב"), city))).otherwise(empty))
      cards
        .select(col("card_id"), col("c_name"), col("c_mktsegment"), col("branch_city"),
          explode(col("resp_names")).as("r"))
        .select(col("card_id"), col("c_name"), col("c_mktsegment"), phraseBlock.as("ph"))
        .groupBy(col("card_id"), col("c_name"), col("c_mktsegment"))
        .agg(collect_list(col("ph")).as("blocks"))
        .select(
          col("card_id"),
          trim(concat(col("c_name"), lit(" "), coalesce(col("c_mktsegment"), lit("")))).as("collapse_key"),
          array_join(sort_array(array_distinct(flatten(col("blocks")))), "|").as("autocompletes"))
    },

    // q35: sitemap paths (to_sitemap.py:47 — '/c/{id}' with XML escaping).
    "q35_sitemap" -> QueryDef.of(
      """SELECT concat('/c/', replace(replace(entity_key, '''', '&apos;'), '"', '&quot;')) AS path
        |FROM (SELECT substr(md5(concat_ws('', c_name, CAST(c_custkey AS VARCHAR))), 1, 8) AS entity_key FROM customer)
        |""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .select(F.hashKey(col("c_name"), col("c_custkey")).as("entity_key"))
        .select(concat(lit("/c/"),
          regexp_replace(regexp_replace(col("entity_key"), "'", "&apos;"), "\"", "&quot;")).as("path"))
    }
  )
}
