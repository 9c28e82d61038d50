package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** SURVEY.md §2 — remaining srm_tools kernels: age-range situation
  * bucketing (situations.py:41-60) and URL fixing/structuring
  * (url_utils.py:6 `fix_url`, helpers.py:23 `transform_urls`).
  */
object ToolsQueries {

  private val DomainRe = "(?i)^[a-z0-9][a-z0-9\\-\\.]{0,61}[a-z0-9]\\.[a-z]{2,}$"

  val defs: Seq[(String, QueryDef)] = Seq(

    // q60: fix_situations (to_dp.py:99) — the last uncovered to_dp.py row
    // transform: drop BOTH gender ids when both present (keep a lone one),
    // always drop hebrew_speaking, and append arabic_speaking when an
    // arabs/bedouin sector id is present without it. Order-preserving,
    // pure codegen array ops (F.fixSituations) — per-row, no shuffle.
    // Input lists derive from customer with every membership combination
    // (including the possible-empty case at custkey % 19 = 0).
    "q60_fix_situations" -> QueryDef.of(
      """WITH src AS (
        |  SELECT c_custkey AS custkey, flatten([
        |    CASE WHEN c_custkey % 19 <> 0 THEN ['human_situations:benefits:b' || CAST(c_custkey % 4 AS VARCHAR)] ELSE [] END,
        |    CASE WHEN c_custkey % 2 = 0 THEN ['human_situations:gender:women'] ELSE [] END,
        |    CASE WHEN c_custkey % 3 = 0 THEN ['human_situations:gender:men'] ELSE [] END,
        |    CASE WHEN c_custkey % 5 = 0 THEN ['human_situations:language:hebrew_speaking'] ELSE [] END,
        |    CASE WHEN c_custkey % 7 = 0 THEN ['human_situations:sectors:arabs'] ELSE [] END,
        |    CASE WHEN c_custkey % 11 = 0 THEN ['human_situations:sectors:bedouin'] ELSE [] END,
        |    CASE WHEN c_custkey % 13 = 0 THEN ['human_situations:language:arabic_speaking'] ELSE [] END
        |  ]) AS ids FROM customer
        |), g AS (
        |  SELECT custkey,
        |    CASE WHEN list_contains(ids, 'human_situations:gender:women')
        |          AND list_contains(ids, 'human_situations:gender:men')
        |         THEN list_filter(ids, x -> x NOT IN ('human_situations:gender:women', 'human_situations:gender:men'))
        |         ELSE ids END AS ids
        |  FROM src
        |), h AS (
        |  SELECT custkey, list_filter(ids, x -> x <> 'human_situations:language:hebrew_speaking') AS ids FROM g
        |)
        |SELECT custkey, coalesce(array_to_string(
        |  CASE WHEN (list_contains(ids, 'human_situations:sectors:arabs')
        |             OR list_contains(ids, 'human_situations:sectors:bedouin'))
        |            AND NOT list_contains(ids, 'human_situations:language:arabic_speaking')
        |       THEN ids || ['human_situations:language:arabic_speaking'] ELSE ids END,
        |  '|'), '') AS situations
        |FROM h
        |""".stripMargin) { (s, dir) =>
      def memberIf(cond: org.apache.spark.sql.Column, id: String) =
        when(cond, array(lit(id))).otherwise(array().cast("array<string>"))
      val ids = concat(
        when(col("c_custkey") % 19 =!= 0,
          array(concat(lit("human_situations:benefits:b"), (col("c_custkey") % 4).cast("string"))))
          .otherwise(array().cast("array<string>")),
        memberIf(col("c_custkey") % 2 === 0, "human_situations:gender:women"),
        memberIf(col("c_custkey") % 3 === 0, "human_situations:gender:men"),
        memberIf(col("c_custkey") % 5 === 0, "human_situations:language:hebrew_speaking"),
        memberIf(col("c_custkey") % 7 === 0, "human_situations:sectors:arabs"),
        memberIf(col("c_custkey") % 11 === 0, "human_situations:sectors:bedouin"),
        memberIf(col("c_custkey") % 13 === 0, "human_situations:language:arabic_speaking"))
      Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"),
          array_join(graft.functions.F.fixSituations(ids), "|").as("situations"))
    },

    // q61: select_address + validate_address + validate_geometry
    // (to_dp.py:231, helpers.py:79, helpers.py:69): first address field in
    // preference order containing no English letters; geometry passes only
    // as a 2-element [lon, lat] inside the Israel bbox. The gated
    // coordinates are what q43's point-id projection consumes. All
    // codegen'd guards — per-row, no shuffle.
    "q61_select_address" -> QueryDef.of(
      """WITH src AS (
        |  SELECT c_custkey AS custkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'Main St 5'
        |         WHEN c_custkey % 3 = 1 THEN 'רחוב הרצל ' || CAST(c_custkey % 50 AS VARCHAR)
        |         ELSE NULL END AS address,
        |    CASE WHEN c_custkey % 4 = 0 THEN NULL
        |         WHEN c_custkey % 4 = 1 THEN 'PO Box 12'
        |         ELSE 'שדרות בן גוריון ' || CAST(c_custkey % 30 AS VARCHAR) END AS orig_address,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'Tel Aviv' ELSE 'חיפה' END AS resolved_city,
        |    CASE WHEN c_custkey % 23 = 0 THEN NULL
        |         WHEN c_custkey % 17 = 0 THEN [CAST(33.0 AS DOUBLE) + (c_custkey % 80) * CAST(0.1 AS DOUBLE)]
        |         ELSE [CAST(33.0 AS DOUBLE) + (c_custkey % 80) * CAST(0.1 AS DOUBLE),
        |               CAST(29.0 AS DOUBLE) + (c_custkey % 60) * CAST(0.1 AS DOUBLE)] END AS geometry
        |  FROM customer
        |), va AS (
        |  SELECT custkey,
        |    coalesce(
        |      CASE WHEN address IS NOT NULL AND NOT regexp_matches(address, '[A-Za-z]') THEN address END,
        |      CASE WHEN orig_address IS NOT NULL AND NOT regexp_matches(orig_address, '[A-Za-z]') THEN orig_address END,
        |      CASE WHEN resolved_city IS NOT NULL AND NOT regexp_matches(resolved_city, '[A-Za-z]') THEN resolved_city END
        |    ) AS address,
        |    coalesce(len(geometry) = 2
        |      AND geometry[1] > 33.0 AND geometry[1] < 37.0
        |      AND geometry[2] > 29.3 AND geometry[2] < 33.3, false) AS geo_valid,
        |    geometry
        |  FROM src
        |)
        |SELECT custkey, address, geo_valid,
        |  CASE WHEN geo_valid THEN round(geometry[1], 5) END AS lon,
        |  CASE WHEN geo_valid THEN round(geometry[2], 5) END AS lat
        |FROM va
        |""".stripMargin) { (s, dir) =>
      import graft.functions.F
      val src = Tables.customer(s, dir).select(
        col("c_custkey").as("custkey"),
        when(col("c_custkey") % 3 === 0, "Main St 5")
          .when(col("c_custkey") % 3 === 1,
            concat(lit("רחוב הרצל "), (col("c_custkey") % 50).cast("string"))).as("address"),
        when(col("c_custkey") % 4 === 0, lit(null))
          .when(col("c_custkey") % 4 === 1, lit("PO Box 12"))
          .otherwise(concat(lit("שדרות בן גוריון "), (col("c_custkey") % 30).cast("string"))).as("orig_address"),
        when(col("c_custkey") % 5 === 0, "Tel Aviv").otherwise("חיפה").as("resolved_city"),
        when(col("c_custkey") % 23 === 0, lit(null))
          .when(col("c_custkey") % 17 === 0,
            array(lit(33.0) + (col("c_custkey") % 80).cast("double") * 0.1))
          .otherwise(array(
            lit(33.0) + (col("c_custkey") % 80).cast("double") * 0.1,
            lit(29.0) + (col("c_custkey") % 60).cast("double") * 0.1)).as("geometry"))
      src
        .withColumn("geo_valid", F.validGeometry(col("geometry")))
        .select(
          col("custkey"),
          F.selectAddress(col("address"), col("orig_address"), col("resolved_city")).as("address"),
          col("geo_valid"),
          when(col("geo_valid"), round(try_element_at(col("geometry"), lit(1)), 5)).as("lon"),
          when(col("geo_valid"), round(try_element_at(col("geometry"), lit(2)), 5)).as("lat"))
    },

    // q63: convert_situation_list (srm_tools/situations.py:32): external
    // situation ids map to taxonomy record ids through the situations
    // table — the reference's driver-side dict lookup becomes a BROADCAST
    // join; unknown ids are dropped AND counted (the reference prints
    // them), riding the q12 stats posture as a per-entity miss count.
    // List order is preserved through posexplode + sorted re-collect.
    "q63_convert_situations" -> QueryDef.of(
      """WITH mapping AS (
        |  SELECT 'ext:s' || CAST(n_nationkey AS VARCHAR) AS ext,
        |    'rec:' || CAST(n_nationkey AS VARCHAR) AS rid
        |  FROM nation
        |), src AS (
        |  SELECT c_custkey AS custkey, [
        |    'ext:s' || CAST(c_custkey % 30 AS VARCHAR),
        |    'ext:s' || CAST((c_custkey * 7) % 40 AS VARCHAR),
        |    'ext:s' || CAST(c_custkey % 25 AS VARCHAR)
        |  ] AS sits FROM customer
        |), ex AS (
        |  SELECT custkey, u.sit, u.pos
        |  FROM src, LATERAL (SELECT unnest(sits) AS sit, generate_subscripts(sits, 1) AS pos) u
        |), j AS (
        |  SELECT custkey, pos, m.rid FROM ex LEFT JOIN mapping m ON sit = m.ext
        |)
        |SELECT custkey,
        |  coalesce(array_to_string(list_transform(
        |    list_sort(list({'pos': pos, 'rid': rid}) FILTER (WHERE rid IS NOT NULL)),
        |    x -> x.rid), '|'), '') AS converted,
        |  CAST(COUNT(*) FILTER (WHERE rid IS NULL) AS BIGINT) AS n_unknown
        |FROM j GROUP BY custkey
        |""".stripMargin) { (s, dir) =>
      val mapping = Tables.nation(s, dir).select(
        concat(lit("ext:s"), col("n_nationkey").cast("string")).as("ext"),
        concat(lit("rec:"), col("n_nationkey").cast("string")).as("rid"))
      val src = Tables.customer(s, dir).select(
        col("c_custkey").as("custkey"),
        array(
          concat(lit("ext:s"), (col("c_custkey") % 30).cast("string")),
          concat(lit("ext:s"), ((col("c_custkey") * 7) % 40).cast("string")),
          concat(lit("ext:s"), (col("c_custkey") % 25).cast("string"))).as("sits"))
      src
        .select(col("custkey"), posexplode(col("sits")).as(Seq("pos", "sit")))
        .join(broadcast(mapping), col("sit") === col("ext"), "left")
        .groupBy(col("custkey"))
        .agg(
          array_join(
            transform(
              sort_array(collect_list(when(col("rid").isNotNull, struct(col("pos"), col("rid"))))),
              x => x.getField("rid")),
            "|").as("converted"),
          sum(when(col("rid").isNull, 1L).otherwise(0L)).as("n_unknown"))
    },

    // q56: stable reorder-by-category (to_dp.py:50
    // safe_reorder_responses_by_category + :69 safe_get_response_
    // categories): matching entries first, others after, relative order
    // preserved — concat of two stable filters. Malformed ids (no colon)
    // fall into 'others' and are skipped by the category extraction, like
    // the reference's safe path. Categories per card are the extracted
    // sorted-distinct list.
    "q56_reorder_by_category" -> QueryDef.of(
      """WITH cards AS (
        |  SELECT c_custkey AS card_id, c_mktsegment,
        |    list_sort(list_distinct(list(
        |      CASE WHEN o_orderkey % 11 = 0 THEN 'malformed'
        |           ELSE 'responses:' || lower(split_part(o_orderpriority, '-', 2)) || ':' || CAST(o_orderkey % 3 AS VARCHAR) END
        |    ))) AS resp_ids
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1, 2
        |), cat AS (
        |  SELECT *, 'low' AS category FROM cards
        |)
        |SELECT card_id,
        |  array_to_string(
        |    list_filter(resp_ids, r -> len(string_split(r, ':')) > 1 AND string_split(r, ':')[2] = category)
        |    || list_filter(resp_ids, r -> NOT (len(string_split(r, ':')) > 1 AND string_split(r, ':')[2] = category)),
        |    '|') AS reordered,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list_filter(list_transform(resp_ids, r -> CASE WHEN len(string_split(r, ':')) > 1 THEN string_split(r, ':')[2] END), x -> x IS NOT NULL)
        |  )), '|'), '') AS categories
        |FROM cat
        |""".stripMargin) { (s, dir) =>
      val respId = when(col("o_orderkey") % 11 === 0, lit("malformed"))
        .otherwise(concat(lit("responses:"),
          lower(element_at(split(col("o_orderpriority"), "-"), 2)),
          lit(":"), (col("o_orderkey") % 3).cast("string")))
      // Relational de-HOF (round-2 VERDICT finding #2): the old form
      // re-split every element 3x through two interpreted array filters
      // and a transform. Instead: collect the sorted-distinct id list
      // (the plan's ONLY exchange), explode it back out, compute the
      // match flag and extracted category once per element in the
      // codegen'd Generate stage, and re-aggregate on the SAME grouping
      // keys — the second aggregate reuses the first's hash partitioning,
      // so the rebuild never leaves the partition. A stable filter of a
      // sorted-distinct list equals the concat of its two sorted
      // partitions, which is exactly what the two conditional collects
      // rebuild.
      val cards = Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey").as("card_id"), col("c_mktsegment"))
        .agg(sort_array(array_distinct(collect_list(respId))).as("resp_ids"))
      val category = lit("low")
      val parts = split(col("r"), ":")
      // try_element_at: codegen subexpression elimination hoists the
      // shared element_at above the size guard, so the ANSI throwing form
      // would fire on 1-part (malformed) ids
      val isMatch = size(parts) > 1 && try_element_at(parts, lit(2)) === category
      val catVal = when(size(parts) > 1, try_element_at(parts, lit(2)))
      cards
        .select(col("card_id"), col("c_mktsegment"), explode(col("resp_ids")).as("r"))
        .select(col("card_id"), col("c_mktsegment"),
          when(isMatch, col("r")).as("m_val"),
          when(!isMatch, col("r")).as("o_val"),
          catVal.as("c_val"))
        .groupBy(col("card_id"), col("c_mktsegment"))
        .agg(
          sort_array(collect_list(col("m_val"))).as("matched"),
          sort_array(collect_list(col("o_val"))).as("others"),
          sort_array(array_distinct(collect_list(col("c_val")))).as("cats"))
        .select(
          col("card_id"),
          array_join(concat(col("matched"), col("others")), "|").as("reordered"),
          array_join(col("cats"), "|").as("categories"))
    },

    // q57: sibling point offsets (helpers.py:272-304 point_offset_table +
    // generate_offset): items sharing a map point get '{count}-{index}'
    // offsets (1-based index within the sorted sibling list) when the
    // cluster holds <= 7 items, null otherwise — the key the frontend's
    // geometric offset table consumes. One groupBy to build siblings, one
    // posexplode back out; both shuffles on the point key.
    "q57_point_offsets" -> QueryDef.of(
      """WITH pts AS (
        |  SELECT CAST(c_custkey % 97 AS BIGINT) AS point_key, c_custkey AS item
        |  FROM customer
        |), sib AS (
        |  SELECT point_key, list_sort(list(item)) AS siblings FROM pts GROUP BY point_key
        |), ex AS (
        |  SELECT point_key, CAST(len(siblings) AS BIGINT) AS n, u.i AS idx, u.item
        |  FROM sib, LATERAL (SELECT unnest(siblings) AS item, generate_subscripts(siblings, 1) AS i) u
        |)
        |SELECT item, point_key, n AS n_siblings,
        |  CASE WHEN n <= 7 THEN CAST(n AS VARCHAR) || '-' || CAST(idx AS VARCHAR) END AS offset_key
        |FROM ex
        |""".stripMargin) { (s, dir) =>
      val sib = Tables.customer(s, dir)
        .select((col("c_custkey") % 97).as("point_key"), col("c_custkey").as("item"))
        .groupBy(col("point_key"))
        .agg(sort_array(collect_list(col("item"))).as("siblings"))
      sib
        .select(col("point_key"), size(col("siblings")).cast("long").as("n_siblings"),
          posexplode(col("siblings")).as(Seq("pos", "item")))
        .select(
          col("item"), col("point_key"), col("n_siblings"),
          when(col("n_siblings") <= 7,
            concat(col("n_siblings").cast("string"), lit("-"), (col("pos") + 1).cast("string")))
            .otherwise(lit(null)).as("offset_key"))
    },

    // q53: skew-salted join (operators/Relational.saltedJoin) under a
    // deliberately power-law key: ~70% of orders land on key 1. The salt
    // spreads the hot key over 8 virtual keys so no task owns 70% of the
    // shuffle; results are byte-identical to the plain join (that IS the
    // oracle). At 100 TB this is the explicit-salting posture for known
    // extreme skew where AQE's skew-join can't apply (hash joins,
    // pre-partitioned layouts).
    "q53_salted_join" -> QueryDef.of(
      """WITH fact AS (
        |  SELECT CASE WHEN o_custkey % 10 < 7 THEN 1 ELSE o_custkey % 100 END AS k,
        |    o_totalprice
        |  FROM orders
        |), dim AS (
        |  SELECT DISTINCT c_custkey % 100 AS dk, 'grp_' || CAST(c_custkey % 100 AS VARCHAR) AS label
        |  FROM customer
        |)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM fact JOIN dim ON k = dk
        |GROUP BY label
        |""".stripMargin) { (s, dir) =>
      val fact = Tables.orders(s, dir).select(
        when(col("o_custkey") % 10 < 7, 1L).otherwise(col("o_custkey") % 100).as("k"),
        col("o_totalprice"), col("o_orderkey"))
      val dim = Tables.customer(s, dir)
        .select((col("c_custkey") % 100).as("dk"))
        .distinct()
        .withColumn("label", concat(lit("grp_"), col("dk").cast("string")))
      graft.operators.Relational
        .saltedJoin(fact, dim, "k", "dk", saltCol = col("o_orderkey"), saltFactor = 8)
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(graft.functions.F.money(col("o_totalprice"))).cast("double").as("total"))
    },

    // q54: org_name_parts (helpers.py:354): strip the short name's
    // parenthetical, find it inside the full name, and split into
    // (primary=short, secondary=prefix+suffix with ' -,\n\t' stripped);
    // fall back to (primary=name, secondary=null). The reference's fuzzy
    // `{e<2}` search is realized as exact locate — the e<2 tolerance only
    // absorbs typos between two curated fields; a fuzzy variant would ride
    // q10's banded-levenshtein machinery.
    "q54_org_name_parts" -> QueryDef.of(
      """WITH src AS (
        |  SELECT c_custkey AS custkey,
        |    'The ' || n_name || ' Council of ' || c_mktsegment AS name,
        |    CASE WHEN c_custkey % 3 = 0 THEN n_name || ' (reg)'
        |         WHEN c_custkey % 3 = 1 THEN NULL
        |         ELSE 'Bureau ' || CAST(c_custkey % 7 AS VARCHAR) END AS short_raw
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |), cleaned AS (
        |  SELECT custkey, name,
        |    nullif(trim(replace(string_split(short_raw, '(')[1], ')', '')), '') AS short_name
        |  FROM src
        |), located AS (
        |  SELECT custkey, name, short_name,
        |    CASE WHEN short_name IS NOT NULL THEN position(short_name IN name) ELSE 0 END AS pos
        |  FROM cleaned
        |)
        |SELECT custkey,
        |  CASE WHEN pos > 0 THEN short_name ELSE name END AS primary_name,
        |  CASE WHEN pos > 0 THEN nullif(trim(
        |         trim(substring(name, 1, pos - 1), ' -,' || chr(10) || chr(9))
        |         || ' ' ||
        |         trim(substring(name, pos + length(short_name)), ' -,' || chr(10) || chr(9))
        |       ), '') ELSE NULL END AS secondary_name
        |FROM located
        |""".stripMargin) { (s, dir) =>
      val stripChars = "^[ \\-,\\n\\t]+|[ \\-,\\n\\t]+$"
      val src = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .select(
          col("c_custkey").as("custkey"),
          concat(lit("The "), col("n_name"), lit(" Council of "), col("c_mktsegment")).as("name"),
          when(col("c_custkey") % 3 === 0, concat(col("n_name"), lit(" (reg)")))
            .when(col("c_custkey") % 3 === 1, lit(null))
            .otherwise(concat(lit("Bureau "), (col("c_custkey") % 7).cast("string"))).as("short_raw"))
      val shortName = nullif(trim(regexp_replace(
        element_at(split(col("short_raw"), "\\("), 1), "\\)", "")), lit(""))
      val located = src
        .withColumn("short_name", shortName)
        .withColumn("pos",
          when(col("short_name").isNotNull, expr("locate(short_name, name)")).otherwise(lit(0)))
      located.select(
        col("custkey"),
        when(col("pos") > 0, col("short_name")).otherwise(col("name")).as("primary_name"),
        when(col("pos") > 0, nullif(trim(concat(
          regexp_replace(col("name").substr(lit(1), col("pos") - 1), stripChars, ""),
          lit(" "),
          regexp_replace(col("name").substr(col("pos") + length(col("short_name")), lit(10000)), stripChars, ""))), lit("")))
          .otherwise(lit(null)).as("secondary_name"))
    },

    // q55: address_parts (helpers.py:314): national sentinel, accurate/
    // orig address selection, city located in the '-'-normalized address
    // (positions transfer to the original — the replace is char-for-char),
    // prefix/suffix strip-join with the short-suffix rule and the
    // inaccuracy marker. Exact-locate realization of the `{e<2}` fuzzy
    // city search, like q54. Address variants derive per customer to hit
    // every branch: found+short-suffix, found+suffix, not-found accurate,
    // not-found inaccurate, national.
    "q55_address_parts" -> QueryDef.of(
      """WITH src AS (
        |  SELECT c_custkey AS custkey, n_name AS city,
        |    c_custkey % 10 = 0 AS national,
        |    c_custkey % 3 <> 0 AS accurate,
        |    'Herzl 10, ' || n_name || (CASE WHEN c_custkey % 7 = 0 THEN ' X' ELSE ' district 9' END) AS resolved,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'no city here' ELSE 'Old ' || n_name END AS orig
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |), sel AS (
        |  SELECT *, replace(city, '-', ' ') AS city_n,
        |    coalesce(CASE WHEN accurate THEN resolved ELSE orig END, orig) AS address
        |  FROM src
        |), loc AS (
        |  SELECT *, position(city_n IN replace(address, '-', ' ')) AS pos FROM sel
        |), parts AS (
        |  SELECT *,
        |    trim(substring(address, 1, pos - 1), ' -,' || chr(10) || chr(9)) AS pre,
        |    trim(substring(address, pos + length(city_n)), ' -,' || chr(10) || chr(9)) AS suf
        |  FROM loc
        |), street AS (
        |  SELECT *,
        |    trim((CASE WHEN length(suf) < 4 THEN pre ELSE pre || ', ' || suf END)
        |      || (CASE WHEN NOT accurate THEN ' (במיקום לא מדויק)' ELSE '' END),
        |      ' -,' || chr(10) || chr(9)) AS street_address
        |  FROM parts
        |)
        |SELECT custkey,
        |  CASE WHEN national THEN 'שירות ארצי'
        |       WHEN pos > 0 THEN city
        |       ELSE address END AS primary_part,
        |  CASE WHEN national THEN NULL
        |       WHEN pos > 0 THEN street_address
        |       WHEN accurate THEN NULL
        |       ELSE '(במיקום לא מדויק)' END AS secondary_part,
        |  national
        |FROM street
        |""".stripMargin) { (s, dir) =>
      val strip = "^[ \\-,\\n\\t]+|[ \\-,\\n\\t]+$"
      val src = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .select(
          col("c_custkey").as("custkey"), col("n_name").as("city"),
          (col("c_custkey") % 10 === 0).as("national"),
          (col("c_custkey") % 3 =!= 0).as("accurate"),
          concat(lit("Herzl 10, "), col("n_name"),
            when(col("c_custkey") % 7 === 0, " X").otherwise(" district 9")).as("resolved"),
          when(col("c_custkey") % 5 === 0, "no city here")
            .otherwise(concat(lit("Old "), col("n_name"))).as("orig"))
        .withColumn("city_n", regexp_replace(col("city"), "-", " "))
        .withColumn("address",
          coalesce(when(col("accurate"), col("resolved")).otherwise(col("orig")), col("orig")))
        .withColumn("searchable", regexp_replace(col("address"), "-", " "))
        .withColumn("pos", expr("locate(city_n, searchable)"))
        .withColumn("pre",
          regexp_replace(col("address").substr(lit(1), col("pos") - 1), strip, ""))
        .withColumn("suf",
          regexp_replace(col("address").substr(col("pos") + length(col("city_n")), lit(10000)), strip, ""))
        .withColumn("street_address",
          regexp_replace(concat(
            when(length(col("suf")) < 4, col("pre"))
              .otherwise(concat(col("pre"), lit(", "), col("suf"))),
            when(!col("accurate"), lit(" (במיקום לא מדויק)")).otherwise(lit(""))), strip, ""))
      src.select(
        col("custkey"),
        when(col("national"), lit("שירות ארצי"))
          .when(col("pos") > 0, col("city"))
          .otherwise(col("address")).as("primary_part"),
        when(col("national"), lit(null))
          .when(col("pos") > 0, col("street_address"))
          .when(col("accurate"), lit(null))
          .otherwise(lit("(במיקום לא מדויק)")).as("secondary_part"),
        col("national"))
    },

    // q50: situations_for_age_range — overlap tests against the six age
    // bands IN THE REFERENCE'S APPEND ORDER, null ages defaulting to
    // 0/120, and the all-six-match -> empty rule. Ages derive from
    // customer columns (nulls injected to exercise the defaults).
    "q50_age_situations" -> QueryDef.of(
      """WITH src AS (
        |  SELECT c_custkey AS custkey,
        |    CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_custkey % 60 END AS min_age_raw,
        |    CASE WHEN c_custkey % 17 = 0 THEN NULL ELSE (c_custkey % 60) + (c_nationkey % 40) END AS max_age_raw
        |  FROM customer
        |), ages AS (
        |  SELECT custkey, coalesce(min_age_raw, 0) AS lo, coalesce(max_age_raw, 120) AS hi FROM src
        |), bands AS (
        |  SELECT custkey,
        |    list_filter([
        |      CASE WHEN lo <= 54 AND hi >= 31 THEN 'adults' END,
        |      CASE WHEN lo <= 30 AND hi >= 20 THEN 'young_adults' END,
        |      CASE WHEN lo <= 19 AND hi >= 13 THEN 'teens' END,
        |      CASE WHEN lo <= 1 AND hi >= 0 THEN 'infants' END,
        |      CASE WHEN lo <= 12 AND hi >= 2 THEN 'children' END,
        |      CASE WHEN hi >= 55 THEN 'seniors' END
        |    ], x -> x IS NOT NULL) AS hits
        |  FROM ages
        |)
        |SELECT custkey,
        |  coalesce(array_to_string(
        |    CASE WHEN len(hits) = 6 THEN [] ELSE list_transform(hits, s -> 'human_situations:age_group:' || s) END,
        |    '|'), '') AS situations
        |FROM bands
        |""".stripMargin) { (s, dir) =>
      val lo = coalesce(when(col("c_custkey") % 13 === 0, lit(null)).otherwise(col("c_custkey") % 60), lit(0L))
      val hi = coalesce(when(col("c_custkey") % 17 === 0, lit(null))
        .otherwise((col("c_custkey") % 60) + (col("c_nationkey") % 40)), lit(120L))
      val hits = filter(array(
        when(lo <= 54 && hi >= 31, "adults"),
        when(lo <= 30 && hi >= 20, "young_adults"),
        when(lo <= 19 && hi >= 13, "teens"),
        when(lo <= 1 && hi >= 0, "infants"),
        when(lo <= 12 && hi >= 2, "children"),
        when(hi >= 55, "seniors")), x => x.isNotNull)
      Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"),
          array_join(
            when(size(hits) === 6, array().cast("array<string>"))
              .otherwise(transform(hits, s => concat(lit("human_situations:age_group:"), s))),
            "|").as("situations"))
    },

    // q51: URL fixing + structuring — fix_url's keep-http / add-scheme-on
    // -valid-domain / drop rules composed with transform_urls' '#'-suffix
    // title split (default title preserved from the reference). Raw
    // newline-separated url strings derive from customer columns with one
    // valid-https, one bare-domain, one titled BARE-DOMAIN (it must
    // survive the domain gate or the title-split branch is dead in the
    // output — a path component would fail DomainRe), and one junk
    // entry. The oracle shares DomainRe via placeholder substitution so
    // the two engines' regexes cannot drift.
    "q51_urls" -> QueryDef.of(
      """WITH src AS (
        |  SELECT c_custkey AS custkey,
        |    'https://ex.com/c/' || CAST(c_custkey AS VARCHAR)
        |      || chr(10) || 'www.site-' || CAST(c_custkey % 50 AS VARCHAR) || '.org'
        |      || chr(10) || 'ex.org#Contact ' || CAST(c_custkey % 9 AS VARCHAR)
        |      || chr(10) || CASE WHEN c_custkey % 2 = 0 THEN 'not a url' ELSE 'bad-.domain' END AS raw
        |  FROM customer
        |), entries AS (
        |  SELECT custkey,
        |    list_transform(string_split(raw, chr(10)), s -> {
        |      'href': CASE WHEN contains(s, '#') THEN regexp_replace(s, '#[^#]*$', '') ELSE s END,
        |      'title': CASE WHEN contains(s, '#') THEN regexp_extract(s, '#([^#]*)$', 1) ELSE 'קישור' END
        |    }) AS us
        |  FROM src
        |), fixed AS (
        |  SELECT custkey,
        |    list_filter(list_transform(us, u -> {
        |      'href': CASE WHEN starts_with(u.href, 'http') THEN u.href
        |                   WHEN regexp_matches(u.href, '__DOMAIN_RE__') THEN 'http://' || u.href
        |                   ELSE NULL END,
        |      'title': u.title}), u -> u.href IS NOT NULL) AS us
        |  FROM entries
        |)
        |SELECT custkey,
        |  array_to_string(list_transform(us, u -> u.href || '^' || u.title), '|') AS urls
        |FROM fixed
        |""".stripMargin.replace("__DOMAIN_RE__", DomainRe)) { (s, dir) =>
      val raw = concat(
        lit("https://ex.com/c/"), col("c_custkey").cast("string"),
        lit("\nwww.site-"), (col("c_custkey") % 50).cast("string"), lit(".org"),
        lit("\nex.org#Contact "), (col("c_custkey") % 9).cast("string"),
        lit("\n"),
        when(col("c_custkey") % 2 === 0, "not a url").otherwise("bad-.domain"))
      val entries = transform(split(raw, "\n"), s => struct(
        when(s.contains("#"), regexp_replace(s, "#[^#]*$", "")).otherwise(s).as("href"),
        when(s.contains("#"), regexp_extract(s, "#([^#]*)$", 1)).otherwise(lit("קישור")).as("title")))
      val fixed = filter(
        transform(entries, u => struct(
          when(u.getField("href").startsWith("http"), u.getField("href"))
            .when(u.getField("href").rlike(DomainRe), concat(lit("http://"), u.getField("href")))
            .otherwise(lit(null)).as("href"),
          u.getField("title").as("title"))),
        u => u.getField("href").isNotNull)
      Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"),
          array_join(
            transform(fixed, u => concat(u.getField("href"), lit("^"), u.getField("title"))),
            "|").as("urls"))
    }
  )
}
