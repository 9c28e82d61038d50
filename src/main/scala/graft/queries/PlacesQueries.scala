package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** SURVEY.md §2 — the location-bounds table and its search scoring: the
  * upstream that produces the name→bbox mapping q62's autocomplete gates
  * consume.
  *
  * Reference, two parts:
  *  - data-analysis/osm/generate_places.py — builds `place_bounds_he` from
  *    OSM multipolygons: per-feature Hebrew name-variant extraction
  *    (`is_heb` gate, `fix_osm_name` normalization with its drop rules),
  *    key = '_'-join of the Hebrew word runs, group-by-key with a
  *    geometry union (bounds = enveloping bbox), a rank gate (place in
  *    {city,town,village,hamlet} / residential landuse / population), and
  *    a final keep gate (official-registry match OR ranked place OR
  *    `include_anyways` name prefixes).
  *  - operators/derive/to_es.py:163 `load_locations_to_es_flow` — unions
  *    the four PREDEFINED regions, adds `query` (the longest name
  *    variant) and `score` = bbox-area × 100000 × place-type weight
  *    (region 200, city 100, town 50, village 10, hamlet 5, else 1) —
  *    `calc_score` at to_es.py:169.
  *
  * Zero-egress realization: the OSM extract becomes a deterministic
  * fixture derived from `customer` — each row is one polygon *fragment*
  * of one of 22 letter-keyed places, so the group-by-key bounds union
  * aggregates real multi-fragment extents. The official-registry fuzzy
  * match (requests + thefuzz) cannot run offline; its keep gate is
  * modeled with official = no-match, which makes the RANKS /
  * include_anyways arms carry the decision (both exercised, including a
  * dropped suburb). `fix_osm_name` rules that cannot fire on the fixture
  * vocabulary (קרית/נוה/ייה rewrites, the שהם special case) are omitted;
  * the quote translation, ' - ' smash, bad-word/digit/length/word-count
  * drops and the `is_heb` gate are modeled exactly.
  *
  * Everything here is per-row projection + one small groupBy — the scan
  * dominates at any scale, and q62 consumes the result as a broadcast.
  */
object PlacesQueries {

  private val letters = Seq("א", "ב", "ג", "ד", "ה", "ו", "ז", "ח", "ט", "י", "כ",
    "ל", "מ", "נ", "ס", "ע", "פ", "צ", "ק", "ר", "ש", "ת")

  private val badWords = Seq("שכונת", "דיסטריקט", "שדרות ", "כפר הנוער ",
    "יורדי ים", "בית חולים", "נפת שכם", "יישוב בדואי")

  private val okayPrefixes = Seq("מועצה אזורית", "א-", "אבו ", "אום ", "אל ", "אל-", "גבעת ")

  /** The base (canonical) name of place `pid` — also what q62's corpus
    * rows carry as their city name. */
  private[queries] def baseCityName(pid: Column): Column = {
    val letter = element_at(array(letters.map(lit): _*), pid + 1)
    when(pid % 6 === 4,
      when(pid === 10, concat(lit("עיר "), letter))
        .otherwise(concat(lit("גבעת "), letter)))
      .when(pid % 6 === 5, concat(lit("אום "), letter))
      .otherwise(concat(lit("עיר "), letter))
  }

  /** Same expression in the oracle dialect, over a pid SQL expression. */
  private[queries] def baseCityNameSql(pid: String): String = {
    val letter = s"([${letters.map(l => s"'$l'").mkString(",")}])[($pid) + 1]"
    s"""CASE WHEN ($pid) % 6 = 4 THEN
       |      CASE WHEN ($pid) = 10 THEN 'עיר ' || $letter ELSE 'גבעת ' || $letter END
       |    WHEN ($pid) % 6 = 5 THEN 'אום ' || $letter
       |    ELSE 'עיר ' || $letter END""".stripMargin
  }

  /** `is_heb` + `fix_osm_name` over one raw candidate: null = dropped. */
  private def normName(raw: Column): Column = {
    val isHeb = !raw.rlike("[a-zA-Z]") &&
      (length(regexp_replace(raw, "[^א-ת]", "")) * 2 > length(raw))
    val fixed = translate(regexp_replace(raw, " - ", "-"), "\"'", "״׳")
    val hasBad = badWords.map(w => fixed.contains(w)).reduce(_ || _)
    when(isHeb && !hasBad && !fixed.contains(";") && !fixed.rlike("[0-9]") &&
      length(fixed) <= 20 && size(split(fixed, " ")) <= 7, trim(fixed))
  }

  /** The OSM-fragment fixture + generate_places chain on the Spark side:
    * (key, place, names, min_lon, min_lat, max_lon, max_lat).
    *
    * Plan note: the name-variant normalization is a chain of array HOFs —
    * interpreted (CodegenFallback, SURVEY §6 lesson 1) — and every name
    * attribute is a function of the 22-value pid alone, so it is computed
    * ONCE PER DISTINCT PID on a 22-row frame and broadcast-joined back to
    * the fragments (whose bounds arithmetic stays codegen'd per row).
    * Same result as the reference's per-feature computation, without
    * paying ~1 ms of interpreted lambda per fragment. */
  private[queries] def placeBounds(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val frag = Tables.customer(s, dir).select(
      k.as("ck"), (k % 22).cast("int").as("pid"),
      (lit(34.0) + (k % 22).cast("int").cast("double") * 0.02
        + (k % 10).cast("double") * 0.001).as("f_min_lon"),
      (lit(29.8) + (k % 22).cast("int").cast("double") * 0.03
        + (k % 5).cast("double") * 0.002).as("f_min_lat"))
      .withColumn("f_max_lon", col("f_min_lon") + lit(0.05) + (col("ck") % 7).cast("double") * 0.01)
      .withColumn("f_max_lat", col("f_min_lat") + lit(0.04) + (col("ck") % 3).cast("double") * 0.01)
    val pid = col("pid")
    // the 22 pids exist by construction (pid = custkey % 22); a literal
    // range beats a distinct-shuffle over the fragment frame, and the
    // inner join below drops any pid that somehow had no fragments
    val pidDim = s.range(22).select(col("id").cast("int").as("pid"))
      .withColumn("base", baseCityName(pid))
      .withColumn("place",
        when(pid % 6 === 0, "city").when(pid % 6 === 1, "town")
          .when(pid % 6 === 2, "village").when(pid % 6 === 3, "hamlet")
          .when(pid % 6 === 4, "suburb"))
      .withColumn("landuse", when(pid % 6 === 4 && pid =!= 16, "residential"))
      .withColumn("population", when(pid % 6 === 5 && pid =!= 17, "1000"))
      .withColumn("cands", array(
        col("base"),
        when(pid % 3 === 0, regexp_replace(col("base"), " ", " - ")),
        when(pid % 5 === 0, concat(lit("שכונת "), substring(col("base"), -1, 1))),
        when(pid % 7 === 0,
          concat(substring(col("base"), -1, 1), lit(" עיר גדולה מאוד ורחבה בישראל"))),
        when(pid % 4 === 0, concat(lit("City "), substring(col("base"), -1, 1)))))
      .withColumn("names",
        sort_array(array_distinct(filter(transform(col("cands"), normName(_)), _.isNotNull))))
      // rank gate (generate_places.py:162): ranked place type, residential
      // landuse, or a population tag
      .filter(col("place").isin("city", "town", "village", "hamlet") ||
        col("landuse") === "residential" || col("population").isNotNull)
      .withColumn("key", regexp_replace(array_join(col("names"), " "), "[^א-ת]+", "_"))
      .select(col("pid"), col("key"), col("place"), col("names"))
    val grouped = frag.join(broadcast(pidDim), "pid")
      .groupBy(col("key"), col("place"), col("names"))
      .agg(min(col("f_min_lon")).as("min_lon"), min(col("f_min_lat")).as("min_lat"),
        max(col("f_max_lon")).as("max_lon"), max(col("f_max_lat")).as("max_lat"))
    // final keep gate (generate_places.py:215): official match (modeled
    // as none offline) OR ranked place OR include_anyways prefix
    grouped.filter(
      col("place").isin("city", "town", "village", "hamlet") ||
        exists(col("names"), n => okayPrefixes.map(p => n.startsWith(p)).reduce(_ || _)))
  }

  /** placeBounds ∪ PREDEFINED + query + calc_score — the full places
    * table (to_es.py:163). */
  private[queries] def places(s: SparkSession, dir: String): DataFrame = {
    val predefined = Seq(
      ("גוש_דן", "region", Seq("גוש דן"), 34.6, 31.8, 35.1, 32.181),
      ("איזור_ירושלים", "region", Seq("איזור ירושלים"), 34.9, 31.7, 35.3, 31.9),
      ("איזור_הצפון", "region", Seq("איזור הצפון"), 34.5, 32.5, 35.8, 33.3),
      ("איזור_באר_שבע", "region", Seq("איזור באר-שבע"), 34.5, 30.8, 35.5, 31.5))
    import s.implicits._
    val pre = predefined.toDF("key", "place", "names", "min_lon", "min_lat", "max_lon", "max_lat")
    val all = placeBounds(s, dir).unionByName(pre)
    val weight = when(col("place") === "region", 200)
      .when(col("place") === "city", 100).when(col("place") === "town", 50)
      .when(col("place") === "village", 10).when(col("place") === "hamlet", 5)
      .otherwise(1)
    all
      // query = longest name variant, ties to the lexicographically first
      // (Python's stable sort over the pre-sorted name list)
      .withColumn("query", element_at(
        filter(col("names"), n => length(n) === array_max(transform(col("names"), length(_)))), 1))
      .withColumn("score",
        (col("max_lon") - col("min_lon")) * (col("max_lat") - col("min_lat"))
          * 100000.0 * weight.cast("double"))
  }

  /** Oracle twin of [[places]]: CTE chain ending in
    * `places(key, place, names, min_lon, min_lat, max_lon, max_lat,
    * query, score)`. Every float literal casts to DOUBLE (DuckDB decimal
    * literals would otherwise compute in DECIMAL), and the fold order of
    * every arithmetic expression mirrors the Spark side exactly. */
  private[queries] val placesCtes: String = {
    val lettersSql = s"([${letters.map(l => s"'$l'").mkString(",")}])"
    val norm =
      """CASE WHEN x IS NOT NULL
        |  AND NOT regexp_matches(x, '[a-zA-Z]')
        |  AND length(regexp_replace(x, '[^א-ת]', '', 'g')) * 2 > length(x)
        |  AND NOT contains(translate(replace(x, ' - ', '-'), '"''', '״׳'), 'שכונת')
        |  AND NOT contains(translate(replace(x, ' - ', '-'), '"''', '״׳'), 'דיסטריקט')
        |  AND NOT contains(translate(replace(x, ' - ', '-'), '"''', '״׳'), 'שדרות ')
        |  AND NOT contains(translate(replace(x, ' - ', '-'), '"''', '״׳'), 'כפר הנוער ')
        |  AND NOT contains(translate(replace(x, ' - ', '-'), '"''', '״׳'), 'יורדי ים')
        |  AND NOT contains(translate(replace(x, ' - ', '-'), '"''', '״׳'), 'בית חולים')
        |  AND NOT contains(translate(replace(x, ' - ', '-'), '"''', '״׳'), 'נפת שכם')
        |  AND NOT contains(translate(replace(x, ' - ', '-'), '"''', '״׳'), 'יישוב בדואי')
        |  AND NOT contains(translate(replace(x, ' - ', '-'), '"''', '״׳'), ';')
        |  AND NOT regexp_matches(translate(replace(x, ' - ', '-'), '"''', '״׳'), '[0-9]')
        |  AND length(translate(replace(x, ' - ', '-'), '"''', '״׳')) <= 20
        |  AND len(string_split(translate(replace(x, ' - ', '-'), '"''', '״׳'), ' ')) <= 7
        |  THEN trim(translate(replace(x, ' - ', '-'), '"''', '״׳')) END""".stripMargin
    s"""pfrag AS (
       |  SELECT *,
       |    f_min_lon + CAST(0.05 AS DOUBLE) + CAST(ck % 7 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS f_max_lon,
       |    f_min_lat + CAST(0.04 AS DOUBLE) + CAST(ck % 3 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS f_max_lat,
       |    list_sort(list_distinct(list_filter(list_transform([
       |      base,
       |      CASE WHEN pid % 3 = 0 THEN replace(base, ' ', ' - ') END,
       |      CASE WHEN pid % 5 = 0 THEN 'שכונת ' || base[-1] END,
       |      CASE WHEN pid % 7 = 0 THEN base[-1] || ' עיר גדולה מאוד ורחבה בישראל' END,
       |      CASE WHEN pid % 4 = 0 THEN 'City ' || base[-1] END
       |    ], x -> $norm), x -> x IS NOT NULL))) AS names
       |  FROM (
       |    SELECT c_custkey AS ck, pid, ${baseCityNameSql("pid")} AS base,
       |      CASE WHEN pid % 6 = 0 THEN 'city' WHEN pid % 6 = 1 THEN 'town'
       |           WHEN pid % 6 = 2 THEN 'village' WHEN pid % 6 = 3 THEN 'hamlet'
       |           WHEN pid % 6 = 4 THEN 'suburb' END AS place,
       |      CASE WHEN pid % 6 = 4 AND pid <> 16 THEN 'residential' END AS landuse,
       |      CASE WHEN pid % 6 = 5 AND pid <> 17 THEN '1000' END AS population,
       |      CAST(34.0 AS DOUBLE) + CAST(pid AS DOUBLE) * CAST(0.02 AS DOUBLE) + CAST(c_custkey % 10 AS DOUBLE) * CAST(0.001 AS DOUBLE) AS f_min_lon,
       |      CAST(29.8 AS DOUBLE) + CAST(pid AS DOUBLE) * CAST(0.03 AS DOUBLE) + CAST(c_custkey % 5 AS DOUBLE) * CAST(0.002 AS DOUBLE) AS f_min_lat
       |    FROM (SELECT c_custkey, CAST(c_custkey % 22 AS INT) AS pid FROM customer)
       |  )
       |), pgrp AS (
       |  SELECT regexp_replace(array_to_string(names, ' '), '[^א-ת]+', '_', 'g') AS key,
       |    place, names,
       |    min(f_min_lon) AS min_lon, min(f_min_lat) AS min_lat,
       |    max(f_max_lon) AS max_lon, max(f_max_lat) AS max_lat
       |  FROM pfrag
       |  WHERE place IN ('city','town','village','hamlet')
       |     OR landuse = 'residential' OR population IS NOT NULL
       |  GROUP BY 1, 2, 3
       |), pkeep AS (
       |  SELECT * FROM pgrp
       |  WHERE place IN ('city','town','village','hamlet')
       |     OR len(list_filter(names, n ->
       |          n LIKE 'מועצה אזורית%' OR n LIKE 'א-%' OR n LIKE 'אבו %'
       |          OR n LIKE 'אום %' OR n LIKE 'אל %' OR n LIKE 'אל-%'
       |          OR n LIKE 'גבעת %')) > 0
       |  UNION ALL SELECT * FROM (VALUES
       |    ('גוש_דן', 'region', ['גוש דן'], CAST(34.6 AS DOUBLE), CAST(31.8 AS DOUBLE), CAST(35.1 AS DOUBLE), CAST(32.181 AS DOUBLE)),
       |    ('איזור_ירושלים', 'region', ['איזור ירושלים'], CAST(34.9 AS DOUBLE), CAST(31.7 AS DOUBLE), CAST(35.3 AS DOUBLE), CAST(31.9 AS DOUBLE)),
       |    ('איזור_הצפון', 'region', ['איזור הצפון'], CAST(34.5 AS DOUBLE), CAST(32.5 AS DOUBLE), CAST(35.8 AS DOUBLE), CAST(33.3 AS DOUBLE)),
       |    ('איזור_באר_שבע', 'region', ['איזור באר-שבע'], CAST(34.5 AS DOUBLE), CAST(30.8 AS DOUBLE), CAST(35.5 AS DOUBLE), CAST(31.5 AS DOUBLE))
       |  ) v(key, place, names, min_lon, min_lat, max_lon, max_lat)
       |), places AS (
       |  SELECT *,
       |    list_filter(names, n -> length(n) =
       |      list_reduce(list_transform(names, y -> length(y)), (a, b) -> greatest(a, b)))[1] AS query,
       |    (max_lon - min_lon) * (max_lat - min_lat) * CAST(100000.0 AS DOUBLE) *
       |      CAST(CASE place WHEN 'region' THEN 200 WHEN 'city' THEN 100 WHEN 'town' THEN 50
       |           WHEN 'village' THEN 10 WHEN 'hamlet' THEN 5 ELSE 1 END AS DOUBLE) AS score
       |  FROM pkeep
       |)""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // q97: the places table with search scores — the q62 upstream. The
    // name array serializes to a '|' join for the flat compare gate.
    "q97_place_scores" -> QueryDef.of(
      s"""WITH $placesCtes
         |SELECT key, place, array_to_string(names, '|') AS name, query,
         |  min_lon, min_lat, max_lon, max_lat, score
         |FROM places
         |""".stripMargin) { (s, dir) =>
      places(s, dir).select(
        col("key"), col("place"), array_join(col("names"), "|").as("name"),
        col("query"), col("min_lon"), col("min_lat"),
        col("max_lon"), col("max_lat"), col("score"))
    }
  )
}
