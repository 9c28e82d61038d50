package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.F

/** SURVEY.md §2 — the reference's per-entity `preprocess_*` staging chains
  * (operators/derive/helpers.py:124-270): dummy-row filter, active-status
  * gate, staging surrogate key, and the per-entity field transforms
  * (manual-value overrides, url/phone structuring, whitespace cleanup,
  * boost default), composed from the library kernels that q08/q39/q49/q51
  * verify individually. Three entity chains (organizations ← customer,
  * services ← part, branches ← orders) unify to one staging schema, the
  * same shape srm-etl's staging DB sees after preprocessing.
  *
  * Raw Airtable-ish values (status text, manual overrides, newline-packed
  * urls/phones) derive deterministically from the entity columns so every
  * transform branch executes — the q49/q51 pattern.
  */
object PreprocessQueries {

  /** remove_whitespaces SQL twin (helpers.py:377). */
  private def cleanSql(e: String) =
    s"regexp_replace(regexp_replace($e, '\\s+', ' ', 'g'), '^[ \\t\\n(-]+|[ \\t\\n(-]+$$', '', 'g')"

  /** One transform_urls entry (helpers.py:23) serialized as href^title —
    * the SCALAR form of [[F.transformUrls]]: the last '#' splits an
    * optional title, default "קישור". Array HOFs are CodegenFallback
    * (SURVEY §6 lesson 1), so the per-entry hot path runs these codegen'd
    * string ops instead; q51/PropertySpec keep the array kernel honest. */
  private def urlEntry(raw: org.apache.spark.sql.Column) = concat(
    when(raw.contains("#"), regexp_replace(raw, "#[^#]*$", "")).otherwise(raw),
    lit("^"),
    when(raw.contains("#"), regexp_extract(raw, "#([^#]*)$", 1)).otherwise(lit("קישור")))

  private def orgs(s: SparkSession, dir: String): DataFrame = {
    val nameRaw =
      when(col("c_custkey") % 97 === 0, "dummy")
        .when(col("c_custkey") % 89 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("  "), col("c_name"),
          when(col("c_custkey") % 7 === 0, " -").otherwise("")))
    val status =
      when(col("c_custkey") % 10 === 0, "inactive")
        .when(col("c_custkey") % 10 === 1, " active ")
        .otherwise("ACTIVE")
    // two raw entries: one '#'-titled, one bare (title defaults)
    val urlsJoined = concat(
      urlEntry(concat(lit("https://org.example/"), col("c_custkey").cast("string"), lit("#אתר"))),
      lit("|"),
      urlEntry(concat(lit("www.example-"), (col("c_custkey") % 50).cast("string"), lit(".org"))))
    val phonesRaw = concat(
      lit("05"), (col("c_custkey") % 4).cast("string"), lit("-"),
      lpad((col("c_custkey") % 10000000).cast("string"), 7, "0"))
    Tables.customer(s, dir)
      .withColumn("name_raw", nameRaw)
      // filter_dummy_data then filter_active_data (helpers.py:85,89), then
      // the organizations-only "No Name" gate (helpers.py:183)
      .filter(coalesce(col("name_raw"), lit("")) =!= "dummy")
      .filter(upper(trim(status)) === "ACTIVE")
      .filter(col("name_raw").isNotNull && col("name_raw") =!= "")
      // lesson-4 repartition-for-compute: each staging table arrives as
      // ONE parquet split locally, and the name/phone/url regex chains
      // below are the expensive part — without the spread the whole
      // chain runs on one core (r9 driver profile: q68 wall ≈ summed
      // task-ms at zero shuffle). Placed after the row gates so dropped
      // rows never shuffle; column pruning keeps the wire to the raw
      // input columns. At real scale the scan has many splits and this
      // exchange is batch-sized noise next to the compute it spreads.
      // (r11: hash spread on the entity key, not round-robin — keyless
      // repartition pays a local sort-before-repartition; and made
      // layout-adaptive via spreadForCompute, a no-op on many-split scans.)
      .transform(graft.operators.Relational.spreadForCompute(_, col("c_custkey")))
      .select(
        lit("organizations").as("entity"),
        F.hashKey(lit("organizations"), col("c_custkey")).as("key"),
        col("c_custkey").as("id"),
        F.cleanWhitespace(col("name_raw")).as("name"),
        F.cleanWhitespace(
          when(col("c_custkey") % 3 === 0,
            concat(lit("Org "), (col("c_custkey") % 100).cast("string"), lit(" ")))
        ).as("short_name"),
        array_join(F.formatPhoneNumbers(phonesRaw), "|").as("phone_numbers"),
        urlsJoined.as("urls"),
        lit(null).cast("string").as("situation_ids"),
        lit(null).cast("string").as("data_sources"),
        lit(null).cast("double").as("boost"))
  }

  private def services(s: SparkSession, dir: String): DataFrame = {
    val nameRaw = when(col("p_partkey") % 101 === 0, "dummy").otherwise(col("p_name"))
    val nameManual =
      when(col("p_partkey") % 5 === 0, concat(lit("MANUAL "), col("p_name")))
    val status = when(col("p_partkey") % 8 === 0, "retired").otherwise(" Active")
    val sitManual =
      when(col("p_partkey") % 4 === 0,
        concat(lit("human_situations:manual:"), (col("p_partkey") % 5).cast("string")))
    val sitBase = concat(lit("sit:"), regexp_replace(lower(col("p_type")), " ", "_"))
    val boostRaw =
      when(col("p_partkey") % 7 === 0, lit(null).cast("double"))
        .otherwise((col("p_partkey") % 10).cast("double"))
    Tables.part(s, dir)
      .withColumn("name_raw", nameRaw)
      .filter(col("name_raw") =!= "dummy")
      .filter(upper(trim(status)) === "ACTIVE")
      // lesson-4 compute spread — see orgs()
      .transform(graft.operators.Relational.spreadForCompute(_, col("p_partkey")))
      .select(
        lit("services").as("entity"),
        F.hashKey(lit("services"), col("p_partkey")).as("key"),
        col("p_partkey").as("id"),
        // name_manual or name (helpers.py:155)
        coalesce(nameManual, col("name_raw")).as("name"),
        lit(null).cast("string").as("short_name"),
        lit(null).cast("string").as("phone_numbers"),
        lit(null).cast("string").as("urls"),
        // situations_manual_ids or situation_ids (helpers.py:156)
        coalesce(sitManual, sitBase).as("situation_ids"),
        // data_sources: newline split (helpers.py:165)
        array_join(split(concat(lit("catalog\n"), col("p_brand")), "\n"), "|")
          .as("data_sources"),
        // boost: v or 0 (helpers.py:158)
        coalesce(boostRaw, lit(0.0)).as("boost"))
  }

  private def branches(s: SparkSession, dir: String): DataFrame = {
    val nameRaw =
      when(col("o_orderkey") % 997 === 0, "dummy")
        .otherwise(concat(lit("  Branch "), col("o_orderpriority"),
          when(col("o_orderkey") % 5 === 0, " (").otherwise("")))
    val status =
      when(col("o_orderstatus") === "O", "Active")
        .when(col("o_orderstatus") === "F", " ACTIVE ")
        .otherwise("pending")
    val phonesRaw = concat(lit("02"), lpad((col("o_orderkey") % 10000000).cast("string"), 7, "0"))
    // single bare entry — title defaults through the same scalar path
    val urlsRaw = urlEntry(concat(lit("branch.example/"), (col("o_orderkey") % 1000).cast("string")))
    Tables.orders(s, dir)
      .withColumn("name_raw", nameRaw)
      .filter(col("name_raw") =!= "dummy")
      .filter(upper(trim(status)) === "ACTIVE")
      // lesson-4 compute spread — see orgs()
      .transform(graft.operators.Relational.spreadForCompute(_, col("o_orderkey")))
      .select(
        lit("branches").as("entity"),
        F.hashKey(lit("branches"), col("o_orderkey")).as("key"),
        col("o_orderkey").as("id"),
        F.cleanWhitespace(col("name_raw")).as("name"),
        lit(null).cast("string").as("short_name"),
        array_join(F.formatPhoneNumbers(phonesRaw), "|").as("phone_numbers"),
        urlsRaw.as("urls"),
        lit(null).cast("string").as("situation_ids"),
        lit(null).cast("string").as("data_sources"),
        lit(null).cast("double").as("boost"))
  }

  /** preprocess_responses (helpers.py:124): dummy filter, active gate
    * (including the None-status branch of `str(status or '')`), staging
    * key, newline-split synonyms (whole-string strip, interior spaces
    * preserved — the reference's `v.strip().split('\n')`). */
  private def responses(s: SparkSession, dir: String): DataFrame = {
    val k = col("n_nationkey")
    val nameRaw = when(k % 23 === 0, "dummy").otherwise(col("n_name"))
    val status = when(k % 11 === 0, " inactive ")
      .when(k % 11 === 1, lit(null).cast("string"))
      .otherwise("Active ")
    val synRaw = when(k % 3 === 0, lit(null).cast("string"))
      .otherwise(concat(lit("  "), col("n_name"),
        lit("\nresp "), (k % 7).cast("string"), lit(" ")))
    Tables.nation(s, dir)
      .withColumn("name_raw", nameRaw).withColumn("syn_raw", synRaw)
      .filter(col("name_raw") =!= "dummy")
      .filter(upper(trim(coalesce(status, lit("")))) === "ACTIVE")
      .select(
        lit("responses").as("entity"),
        F.hashKey(lit("responses"), k).as("key"),
        k.cast("long").as("id"),
        col("name_raw").as("name"),
        when(col("syn_raw").isNull, lit(""))
          .otherwise(array_join(split(trim(col("syn_raw")), "\n"), "|")).as("synonyms"),
        lit(null).cast("boolean").as("national_service"),
        lit(null).cast("boolean").as("location_accurate"),
        lit(null).cast("double").as("lat"),
        lit(null).cast("double").as("lon"),
        lit(null).cast("string").as("geometry"),
        lit(null).cast("string").as("address"))
  }

  /** preprocess_situations (helpers.py:136) — same chain shape as
    * responses over the situations taxonomy. */
  private def situations(s: SparkSession, dir: String): DataFrame = {
    val k = col("s_suppkey")
    val nameRaw = when(k % 101 === 0, "dummy").otherwise(col("s_name"))
    val status = when(k % 9 === 0, "INACTIVE")
      .when(k % 9 === 1, "active").otherwise("Active")
    val synRaw = when(k % 4 === 0, lit(null).cast("string"))
      .otherwise(concat(col("s_name"), lit("\nsit "), (k % 7).cast("string")))
    Tables.supplier(s, dir)
      .withColumn("name_raw", nameRaw).withColumn("syn_raw", synRaw)
      .filter(col("name_raw") =!= "dummy")
      .filter(upper(trim(coalesce(status, lit("")))) === "ACTIVE")
      .select(
        lit("situations").as("entity"),
        F.hashKey(lit("situations"), k).as("key"),
        k.cast("long").as("id"),
        col("name_raw").as("name"),
        when(col("syn_raw").isNull, lit(""))
          .otherwise(array_join(split(trim(col("syn_raw")), "\n"), "|")).as("synonyms"),
        lit(null).cast("boolean").as("national_service"),
        lit(null).cast("boolean").as("location_accurate"),
        lit(null).cast("double").as("lat"),
        lit(null).cast("double").as("lon"),
        lit(null).cast("string").as("geometry"),
        lit(null).cast("string").as("address"))
  }

  /** preprocess_locations (helpers.py:220): NATIONAL_SERVICE flag, the
    * three filter_with_stat coordinate gates (any-of source-pair
    * presence, lat presence, lon presence — Python truthiness maps to
    * IS NOT NULL because the synthesized coordinates are never 0),
    * ACCURATE_TYPES-or-fixed accuracy flag, fixed-over-resolved
    * coordinate coalesce, `[lon, lat]` geometry (null for national
    * services), address fallback to the raw id. */
  private def locations(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val idRaw = when(k % 211 === 0, lit("dummy"))
      .otherwise(concat(lit("loc-"), k.cast("string")))
    val accuracy =
      when(k % 8 === 0, "NATIONAL_SERVICE").when(k % 8 === 1, "ROOFTOP")
        .when(k % 8 === 2, "RANGE_INTERPOLATED").when(k % 8 === 3, "ADDRESS")
        .when(k % 8 === 4, "APPROXIMATE").when(k % 8 === 5, "PLACE_LEVEL")
        .when(k % 8 === 6, "STREET_MID_POINT").otherwise("GEOMETRIC_CENTER")
    val resolvedLat = when(k % 13 === 0, lit(null).cast("double"))
      .otherwise(lit(29.5) + (k % 350).cast("double") / 100.0)
    val resolvedLon = when(k % 17 === 0, lit(null).cast("double"))
      .otherwise(lit(33.5) + (k % 300).cast("double") / 100.0)
    val fixedLat = when(k % 5 === 0, lit(31.0) + (k % 200).cast("double") / 100.0)
    val fixedLon = when(k % 5 === 0 && k % 7 =!= 0,
      lit(34.0) + (k % 250).cast("double") / 100.0)
    val resolvedAddress = when(k % 19 === 0, lit(null).cast("string"))
      .otherwise(concat(lit("רחוב "), (k % 90).cast("string"),
        lit(", עיר "), (k % 30).cast("string")))
    val accurateTypes = Seq("ROOFTOP", "RANGE_INTERPOLATED", "STREET_MID_POINT",
      "ADDR_V1", "ADDRESS_POINT", "ADDRESS")
    Tables.customer(s, dir)
      .withColumn("id_raw", idRaw).withColumn("accuracy", accuracy)
      .withColumn("resolved_lat", resolvedLat).withColumn("resolved_lon", resolvedLon)
      .withColumn("fixed_lat", fixedLat).withColumn("fixed_lon", fixedLon)
      .withColumn("resolved_address", resolvedAddress)
      .withColumn("national_service", col("accuracy") === "NATIONAL_SERVICE")
      .filter(col("id_raw") =!= "dummy")
      // 'No Location' / 'No Lat' / 'No Lon' stat gates (helpers.py:235,245)
      .filter(
        (col("resolved_lat").isNotNull && col("resolved_lon").isNotNull) ||
          (col("fixed_lat").isNotNull && col("fixed_lon").isNotNull) ||
          col("national_service"))
      .filter(col("fixed_lat").isNotNull || col("resolved_lat").isNotNull || col("national_service"))
      .filter(col("fixed_lon").isNotNull || col("resolved_lon").isNotNull || col("national_service"))
      .select(
        lit("locations").as("entity"),
        F.hashKey(lit("locations"), k).as("key"),
        k.cast("long").as("id"),
        lit(null).cast("string").as("name"),
        lit(null).cast("string").as("synonyms"),
        col("national_service"),
        (col("accuracy").isin(accurateTypes: _*) ||
          (col("fixed_lat").isNotNull && col("fixed_lon").isNotNull)).as("location_accurate"),
        coalesce(col("fixed_lat"), col("resolved_lat")).as("lat"),
        coalesce(col("fixed_lon"), col("resolved_lon")).as("lon"),
        when(!col("national_service"),
          format_string("%.2f,%.2f",
            coalesce(col("fixed_lon"), col("resolved_lon")),
            coalesce(col("fixed_lat"), col("resolved_lat")))).as("geometry"),
        coalesce(col("resolved_address"), col("id_raw")).as("address"))
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // q68: the preprocess_* staging union. Each chain is narrow per-row
    // work with no hash exchange — the union of three file scans keeps
    // every stage in whole-stage codegen; each scan round-robin-spreads
    // across cores before its regex-heavy projection (lesson 4: locally
    // one split per table serialized the whole union on one core).
    "q68_preprocess" -> QueryDef.of(
      s"""WITH orgs AS (
        |  SELECT 'organizations' AS entity,
        |    substr(md5('organizations' || CAST(c_custkey AS VARCHAR)), 1, 8) AS key,
        |    c_custkey AS id,
        |    ${cleanSql("name_raw")} AS name,
        |    CASE WHEN c_custkey % 3 = 0 THEN ${cleanSql("'Org ' || CAST(c_custkey % 100 AS VARCHAR) || ' '")} END AS short_name,
        |    substr(digits, 1, 3) || '-' || substr(digits, 4, 3) || '-' || substr(digits, 7, 4) AS phone_numbers,
        |    'https://org.example/' || CAST(c_custkey AS VARCHAR) || '^אתר'
        |      || '|' || 'www.example-' || CAST(c_custkey % 50 AS VARCHAR) || '.org^קישור' AS urls,
        |    CAST(NULL AS VARCHAR) AS situation_ids,
        |    CAST(NULL AS VARCHAR) AS data_sources,
        |    CAST(NULL AS DOUBLE) AS boost
        |  FROM (
        |    SELECT *,
        |      CASE WHEN c_custkey % 97 = 0 THEN 'dummy'
        |           WHEN c_custkey % 89 = 0 THEN NULL
        |           ELSE '  ' || c_name || CASE WHEN c_custkey % 7 = 0 THEN ' -' ELSE '' END END AS name_raw,
        |      '05' || CAST(c_custkey % 4 AS VARCHAR) || lpad(CAST(c_custkey % 10000000 AS VARCHAR), 7, '0') AS digits,
        |      CASE WHEN c_custkey % 10 = 0 THEN 'inactive'
        |           WHEN c_custkey % 10 = 1 THEN ' active ' ELSE 'ACTIVE' END AS status
        |    FROM customer
        |  ) WHERE coalesce(name_raw, '') <> 'dummy'
        |      AND upper(trim(status)) = 'ACTIVE'
        |      AND name_raw IS NOT NULL AND name_raw <> ''
        |), svcs AS (
        |  SELECT 'services' AS entity,
        |    substr(md5('services' || CAST(p_partkey AS VARCHAR)), 1, 8) AS key,
        |    p_partkey AS id,
        |    CASE WHEN p_partkey % 5 = 0 THEN 'MANUAL ' || p_name ELSE name_raw END AS name,
        |    CAST(NULL AS VARCHAR) AS short_name,
        |    CAST(NULL AS VARCHAR) AS phone_numbers,
        |    CAST(NULL AS VARCHAR) AS urls,
        |    CASE WHEN p_partkey % 4 = 0 THEN 'human_situations:manual:' || CAST(p_partkey % 5 AS VARCHAR)
        |         ELSE 'sit:' || replace(lower(p_type), ' ', '_') END AS situation_ids,
        |    'catalog|' || p_brand AS data_sources,
        |    CASE WHEN p_partkey % 7 = 0 THEN 0.0 ELSE CAST(p_partkey % 10 AS DOUBLE) END AS boost
        |  FROM (
        |    SELECT *, CASE WHEN p_partkey % 101 = 0 THEN 'dummy' ELSE p_name END AS name_raw,
        |      CASE WHEN p_partkey % 8 = 0 THEN 'retired' ELSE ' Active' END AS status
        |    FROM part
        |  ) WHERE name_raw <> 'dummy' AND upper(trim(status)) = 'ACTIVE'
        |), brs AS (
        |  SELECT 'branches' AS entity,
        |    substr(md5('branches' || CAST(o_orderkey AS VARCHAR)), 1, 8) AS key,
        |    o_orderkey AS id,
        |    ${cleanSql("name_raw")} AS name,
        |    CAST(NULL AS VARCHAR) AS short_name,
        |    substr(digits, 1, 2) || '-' || substr(digits, 3, 3) || '-' || substr(digits, 6, 4) AS phone_numbers,
        |    'branch.example/' || CAST(o_orderkey % 1000 AS VARCHAR) || '^קישור' AS urls,
        |    CAST(NULL AS VARCHAR) AS situation_ids,
        |    CAST(NULL AS VARCHAR) AS data_sources,
        |    CAST(NULL AS DOUBLE) AS boost
        |  FROM (
        |    SELECT *,
        |      CASE WHEN o_orderkey % 997 = 0 THEN 'dummy'
        |           ELSE '  Branch ' || o_orderpriority || CASE WHEN o_orderkey % 5 = 0 THEN ' (' ELSE '' END END AS name_raw,
        |      '02' || lpad(CAST(o_orderkey % 10000000 AS VARCHAR), 7, '0') AS digits,
        |      CASE WHEN o_orderstatus = 'O' THEN 'Active'
        |           WHEN o_orderstatus = 'F' THEN ' ACTIVE ' ELSE 'pending' END AS status
        |    FROM orders
        |  ) WHERE name_raw <> 'dummy' AND upper(trim(status)) = 'ACTIVE'
        |)
        |SELECT * FROM orgs UNION ALL SELECT * FROM svcs UNION ALL SELECT * FROM brs
        |""".stripMargin) { (s, dir) =>
      orgs(s, dir).unionByName(services(s, dir)).unionByName(branches(s, dir))
    },

    // q96: the OTHER three preprocess_* staging chains — responses
    // (helpers.py:124), situations (helpers.py:136), locations
    // (helpers.py:220) — completing the six-chain srm_data_pull_flow
    // staging family (q68 covers organizations/services/branches).
    // Same posture as q68: narrow per-row codegen work, zero shuffles,
    // three scans unioned. The locations chain carries the coordinate
    // gates and the [lon, lat] geometry construction; %.2f printf
    // formatting is identical across JVM and C for values that are
    // exact 2-decimal doubles.
    "q96_preprocess_ref" -> QueryDef.of(
      s"""WITH resp AS (
        |  SELECT 'responses' AS entity,
        |    substr(md5('responses' || CAST(n_nationkey AS VARCHAR)), 1, 8) AS key,
        |    CAST(n_nationkey AS BIGINT) AS id,
        |    name_raw AS name,
        |    CASE WHEN syn_raw IS NULL THEN ''
        |         ELSE array_to_string(string_split(trim(syn_raw), chr(10)), '|') END AS synonyms,
        |    CAST(NULL AS BOOLEAN) AS national_service,
        |    CAST(NULL AS BOOLEAN) AS location_accurate,
        |    CAST(NULL AS DOUBLE) AS lat, CAST(NULL AS DOUBLE) AS lon,
        |    CAST(NULL AS VARCHAR) AS geometry, CAST(NULL AS VARCHAR) AS address
        |  FROM (
        |    SELECT *,
        |      CASE WHEN n_nationkey % 23 = 0 THEN 'dummy' ELSE n_name END AS name_raw,
        |      CASE WHEN n_nationkey % 11 = 0 THEN ' inactive '
        |           WHEN n_nationkey % 11 = 1 THEN NULL ELSE 'Active ' END AS status,
        |      CASE WHEN n_nationkey % 3 = 0 THEN NULL
        |           ELSE '  ' || n_name || chr(10) || 'resp ' || CAST(n_nationkey % 7 AS VARCHAR) || ' ' END AS syn_raw
        |    FROM nation
        |  ) WHERE name_raw <> 'dummy' AND upper(trim(coalesce(status, ''))) = 'ACTIVE'
        |), sits AS (
        |  SELECT 'situations' AS entity,
        |    substr(md5('situations' || CAST(s_suppkey AS VARCHAR)), 1, 8) AS key,
        |    CAST(s_suppkey AS BIGINT) AS id,
        |    name_raw AS name,
        |    CASE WHEN syn_raw IS NULL THEN ''
        |         ELSE array_to_string(string_split(trim(syn_raw), chr(10)), '|') END AS synonyms,
        |    CAST(NULL AS BOOLEAN) AS national_service,
        |    CAST(NULL AS BOOLEAN) AS location_accurate,
        |    CAST(NULL AS DOUBLE) AS lat, CAST(NULL AS DOUBLE) AS lon,
        |    CAST(NULL AS VARCHAR) AS geometry, CAST(NULL AS VARCHAR) AS address
        |  FROM (
        |    SELECT *,
        |      CASE WHEN s_suppkey % 101 = 0 THEN 'dummy' ELSE s_name END AS name_raw,
        |      CASE WHEN s_suppkey % 9 = 0 THEN 'INACTIVE'
        |           WHEN s_suppkey % 9 = 1 THEN 'active' ELSE 'Active' END AS status,
        |      CASE WHEN s_suppkey % 4 = 0 THEN NULL
        |           ELSE s_name || chr(10) || 'sit ' || CAST(s_suppkey % 7 AS VARCHAR) END AS syn_raw
        |    FROM supplier
        |  ) WHERE name_raw <> 'dummy' AND upper(trim(coalesce(status, ''))) = 'ACTIVE'
        |), locs AS (
        |  SELECT 'locations' AS entity,
        |    substr(md5('locations' || CAST(c_custkey AS VARCHAR)), 1, 8) AS key,
        |    CAST(c_custkey AS BIGINT) AS id,
        |    CAST(NULL AS VARCHAR) AS name,
        |    CAST(NULL AS VARCHAR) AS synonyms,
        |    national_service,
        |    (accuracy IN ('ROOFTOP','RANGE_INTERPOLATED','STREET_MID_POINT','ADDR_V1','ADDRESS_POINT','ADDRESS'))
        |      OR (fixed_lat IS NOT NULL AND fixed_lon IS NOT NULL) AS location_accurate,
        |    coalesce(fixed_lat, resolved_lat) AS lat,
        |    coalesce(fixed_lon, resolved_lon) AS lon,
        |    CASE WHEN NOT national_service
        |         THEN printf('%.2f,%.2f', coalesce(fixed_lon, resolved_lon), coalesce(fixed_lat, resolved_lat)) END AS geometry,
        |    coalesce(resolved_address, id_raw) AS address
        |  FROM (
        |    SELECT *, accuracy = 'NATIONAL_SERVICE' AS national_service FROM (
        |      SELECT *,
        |        CASE WHEN c_custkey % 211 = 0 THEN 'dummy' ELSE 'loc-' || CAST(c_custkey AS VARCHAR) END AS id_raw,
        |        CASE c_custkey % 8 WHEN 0 THEN 'NATIONAL_SERVICE' WHEN 1 THEN 'ROOFTOP'
        |             WHEN 2 THEN 'RANGE_INTERPOLATED' WHEN 3 THEN 'ADDRESS' WHEN 4 THEN 'APPROXIMATE'
        |             WHEN 5 THEN 'PLACE_LEVEL' WHEN 6 THEN 'STREET_MID_POINT' ELSE 'GEOMETRIC_CENTER' END AS accuracy,
        |        CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE 29.5 + CAST(c_custkey % 350 AS DOUBLE)/100.0 END AS resolved_lat,
        |        CASE WHEN c_custkey % 17 = 0 THEN NULL ELSE 33.5 + CAST(c_custkey % 300 AS DOUBLE)/100.0 END AS resolved_lon,
        |        CASE WHEN c_custkey % 5 = 0 THEN 31.0 + CAST(c_custkey % 200 AS DOUBLE)/100.0 END AS fixed_lat,
        |        CASE WHEN c_custkey % 5 = 0 AND c_custkey % 7 <> 0 THEN 34.0 + CAST(c_custkey % 250 AS DOUBLE)/100.0 END AS fixed_lon,
        |        CASE WHEN c_custkey % 19 = 0 THEN NULL
        |             ELSE 'רחוב ' || CAST(c_custkey % 90 AS VARCHAR) || ', עיר ' || CAST(c_custkey % 30 AS VARCHAR) END AS resolved_address
        |      FROM customer
        |    )
        |  ) WHERE id_raw <> 'dummy'
        |      AND ((resolved_lat IS NOT NULL AND resolved_lon IS NOT NULL)
        |           OR (fixed_lat IS NOT NULL AND fixed_lon IS NOT NULL) OR national_service)
        |      AND (fixed_lat IS NOT NULL OR resolved_lat IS NOT NULL OR national_service)
        |      AND (fixed_lon IS NOT NULL OR resolved_lon IS NOT NULL OR national_service)
        |)
        |SELECT * FROM resp UNION ALL SELECT * FROM sits UNION ALL SELECT * FROM locs
        |""".stripMargin) { (s, dir) =>
      responses(s, dir).unionByName(situations(s, dir)).unionByName(locations(s, dir))
    }
  )
}
