package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{GeoProjection, Olc}

/** SURVEY.md §2.A (continued) — the reference's per-source CONNECTOR
  * operators: the transform halves of the data-source flows under
  * `operators/` that are not part of the main derive pipeline
  * (entities, day_care, geocode). The API/Airtable extraction halves
  * stay out of scope (zero egress); everything below re-expresses the
  * row logic those flows run AFTER fetch, on deterministic synthetic
  * stand-ins derived from the test tables.
  */
object ConnectorQueries {

  // Shared reference literals (operators/entities/__init__.py,
  // operators/geocode/__init__.py, operators/day_care/
  // match_organizations.py). Hebrew strings are data constants from the
  // reference, interpolated identically into both engines.
  private val PoBox = " תאי דואר" // calc_address city cleanup
  private val NoAddress = "ללא כתובת" // calc_address alternate sentinel
  private val IritShort = "עירית " // normalize_hebrew: single-yod spelling
  private val IritFull = "עיריית " // -> double-yod spelling
  private val PrefIriya = "עיריית"
  private val PrefMoatzaM = "מועצה מקומית"
  private val PrefMoatzaA = "מועצה אזורית"
  // Geocode-cascade literals live on the operator (shared with its
  // streaming twin); aliased here for the SQL interpolations.
  private val NationalSvc = graft.operators.Geocode.NationalService
  private val AllCountry = graft.operators.Geocode.AllCountry
  private val IsraelSuffix = graft.operators.Geocode.IsraelSuffix
  // unwind_branches national-entry disclaimer (entities/__init__.py:233)
  private val Disclaimer = "שימו לב, ייתכן כי המיקום המוצג אינו מדויק וכי קיימים סניפים נוספים שבהם ניתן לקבל את השירות. מומלץ ליצור קשר ישירות עם הארגון לקבלת מידע מדויק ומעודכן."
  // replace_language_number_with_actual_value (entities/__init__.py:149):
  // 1-based index into this list; out of range / non-numeric -> "other".
  private val Languages = Seq("hebrew", "arabic", "russian", "french", "english", "amharic", "spanish")
  // tipat ORGS static config (operators/tipat/__init__.py:23): ownership
  // name → org id, a literal dict in the reference — kept literal here
  // (8 entries is config, not a dimension).
  private val TipatOrgs = Seq(
    "הסהר האדום" -> "580205615",
    "משרד הבריאות" -> "500100904",
    "שירותי בריאות כללית" -> "srm0012",
    "מכבי שירותי בריאות" -> "srm0011",
    "קופת חולים מאוחדת" -> "srm0013",
    "קופת חולים לאומית" -> "srm0010",
    "עיריית ירושלים" -> "500230008",
    "עיריית תל אביב יפו" -> "500250006")
  private val TipatItemUrl =
    "https://tipatchalavappointments.health.gov.il/patient-details?codeStation="
  private val TipatNatName = "טיפת חלב - מוקד טלפוני"
  private val SoprocUrl = "https://www.socialpro.org.il/i/activities/gov_social_service/"
  private val SoprocTag = "דף השירות ב״מפתח לרכש החברתי״"

  // q156 literals — static config from the small staging flows.
  // child_care/update_service.py:9 sector_to_situations: the dict's
  // literal LIST ORDER is the output order (pinned verbatim, '|'-joined).
  private val CcSectors = Seq(
    "ערבי" -> "human_situations:sectors:arabs|human_situations:language:arabic_speaking|human_situations:age_group:infants",
    "בדואי" -> "human_situations:sectors:bedouin|human_situations:language:arabic_speaking|human_situations:age_group:infants",
    "דרוזי" -> "human_situations:sectors:druze|human_situations:language:arabic_speaking|human_situations:age_group:infants",
    "צרקסי" -> "human_situations:sectors:circassians|human_situations:age_group:infants",
    "יהודי" -> "human_situations:age_group:infants")
  private val CcSvcName = "מעון יום מסובסד לפעוטות בפיקוח משרד החינוך"
  private val CcDetailsPrefix = "המעון מיועד עבור החברה ה"
  // day_care/update_organization.py:11 council mask + kinds
  private val DcCouncilRe = "מועצה מקומית|מועצה אזורית"
  private val DcKindCouncil = "רשות מקומית"
  private val DcKindPrivate = "חברה פרטית"
  // day_care/update_service.py:9 static service records (name/situations/
  // responses; the long description prose literals are config text and
  // stay in the reference)
  private val DcStatic = Seq(
    ("mol_daycare-1", "משפחתון בפיקוח משרד העבודה",
      "human_services:care:daytime_care", "human_situations:age_group:infants"),
    ("mol_daycare-2", "צהרון לילדי גן",
      "human_services:education:afterschool_care", "human_situations:age_group:children"))
  // revaha/process_urls_gsheet.py:8 url field labels, loop order (ar, he)
  private val RvLabelAr = "האתר של המחלקה בערבית"
  private val RvLabelHe = "האתר של המחלקה בעברית"
  // meser/__init__.py:152 sanitize magic values (else-branch nulling)
  private val MsMissing = Seq("NULL", "-1", "לא ידוע", "לא משויך", "רב תכליתי")

  val defs: Seq[(String, QueryDef)] = Seq(

    // q137: branch location keys (operators/entities/__init__.py:253
    // calc_address + :276 calc_location_key): compose the address key
    // (street + house + ', ' + cleaned city, alternate-address appended
    // only when it is not already a substring and not the 'no address'
    // sentinel), and the OLC length-11 plus code when coordinates exist —
    // the plus code wins, the address is the fallback. Plan: map-only,
    // zero shuffles at any scale; the OLC digit peel is pure integer
    // div/mod inside whole-stage codegen (operators/Olc.scala), replayed
    // digit-for-digit by the oracle. Float literals are e-notation in the
    // SQL so DuckDB computes the same DOUBLE tree as the JVM (its plain
    // decimal literals are exact DECIMALs — a different number line).
    "q137_location_keys" -> QueryDef.of(
      s"""WITH s0 AS (
         |  SELECT s_suppkey AS branch_id,
         |    (s_suppkey % 7 <> 0) AS has_coords,
         |    29.45e0 + (s_suppkey % 397) * 1.1e-2 AS blat,
         |    34.27e0 + ((s_suppkey * 7 + s_nationkey) % 211) * 8e-3 AS blng,
         |    CASE WHEN s_suppkey % 11 <> 0 THEN 'City ' || CAST(s_nationkey % 25 AS VARCHAR) || (CASE WHEN s_suppkey % 5 = 0 THEN '$PoBox' ELSE '' END) END AS city_raw,
         |    CASE WHEN s_suppkey % 3 <> 0 THEN 'Main ' || CAST(s_suppkey % 50 AS VARCHAR) END AS street,
         |    CASE WHEN s_suppkey % 4 <> 0 THEN CAST(s_suppkey % 120 AS VARCHAR) END AS house,
         |    CASE s_suppkey % 6 WHEN 0 THEN '$NoAddress' WHEN 1 THEN NULL WHEN 2 THEN 'City ' || CAST(s_nationkey % 25 AS VARCHAR) ELSE 'Wing ' || CAST(s_suppkey % 4 AS VARCHAR) END AS alt
         |  FROM supplier),
         |a1 AS (
         |  SELECT *, CASE WHEN city_raw IS NOT NULL THEN
         |      (CASE WHEN street IS NOT NULL THEN street || ' ' || COALESCE(house || ' ', '') || ', ' ELSE '' END)
         |      || replace(city_raw, '$PoBox', '') || ' '
         |    ELSE '' END AS base FROM s0),
         |a2 AS (
         |  SELECT *, NULLIF(trim(base || (CASE WHEN alt IS NOT NULL AND alt <> '$NoAddress' AND instr(base, alt) = 0 THEN ' - ' || alt ELSE '' END)), '') AS address FROM a1),
         |a3 AS (
         |  SELECT *, CASE WHEN has_coords THEN ${Olc.Sql.encode11("blat", "blng")} END AS plus_code FROM a2)
         |SELECT branch_id, address, plus_code,
         |  COALESCE(plus_code, address) AS location_key
         |FROM a3
         |""".stripMargin) { (s, dir) =>
      val k = col("s_suppkey")
      val s0 = Tables.supplier(s, dir).select(
        k.as("branch_id"),
        (k % 7 =!= 0).as("has_coords"),
        (lit(29.45) + (k % 397).cast("double") * lit(0.011)).as("blat"),
        (lit(34.27) + ((k * 7 + col("s_nationkey")) % 211).cast("double") * lit(0.008)).as("blng"),
        when(k % 11 =!= 0,
          concat(lit("City "), (col("s_nationkey") % 25).cast("string"),
            when(k % 5 === 0, lit(PoBox)).otherwise(lit("")))).as("city_raw"),
        when(k % 3 =!= 0, concat(lit("Main "), (k % 50).cast("string"))).as("street"),
        when(k % 4 =!= 0, (k % 120).cast("string")).as("house"),
        when(k % 6 === 0, lit(NoAddress))
          .when(k % 6 === 1, lit(null).cast("string"))
          .when(k % 6 === 2, concat(lit("City "), (col("s_nationkey") % 25).cast("string")))
          .otherwise(concat(lit("Wing "), (k % 4).cast("string"))).as("alt"))
      val base = when(col("city_raw").isNotNull,
        concat(
          when(col("street").isNotNull,
            concat(col("street"), lit(" "),
              coalesce(concat(col("house"), lit(" ")), lit("")), lit(", ")))
            .otherwise(lit("")),
          replace(col("city_raw"), lit(PoBox), lit("")), lit(" ")))
        .otherwise(lit(""))
      val a1 = s0.withColumn("base", base)
      val addr = nullif(trim(concat(col("base"),
        when(col("alt").isNotNull && col("alt") =!= NoAddress &&
          !col("base").contains(col("alt")), concat(lit(" - "), col("alt")))
          .otherwise(lit("")))), lit(""))
      a1.withColumn("address", addr)
        .withColumn("plus_code",
          when(col("has_coords"), Olc.encode11(col("blat"), col("blng"))))
        .select(col("branch_id"), col("address"), col("plus_code"),
          coalesce(col("plus_code"), col("address")).as("location_key"))
    },

    // q138: organization matching by spelling variants (operators/
    // day_care/match_organizations.py:4): normalize the single-yod
    // 'עירית' spelling on BOTH sides, try a direct lookup, and — only
    // for names carrying one of the three municipal prefixes — retry
    // with the city part's hyphens and spaces swapped. A found id
    // OVERRIDES the row's existing organization_id (combine_first), and
    // the registration number takes any id that is not the literal '0'.
    // Plan: the lookup is a 25-row broadcast dimension joined twice
    // (direct key, variant key) — map-side only, zero shuffles; the
    // variant candidate is computed per row in codegen, never exploded.
    "q138_org_variant_match" -> QueryDef.of(
      s"""WITH lookup AS (
         |  SELECT 'rec' || lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS row_id,
         |    replace(trim(split_part(
         |      (CASE WHEN n_nationkey % 2 = 0 AND n_nationkey % 5 = 0 THEN '$IritShort' ELSE (CASE WHEN n_nationkey % 2 = 0 THEN '$PrefIriya ' ELSE '$PrefMoatzaM ' END) END)
         |      || (CASE WHEN n_nationkey % 3 = 0 THEN 'City-' || CAST(n_nationkey AS VARCHAR) ELSE 'City ' || CAST(n_nationkey AS VARCHAR) END)
         |      || (CASE WHEN n_nationkey % 6 = 0 THEN ' ' ELSE '' END)
         |      || (CASE WHEN n_nationkey % 4 = 0 THEN '|ignored' ELSE '' END), '|', 1)), '$IritShort', '$IritFull') AS norm_name
         |  FROM nation),
         |fetched AS (
         |  SELECT c_custkey AS custkey, c_custkey % 25 AS c,
         |    CASE WHEN c_custkey % 2 = 0 THEN 'orig-' || CAST(c_custkey AS VARCHAR) WHEN c_custkey % 10 = 5 THEN '0' END AS existing_org,
         |    CASE WHEN c_custkey % 5 = 2 THEN 'hp-' || CAST(c_custkey AS VARCHAR) END AS existing_hp
         |  FROM customer),
         |named AS (
         |  SELECT *, CASE
         |      WHEN custkey % 7 = 0 THEN NULL
         |      WHEN custkey % 11 = 0 THEN 'Center City ' || CAST(c AS VARCHAR)
         |      WHEN custkey % 3 = 0 THEN
         |        (CASE WHEN c % 2 = 0 AND c % 5 = 0 THEN '$IritShort' ELSE (CASE WHEN c % 2 = 0 THEN '$PrefIriya ' ELSE '$PrefMoatzaM ' END) END)
         |        || (CASE WHEN c % 3 = 0 THEN 'City-' || CAST(c AS VARCHAR) ELSE 'City ' || CAST(c AS VARCHAR) END)
         |      WHEN custkey % 3 = 1 THEN
         |        (CASE WHEN c % 2 = 0 THEN '$PrefIriya ' ELSE '$PrefMoatzaM ' END)
         |        || (CASE WHEN c % 3 = 0 THEN 'City ' || CAST(c AS VARCHAR) ELSE 'City-' || CAST(c AS VARCHAR) END)
         |      ELSE 'Org ' || CAST(custkey AS VARCHAR) END AS org_name0
         |  FROM fetched),
         |padded AS (
         |  SELECT custkey, existing_org, existing_hp,
         |    CASE WHEN org_name0 IS NULL THEN NULL WHEN custkey % 13 = 0 THEN ' ' || org_name0 || ' ' ELSE org_name0 END AS org_name
         |  FROM named),
         |cleaned AS (
         |  SELECT *, replace(trim(org_name), '$IritShort', '$IritFull') AS clean FROM padded),
         |prefixed AS (
         |  SELECT *, CASE
         |      WHEN starts_with(clean, '$PrefMoatzaM') THEN '$PrefMoatzaM'
         |      WHEN starts_with(clean, '$PrefMoatzaA') THEN '$PrefMoatzaA'
         |      WHEN starts_with(clean, '$PrefIriya') THEN '$PrefIriya' END AS pref
         |  FROM cleaned),
         |cand AS (
         |  SELECT *, CASE WHEN pref IS NOT NULL THEN
         |      (CASE WHEN instr(trim(substr(clean, length(pref) + 1)), '-') > 0 THEN pref || ' ' || replace(trim(substr(clean, length(pref) + 1)), '-', ' ')
         |            WHEN instr(trim(substr(clean, length(pref) + 1)), ' ') > 0 THEN pref || ' ' || replace(trim(substr(clean, length(pref) + 1)), ' ', '-') END)
         |    END AS candidate
         |  FROM prefixed)
         |SELECT f.custkey, f.org_name,
         |  COALESCE(d.row_id, v.row_id, f.existing_org) AS organization_id,
         |  COALESCE(NULLIF(COALESCE(d.row_id, v.row_id, f.existing_org), '0'), f.existing_hp) AS org_reg,
         |  (COALESCE(d.row_id, v.row_id) IS NOT NULL) AS matched
         |FROM cand f
         |LEFT JOIN lookup d ON f.clean = d.norm_name
         |LEFT JOIN lookup v ON f.candidate = v.norm_name
         |""".stripMargin) { (s, dir) =>
      val n = col("n_nationkey")
      val lookup = Tables.nation(s, dir).select(
        concat(lit("rec"), lpad(n.cast("string"), 3, "0")).as("row_id"),
        replace(trim(element_at(split(concat(
          when(n % 2 === 0 && n % 5 === 0, lit(IritShort))
            .otherwise(when(n % 2 === 0, lit(PrefIriya + " ")).otherwise(lit(PrefMoatzaM + " "))),
          when(n % 3 === 0, concat(lit("City-"), n.cast("string")))
            .otherwise(concat(lit("City "), n.cast("string"))),
          when(n % 6 === 0, lit(" ")).otherwise(lit("")),
          when(n % 4 === 0, lit("|ignored")).otherwise(lit(""))), "\\|"), 1)),
          lit(IritShort), lit(IritFull)).as("norm_name"))
      val k = col("c_custkey")
      val c = (k % 25).as("c")
      val fetched = Tables.customer(s, dir).select(
        k.as("custkey"), c,
        when(k % 2 === 0, concat(lit("orig-"), k.cast("string")))
          .when(k % 10 === 5, lit("0")).as("existing_org"),
        when(k % 5 === 2, concat(lit("hp-"), k.cast("string"))).as("existing_hp"))
      val cc = col("c")
      val prefNorm = when(cc % 2 === 0, lit(PrefIriya + " ")).otherwise(lit(PrefMoatzaM + " "))
      val orgName0 =
        when(col("custkey") % 7 === 0, lit(null).cast("string"))
          .when(col("custkey") % 11 === 0, concat(lit("Center City "), cc.cast("string")))
          .when(col("custkey") % 3 === 0, concat(
            when(cc % 2 === 0 && cc % 5 === 0, lit(IritShort)).otherwise(prefNorm),
            when(cc % 3 === 0, concat(lit("City-"), cc.cast("string")))
              .otherwise(concat(lit("City "), cc.cast("string")))))
          .when(col("custkey") % 3 === 1, concat(
            prefNorm,
            when(cc % 3 === 0, concat(lit("City "), cc.cast("string")))
              .otherwise(concat(lit("City-"), cc.cast("string")))))
          .otherwise(concat(lit("Org "), col("custkey").cast("string")))
      val named = fetched.withColumn("org_name0", orgName0)
        .withColumn("org_name",
          when(col("org_name0").isNull, lit(null).cast("string"))
            .when(col("custkey") % 13 === 0, concat(lit(" "), col("org_name0"), lit(" ")))
            .otherwise(col("org_name0")))
        .withColumn("clean", replace(trim(col("org_name")), lit(IritShort), lit(IritFull)))
        .withColumn("pref",
          when(col("clean").startsWith(PrefMoatzaM), lit(PrefMoatzaM))
            .when(col("clean").startsWith(PrefMoatzaA), lit(PrefMoatzaA))
            .when(col("clean").startsWith(PrefIriya), lit(PrefIriya)))
      val cityPart = trim(col("clean").substr(length(col("pref")) + 1, length(col("clean"))))
      val withCand = named.withColumn("candidate",
        when(col("pref").isNotNull,
          when(cityPart.contains("-"), concat(col("pref"), lit(" "), replace(cityPart, lit("-"), lit(" "))))
            .when(cityPart.contains(" "), concat(col("pref"), lit(" "), replace(cityPart, lit(" "), lit("-"))))))
      val d = lookup.withColumnRenamed("row_id", "id_d").withColumnRenamed("norm_name", "nm_d")
      val v = lookup.withColumnRenamed("row_id", "id_v").withColumnRenamed("norm_name", "nm_v")
      val matchedId = coalesce(col("id_d"), col("id_v"))
      val orgId = coalesce(matchedId, col("existing_org"))
      withCand
        .join(broadcast(d), col("clean") === col("nm_d"), "left")
        .join(broadcast(v), col("candidate") === col("nm_v"), "left")
        .select(col("custkey"), col("org_name"),
          orgId.as("organization_id"),
          coalesce(nullif(orgId, lit("0")), col("existing_hp")).as("org_reg"),
          matchedId.isNotNull.as("matched"))
    },

    // q139: branch unwinding with the fallback ladder (operators/
    // entities/__init__.py:162 unwind_branches): every org explodes to
    // its branch rows (name = nickname, else "short_name - city";
    // language numbers map through the 7-language table at :149 into
    // situation tags, number 8 skipped); orgs with NO branches fall down
    // a ladder — official-address row if one exists, else a cleaned-name
    // row unless the org kind is a nonprofit form; and EVERY org adds a
    // synthesized national-service row carrying the disclaimer (:233).
    // The union then deduplicates keep-FIRST by id (:133
    // deduplicate_items) in the reference's emission order (org, then
    // family: branches < fallback < national, then branch order).
    // Plan: branches = one orders⋈customer join; the fallback arm reuses
    // the same two scans (anti-join); keep-first dedup routes through the
    // TopKPerKey node at k=1 (no window, no wide map-side sort — see the
    // measured argument at q144).
    "q139_branch_unwind" -> QueryDef.of {
      val langCase = Languages.zipWithIndex
        .map { case (l, i) => s"WHEN '${i + 1}' THEN '$l'" }
        .mkString("CASE x ", " ", " ELSE 'other' END")
      // Appearance-order first-occurrence dedup (list_distinct does not
      // preserve order in DuckDB) — mirrors the Spark side exactly.
      val sitList = "list_transform(list_filter(string_split(b.lang, ';'), x -> x <> '8'), " +
        s"x -> 'human_situations:language:' || ($langCase) || '_speaking')"
      s"""WITH orgs AS (
         |  SELECT c_custkey AS k, c_name, c_acctbal,
         |    CASE c_custkey % 4 WHEN 0 THEN 'עמותה' WHEN 1 THEN 'חברה פרטית' WHEN 2 THEN 'חל"צ' ELSE 'רשות מקומית' END AS kind,
         |    CASE WHEN c_custkey % 3 = 0 THEN 'C' || CAST(c_custkey AS VARCHAR) END AS short_name,
         |    CASE WHEN c_custkey % 6 = 0 THEN 'Org desc ' || CAST(c_custkey AS VARCHAR) END AS org_desc
         |  FROM customer),
         |br AS (
         |  SELECT o_custkey AS k, o_orderkey AS bord, CAST(o_orderkey % 5000 AS VARCHAR) AS bid,
         |    CASE WHEN o_orderkey % 5 = 0 THEN 'Nick ' || CAST(o_orderkey % 5000 AS VARCHAR) END AS nickname,
         |    'City ' || CAST(o_orderkey % 40 AS VARCHAR) AS city,
         |    '03-' || lpad(CAST(o_orderkey % 10000 AS VARCHAR), 4, '0') AS phone,
         |    CASE o_orderkey % 5 WHEN 0 THEN '1;2' WHEN 1 THEN '3' WHEN 2 THEN '8' WHEN 3 THEN '9;1' END AS lang
         |  FROM orders WHERE o_custkey % 5 <> 2),
         |branch_rows AS (
         |  SELECT 'guidestar:' || b.bid AS id, g.k AS org_id,
         |    COALESCE(b.nickname, COALESCE(g.short_name, g.c_name) || ' - ' || b.city) AS name,
         |    b.city AS address, b.phone,
         |    CASE WHEN b.lang IS NOT NULL THEN COALESCE(array_to_string(
         |      list_filter($sitList, (x, i) -> list_position($sitList, x) = i), '|'), '') END AS situations,
         |    CAST(NULL AS VARCHAR) AS description, 'branch' AS row_kind,
         |    0 AS fam, b.bord AS bord
         |  FROM br b JOIN orgs g ON b.k = g.k),
         |nobranch AS (
         |  SELECT * FROM orgs g WHERE NOT EXISTS (SELECT 1 FROM br b WHERE b.k = g.k)),
         |fallback_rows AS (
         |  SELECT (CASE WHEN c_acctbal > 0 THEN 'guidestar:' ELSE 'budgetkey:' END) || CAST(k AS VARCHAR) AS id,
         |    k AS org_id, c_name AS name,
         |    CASE WHEN c_acctbal > 0 THEN 'Addr ' || CAST(k AS VARCHAR)
         |         ELSE trim(regexp_replace(replace(c_name, 'Customer#', ''), '^0+', '')) END AS address,
         |    CAST(NULL AS VARCHAR) AS phone, CAST(NULL AS VARCHAR) AS situations,
         |    CAST(NULL AS VARCHAR) AS description,
         |    CASE WHEN c_acctbal > 0 THEN 'org_address' ELSE 'org_name' END AS row_kind,
         |    1 AS fam, CAST(0 AS BIGINT) AS bord
         |  FROM nobranch WHERE c_acctbal > 0 OR kind NOT IN ('עמותה', 'חל"צ', 'הקדש')),
         |national_rows AS (
         |  SELECT 'national:' || CAST(k AS VARCHAR) AS id, k AS org_id, '' AS name,
         |    '$NationalSvc' AS address, CAST(NULL AS VARCHAR) AS phone, CAST(NULL AS VARCHAR) AS situations,
         |    CASE WHEN org_desc IS NOT NULL THEN org_desc || chr(10) || chr(10) || '$Disclaimer' ELSE '$Disclaimer' END AS description,
         |    'national' AS row_kind, 2 AS fam, CAST(0 AS BIGINT) AS bord
         |  FROM orgs),
         |unioned AS (
         |  SELECT * FROM branch_rows UNION ALL SELECT * FROM fallback_rows UNION ALL SELECT * FROM national_rows),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY org_id, fam, bord) AS rn FROM unioned)
         |SELECT id, org_id, name, address, phone, situations, description, row_kind
         |FROM ranked WHERE rn = 1
         |""".stripMargin
    } { (s, dir) =>
      def langName(x: Column): Column =
        (1 until Languages.length).foldLeft(when(x === "1", lit(Languages.head))) {
          (acc, i) => acc.when(x === (i + 1).toString, lit(Languages(i)))
        }.otherwise(lit("other"))
      val k = col("c_custkey")
      val orgs = Tables.customer(s, dir).select(
        k.as("k"), col("c_name"), col("c_acctbal"),
        when(k % 4 === 0, lit("עמותה")).when(k % 4 === 1, lit("חברה פרטית"))
          .when(k % 4 === 2, lit("חל\"צ")).otherwise(lit("רשות מקומית")).as("kind"),
        when(k % 3 === 0, concat(lit("C"), k.cast("string"))).as("short_name"),
        when(k % 6 === 0, concat(lit("Org desc "), k.cast("string"))).as("org_desc"))
      val o = col("o_orderkey")
      // Orgs with k % 5 = 2 return an empty branch list (the fetched-
      // nothing case the reference's ladder exists for).
      val br = Tables.orders(s, dir).filter(col("o_custkey") % 5 =!= 2).select(
        col("o_custkey").as("k"), o.as("bord"),
        (o % 5000).cast("string").as("bid"),
        when(o % 5 === 0, concat(lit("Nick "), (o % 5000).cast("string"))).as("nickname"),
        concat(lit("City "), (o % 40).cast("string")).as("city"),
        concat(lit("03-"), lpad((o % 10000).cast("string"), 4, "0")).as("phone"),
        when(o % 5 === 0, lit("1;2")).when(o % 5 === 1, lit("3"))
          .when(o % 5 === 2, lit("8")).when(o % 5 === 3, lit("9;1")).as("lang"))
      // unwind_branches emits the language list in ';'-split APPEARANCE
      // order (update_branch.py keeps the split order verbatim) — so
      // first-occurrence positional dedup (the q142 order contract), NOT
      // sorted-distinct, which would flip e.g. '9;1' from
      // [other, hebrew] to [hebrew, other].
      val sitArr = transform(
        filter(split(col("lang"), ";"), x => x =!= "8"),
        x => concat(lit("human_situations:language:"), langName(x), lit("_speaking")))
      val situations = when(col("lang").isNotNull,
        array_join(filter(sitArr,
          (x, i) => array_position(sitArr, x) === (i + 1).cast("long")), "|"))
      val nullS = lit(null).cast("string")
      val branchRows = br.join(orgs, "k").select(
        concat(lit("guidestar:"), col("bid")).as("id"), col("k").as("org_id"),
        coalesce(col("nickname"),
          concat(coalesce(col("short_name"), col("c_name")), lit(" - "), col("city"))).as("name"),
        col("city").as("address"), col("phone"), situations.as("situations"),
        nullS.as("description"), lit("branch").as("row_kind"),
        lit(0).as("fam"), col("bord"))
      val noBranch = orgs.join(br.select(col("k")).distinct(), Seq("k"), "left_anti")
      val fallbackRows = noBranch
        .filter(col("c_acctbal") > 0 || !col("kind").isin("עמותה", "חל\"צ", "הקדש"))
        .select(
          concat(when(col("c_acctbal") > 0, lit("guidestar:")).otherwise(lit("budgetkey:")),
            col("k").cast("string")).as("id"),
          col("k").as("org_id"), col("c_name").as("name"),
          when(col("c_acctbal") > 0, concat(lit("Addr "), col("k").cast("string")))
            .otherwise(trim(regexp_replace(
              replace(col("c_name"), lit("Customer#"), lit("")), "^0+", ""))).as("address"),
          nullS.as("phone"), nullS.as("situations"), nullS.as("description"),
          when(col("c_acctbal") > 0, lit("org_address")).otherwise(lit("org_name")).as("row_kind"),
          lit(1).as("fam"), lit(0L).as("bord"))
      val nationalRows = orgs.select(
        concat(lit("national:"), col("k").cast("string")).as("id"),
        col("k").as("org_id"), lit("").as("name"), lit(NationalSvc).as("address"),
        nullS.as("phone"), nullS.as("situations"),
        when(col("org_desc").isNotNull, concat(col("org_desc"), lit("\n\n" + Disclaimer)))
          .otherwise(lit(Disclaimer)).as("description"),
        lit("national").as("row_kind"), lit(2).as("fam"), lit(0L).as("bord"))
      val unioned = branchRows.unionByName(fallbackRows).unionByName(nationalRows)
      // Keep-first through the TopKPerKey node (k=1 per id under the
      // emission order): a string-buffered min_by would plan as
      // SortAggregate and sort the full union map-side; the node's
      // bounded heaps trim each partition to one row per id, no sort
      // (same argument as q144, measured there).
      graft.operators.TopK.topKPerKey(unioned, Seq(col("id")),
          Seq(col("org_id"), col("fam"), col("bord")), 1)
        .select(col("id"), col("org_id"), col("name"), col("address"),
          col("phone"), col("situations"), col("description"), col("row_kind"))
    },

    // q140: geocoding provider CASCADE (operators/geocode/__init__.py:19):
    // national-service keywords short-circuit; plus-code keywords
    // (keyword[4] == '+') skip the first provider entirely; everything
    // else tries the govmap cache (ITM X/Y -> WGS84 via the engine's own
    // Redfearn transform, accuracy from DescLayerID with the NEW-suffix
    // cleanup) and falls through to the google table when unresolved OR
    // the accuracy is outside ACCURATE_TYPES (derive/helpers.py:10);
    // google's GEOMETRIC_CENTER splits on result quality, plus codes
    // force ADDR_V1 with the row id as the address, and the city ladder
    // is locality > admin_area_2 > city; rows with coordinates but no
    // city take the reverse-geocode stand-in or 'unknown'; a google miss
    // after fallthrough is NOT_FOUND (keeping any partial govmap
    // fields). Address cleanup strips the ', ישראל' suffix and turns
    // ' | ' into ', '. Plan: two broadcast lookups (≤300-row dims) + the
    // broadcast coord-projection join — map-side only, zero shuffles at
    // any row count; the oracle replays the projection CTE chain
    // digit-for-digit (same contract as q43).
    "q140_geocode_cascade" -> QueryDef.of {
      val accurate = "('ROOFTOP', 'RANGE_INTERPOLATED', 'STREET_MID_POINT', 'ADDR_V1', 'ADDRESS_POINT', 'ADDRESS')"
      s"""WITH rows0 AS (
         |  SELECT c_custkey AS custkey, c_custkey % 300 AS addr_n,
         |    CASE WHEN c_custkey % 13 = 0 THEN '$NationalSvc'
         |         WHEN c_custkey % 13 = 1 THEN '8G4Q+V2 Site ' || CAST(c_custkey % 50 AS VARCHAR)
         |         WHEN c_custkey % 13 = 2 AND c_custkey % 2 = 0 THEN '$AllCountry'
         |         ELSE 'Addr ' || CAST(c_custkey % 300 AS VARCHAR) END AS keyword,
         |    CASE WHEN c_custkey % 8 <> 3 THEN 'RevCity ' || CAST(c_custkey % 30 AS VARCHAR) END AS rev_cand
         |  FROM customer),
         |rows1 AS (
         |  SELECT *, keyword IN ('$NationalSvc', '$AllCountry') AS is_national,
         |    (length(keyword) > 4 AND substr(keyword, 5, 1) = '+') AS is_plus
         |  FROM rows0),
         |gm AS (
         |  SELECT cn, 180000e0 + (cn % 120) * 500e0 AS gx, 500000e0 + (cn % 200) * 800e0 AS gy,
         |    CASE cn % 6 WHEN 0 THEN 'POI_MID_POINT' WHEN 1 THEN 'ADDR_V1_NEW' WHEN 2 THEN 'NEIGHBORHOODS_AREA'
         |                WHEN 3 THEN 'STREET_MID_POINT' WHEN 4 THEN 'NEW_ADDRESS_POINT' ELSE 'SETL_MID_POINT' END AS dl,
         |    'Addr ' || CAST(cn AS VARCHAR) || ' | Rehov ' || CAST(cn % 60 AS VARCHAR) || '$IsraelSuffix' AS gm_addr
         |  FROM (SELECT DISTINCT c_custkey % 300 AS cn FROM customer) WHERE cn % 10 <> 7),
         |goog AS (
         |  SELECT 'Addr ' || CAST(gn AS VARCHAR) AS gkey,
         |    CASE gn % 5 WHEN 0 THEN 'ROOFTOP' WHEN 1 THEN 'GEOMETRIC_CENTER' WHEN 2 THEN 'GEOMETRIC_CENTER'
         |                WHEN 3 THEN 'APPROXIMATE' ELSE 'RANGE_INTERPOLATED' END AS g_acc0,
         |    CASE gn % 5 WHEN 1 THEN 'establishment' WHEN 2 THEN 'plus_code' ELSE 'locality' END AS quality,
         |    'G Addr ' || CAST(gn AS VARCHAR) || (CASE WHEN gn % 2 = 0 THEN '$IsraelSuffix' ELSE '' END) AS g_addr,
         |    CASE WHEN gn % 3 = 0 THEN 'GCity ' || CAST(gn % 40 AS VARCHAR) END AS locality,
         |    CASE WHEN gn % 3 = 1 THEN 'GArea ' || CAST(gn % 15 AS VARCHAR) END AS admin2,
         |    CASE WHEN gn % 3 = 2 AND gn % 6 <> 5 THEN 'GTown ' || CAST(gn AS VARCHAR) END AS gcity,
         |    31e0 + (gn % 100) * 1e-2 AS g_lat, 34.5e0 + (gn % 80) * 1e-2 AS g_lng
         |  FROM (SELECT DISTINCT c_custkey % 300 AS gn FROM customer) WHERE gn % 4 <> 1
         |  UNION ALL
         |  SELECT '8G4Q+V2 Site ' || CAST(m AS VARCHAR), 'GEOMETRIC_CENTER', 'plus_code',
         |    'Plus ' || CAST(m AS VARCHAR),
         |    CASE WHEN m % 3 = 0 THEN 'PCity ' || CAST(m AS VARCHAR) END,
         |    CASE WHEN m % 3 = 1 THEN 'PArea ' || CAST(m AS VARCHAR) END,
         |    CAST(NULL AS VARCHAR),
         |    32e0 + m * 1e-3, 34.8e0 + m * 1e-3
         |  FROM (SELECT DISTINCT c_custkey % 50 AS m FROM customer) WHERE m % 9 <> 5),
         |src AS (
         |  SELECT r.*, g.cn, g.dl, g.gm_addr,
         |    (NOT r.is_national AND NOT r.is_plus AND g.cn IS NOT NULL) AS gm_hit,
         |    CASE WHEN NOT r.is_national AND NOT r.is_plus AND g.cn IS NOT NULL THEN g.gx END AS e,
         |    CASE WHEN NOT r.is_national AND NOT r.is_plus AND g.cn IS NOT NULL THEN g.gy END AS n
         |  FROM rows1 r LEFT JOIN gm g ON r.addr_n = g.cn),
         |${GeoQueries.projectionCtes},
         |j2 AS (SELECT w.*, o.* FROM wgs w LEFT JOIN goog o ON w.keyword = o.gkey),
         |lad AS (
         |  SELECT *,
         |    (NOT is_national AND (NOT gm_hit OR NOT (trim(replace(dl, 'NEW', ''), '_') IN $accurate))) AS goog_try
         |  FROM j2),
         |lad2 AS (
         |  SELECT *, (goog_try AND gkey IS NOT NULL) AS goog_ok,
         |    CASE WHEN is_plus THEN 'ADDR_V1'
         |         WHEN g_acc0 = 'GEOMETRIC_CENTER' AND quality = 'establishment' THEN 'POI_MID_POINT'
         |         WHEN g_acc0 = 'GEOMETRIC_CENTER' AND quality = 'plus_code' THEN 'ROOFTOP'
         |         ELSE g_acc0 END AS g_acc
         |  FROM lad),
         |res AS (
         |  SELECT *,
         |    CASE WHEN is_national THEN '$NationalSvc'
         |         WHEN goog_ok THEN (CASE WHEN is_plus THEN keyword ELSE g_addr END)
         |         WHEN gm_hit THEN gm_addr END AS addr_pre,
         |    CASE WHEN goog_ok THEN g_lat WHEN gm_hit THEN wgs_lat END AS flat,
         |    CASE WHEN goog_ok THEN g_lng WHEN gm_hit THEN wgs_lon END AS flon,
         |    CASE WHEN goog_ok THEN COALESCE(locality, admin2, gcity) END AS city_g
         |  FROM lad2)
         |SELECT custkey, keyword,
         |  CASE WHEN goog_try AND NOT goog_ok THEN 'NOT_FOUND' ELSE 'VALID' END AS status,
         |  CASE WHEN is_national THEN 'national' WHEN goog_ok THEN 'google' WHEN gm_hit THEN 'govmap' END AS provider,
         |  CASE WHEN is_national THEN 'NATIONAL_SERVICE' WHEN goog_ok THEN g_acc
         |       WHEN gm_hit THEN trim(replace(dl, 'NEW', ''), '_') END AS accuracy,
         |  replace(CASE WHEN ends_with(addr_pre, '$IsraelSuffix') THEN substr(addr_pre, 1, length(addr_pre) - 7) ELSE addr_pre END, ' | ', ', ') AS resolved_address,
         |  CASE WHEN city_g IS NOT NULL THEN city_g
         |       WHEN flat IS NOT NULL AND flon IS NOT NULL THEN COALESCE(rev_cand, 'unknown') END AS resolved_city,
         |  CASE WHEN flat IS NULL THEN NULL ELSE printf('%.5f', flat) END AS resolved_lat,
         |  CASE WHEN flon IS NULL THEN NULL ELSE printf('%.5f', flon) END AS resolved_lon
         |FROM res
         |""".stripMargin
    } { (s, dir) =>
      val (rows, gm, goog) = geocodeInputs(s, dir)
      // Cascade core shared with the STREAMING twin (operators/Geocode).
      graft.operators.Geocode.cascade(rows, gm, goog)
    },

    // q141: taxonomy TREE flatten with breadcrumbs (operators/taxonomy/
    // __init__.py:24 handle_node + :14 handle_tx): walk the hierarchy,
    // emit every below-root node with its ancestors-below-root joined
    // '/', slug renames applied in order, and the localized-name
    // fallback (tx[lang] else source; the English column is the bare
    // source). The synthetic forest is an 8-ary tree over part keys
    // (roots 1-7, depth ~log8 N), so every depth and both name arms are
    // live. Plan: O(depth) joins via Hierarchy.breadcrumbs — the frontier
    // is level-sized and AQE broadcasts it while small; no driver
    // recursion, no collected tree. Oracle: the identical walk as a
    // DuckDB recursive CTE.
    "q141_taxonomy_tree" -> QueryDef.of(
      """WITH RECURSIVE nodes AS (
        |  SELECT p_partkey AS nid,
        |    CASE WHEN p_partkey <= 7 THEN NULL ELSE p_partkey // 8 END AS parent,
        |    COALESCE(CASE WHEN p_partkey % 3 = 0 THEN 'שם ' || CAST(p_partkey AS VARCHAR) END,
        |             'Node ' || CAST(p_partkey AS VARCHAR)) AS nname,
        |    'Node ' || CAST(p_partkey AS VARCHAR) AS name_en,
        |    CASE WHEN p_partkey % 5 <> 1 THEN
        |      COALESCE(CASE WHEN p_partkey % 4 = 0 THEN 'HeDesc ' || CAST(p_partkey AS VARCHAR) END,
        |               'About ' || CAST(p_partkey AS VARCHAR)) END AS description,
        |    CASE WHEN p_partkey % 5 <> 1 THEN 'About ' || CAST(p_partkey AS VARCHAR) END AS description_en
        |  FROM part),
        |walk AS (
        |  SELECT nid, nname, CAST('' AS VARCHAR) AS crumbs, 0 AS depth FROM nodes WHERE parent IS NULL
        |  UNION ALL
        |  SELECT n.nid, n.nname,
        |    CASE WHEN w.depth = 0 THEN '' WHEN w.crumbs = '' THEN w.nname
        |         ELSE w.crumbs || '/' || w.nname END,
        |    w.depth + 1
        |  FROM nodes n JOIN walk w ON n.parent = w.nid)
        |SELECT replace(replace('hs:node_' || CAST(w.nid AS VARCHAR), 'hs:', 'human_services:'), 'node_', 'n_') AS id,
        |  w.nname AS name, n.name_en, n.description, n.description_en,
        |  w.crumbs AS breadcrumbs, CAST(w.nid AS BIGINT) AS pk
        |FROM walk w JOIN nodes n ON w.nid = n.nid
        |WHERE w.depth >= 1
        |""".stripMargin) { (s, dir) =>
      val p = col("p_partkey")
      val nodes = Tables.part(s, dir).select(
        p.as("nid"),
        when(p <= 7, lit(null).cast("long")).otherwise(floor(p / 8).cast("long")).as("parent"),
        coalesce(when(p % 3 === 0, concat(lit("שם "), p.cast("string"))),
          concat(lit("Node "), p.cast("string"))).as("nname"),
        concat(lit("Node "), p.cast("string")).as("name_en"),
        when(p % 5 =!= 1,
          coalesce(when(p % 4 === 0, concat(lit("HeDesc "), p.cast("string"))),
            concat(lit("About "), p.cast("string")))).as("description"),
        when(p % 5 =!= 1, concat(lit("About "), p.cast("string"))).as("description_en"))
      val walked = graft.operators.Hierarchy.breadcrumbs(
        nodes.select(col("nid"), col("parent"), col("nname")))
      walked.filter(col("depth") >= 1)
        .join(nodes.drop("parent", "nname"), "nid")
        .select(
          replace(replace(concat(lit("hs:node_"), col("nid").cast("string")),
            lit("hs:"), lit("human_services:")), lit("node_"), lit("n_")).as("id"),
          col("nname").as("name"), col("name_en"), col("description"),
          col("description_en"), col("crumbs").as("breadcrumbs"),
          col("nid").cast("long").as("pk"))
    },

    // q142: the meser service COMBINE flow (operators/meser/__init__.py:65
    // transform_meser_dataframe): sentinel-scrubbed address composition
    // (:51 create_address_clean — '999' strip, 'none'/'nan' drops,
    // addr==city null-out), leading-0 phone repair, tag-array build with
    // None/'' drops, then duplicate COMBINE on the content key
    // (service_name, phone, address, org): every plain column takes the
    // group's first NON-NULL in row order (pandas groupby.first), the
    // tag arrays merge ORDER-PRESERVING with first-occurrence dedup (:18
    // flatten_and_deduplicate_list_of_lists — NOT a sorted distinct),
    // the plus code encodes the group's first coordinates at the
    // library's default length 10, and tags map to response/situation id
    // lists (missing tags → [] via :45 safe_list) with the same ordered
    // flatten-dedup. Plan: map-side derivation, ONE exchange; firsts are
    // partial-combining min_by aggregates, the only buffered state is
    // the per-group tag list. The ordered dedup is a positional HOF
    // (keep x where first index == own index) — identical lambda in
    // DuckDB, since list_distinct there does NOT preserve order.
    "q142_meser_combine" -> QueryDef.of {
      def dedupSql(l: String) = s"list_filter($l, (x, i) -> list_position($l, x) = i)"
      s"""WITH base AS (
         |  SELECT o_orderkey AS ord, o_orderkey % 557 AS g,
         |    trim(' Service ' || CAST((o_orderkey % 557) % 400 AS VARCHAR) || ' ') AS service_name,
         |    'City ' || CAST((o_orderkey % 557) % 30 AS VARCHAR) AS city_name,
         |    CASE (o_orderkey % 557) % 5 WHEN 0 THEN 'St 999' WHEN 1 THEN 'None'
         |         WHEN 2 THEN 'City ' || CAST((o_orderkey % 557) % 30 AS VARCHAR)
         |         WHEN 3 THEN NULL ELSE 'St ' || CAST((o_orderkey % 557) % 80 AS VARCHAR) END AS adrees0,
         |    CASE (o_orderkey % 557) % 6 WHEN 0 THEN NULL WHEN 1 THEN '0'
         |         WHEN 2 THEN '52123' || CAST((o_orderkey % 557) % 10 AS VARCHAR)
         |         WHEN 3 THEN ' ' ELSE '03' || lpad(CAST((o_orderkey % 557) % 9999 AS VARCHAR), 5, '0') END AS tel,
         |    COALESCE(CASE WHEN (o_orderkey % 557) % 3 = 0 THEN 'B' || CAST((o_orderkey % 557) % 50 AS VARCHAR) END,
         |             CASE WHEN (o_orderkey % 557) % 4 = 0 THEN 'R' || CAST((o_orderkey % 557) % 50 AS VARCHAR) END,
         |             '500106406') AS organization_id,
         |    CAST(o_orderkey AS VARCHAR) AS meser_id,
         |    'meser-s-' || CAST(o_orderkey AS VARCHAR) AS service_id,
         |    'meser-b-' || CAST(o_orderkey AS VARCHAR) AS branch_id,
         |    trim('Type ' || CAST(o_orderkey % 7 AS VARCHAR)) AS branch_name,
         |    'Owner ' || CAST(o_orderkey % 9 AS VARCHAR) AS owner,
         |    list_filter(['Type ' || CAST(o_orderkey % 7 AS VARCHAR),
         |                 CASE WHEN o_orderkey % 2 = 0 THEN 'Pop ' || CAST(o_orderkey % 5 AS VARCHAR) ELSE 'None' END,
         |                 CASE WHEN o_orderkey % 3 = 0 THEN 'Cls ' || CAST(o_orderkey % 4 AS VARCHAR) END,
         |                 CASE o_orderkey % 4 WHEN 0 THEN 'Gender M' WHEN 1 THEN 'Gender F' ELSE '' END,
         |                 'Dept ' || CAST(o_orderkey % 6 AS VARCHAR)],
         |      x -> x IS NOT NULL AND x <> 'None' AND x <> '') AS tagging,
         |    CASE WHEN o_orderkey % 7 <> 2 THEN 31.2e0 + (o_orderkey % 90) * 1e-2 END AS gisy,
         |    CASE WHEN o_orderkey % 11 <> 3 THEN 34.3e0 + (o_orderkey % 70) * 1e-2 END AS gisx
         |  FROM orders),
         |b2 AS (
         |  SELECT *, trim(replace(COALESCE(adrees0, 'nan'), '999', '')) AS a1 FROM base),
         |b3 AS (
         |  SELECT *, CASE WHEN lower(a1) IN ('none', 'nan', '') THEN NULL
         |                 WHEN lower(a1) = lower(city_name) THEN NULL ELSE a1 END AS a2 FROM b2),
         |b4 AS (
         |  SELECT *,
         |    trim(CASE WHEN a2 IS NULL THEN city_name ELSE a2 || ' ' || city_name END) AS address,
         |    CASE WHEN tel IS NULL OR trim(tel) IN ('', '0') THEN ''
         |         WHEN substr(tel, 1, 1) <> '0' THEN '0' || tel ELSE tel END AS phone_numbers
         |  FROM b3),
         |g1 AS (
         |  SELECT service_name, phone_numbers, address, organization_id,
         |    min_by(service_id, ord) AS service_id,
         |    min_by(branch_id, ord) AS branch_id,
         |    min_by(branch_name, ord) AS branch_name,
         |    min_by(meser_id, ord) AS meser_id,
         |    min_by(owner, ord) AS owner,
         |    min_by(city_name, ord) AS city_name,
         |    flatten(list(tagging ORDER BY ord)) AS tl,
         |    min_by(gisy, ord) FILTER (gisy IS NOT NULL) AS fy,
         |    min_by(gisx, ord) FILTER (gisx IS NOT NULL) AS fx
         |  FROM b4 GROUP BY 1, 2, 3, 4),
         |g2 AS (SELECT *, ${dedupSql("tl")} AS tagging_l FROM g1),
         |g3 AS (SELECT *,
         |    flatten(list_transform(tagging_l, x -> CASE
         |      WHEN starts_with(trim(x), 'Type ') THEN ['r_' || trim(x), 'r_common']
         |      WHEN starts_with(trim(x), 'Pop ') THEN ['r_' || trim(x)] ELSE [] END)) AS r0,
         |    flatten(list_transform(tagging_l, x -> CASE
         |      WHEN starts_with(trim(x), 'Gender ') THEN ['s_' || trim(x)]
         |      WHEN starts_with(trim(x), 'Dept ') THEN ['s_' || trim(x), 's_x'] ELSE [] END)) AS s0
         |  FROM g2)
         |SELECT service_name, phone_numbers, address, organization_id, service_id,
         |  branch_id, branch_name, meser_id, owner, city_name,
         |  array_to_string(tagging_l, '|') AS tagging,
         |  CASE WHEN fy IS NOT NULL AND fx IS NOT NULL THEN ${Olc.Sql.encode10("fy", "fx")} END AS pluscode,
         |  COALESCE(array_to_string(${dedupSql("r0")}, '|'), '') AS responses,
         |  COALESCE(array_to_string(${dedupSql("s0")}, '|'), '') AS situations
         |FROM g3
         |""".stripMargin
    } { (s, dir) =>
      val ord = col("o_orderkey")
      val g = ord % 557
      val city = concat(lit("City "), (g % 30).cast("string"))
      // lesson-4 hash compute spread (r11, measured): single ~0.9 s task
      // otherwise; one raw key column rides the exchange (q144's note).
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"))
        .transform(graft.operators.Relational.spreadForCompute(_, col("o_orderkey")))
        .select(
        ord.as("ord"),
        trim(concat(lit(" Service "), (g % 400).cast("string"), lit(" "))).as("service_name"),
        city.as("city_name"),
        when(g % 5 === 0, lit("St 999")).when(g % 5 === 1, lit("None"))
          .when(g % 5 === 2, city).when(g % 5 === 3, lit(null).cast("string"))
          .otherwise(concat(lit("St "), (g % 80).cast("string"))).as("adrees0"),
        when(g % 6 === 0, lit(null).cast("string")).when(g % 6 === 1, lit("0"))
          .when(g % 6 === 2, concat(lit("52123"), (g % 10).cast("string")))
          .when(g % 6 === 3, lit(" "))
          .otherwise(concat(lit("03"), lpad((g % 9999).cast("string"), 5, "0"))).as("tel"),
        coalesce(
          when(g % 3 === 0, concat(lit("B"), (g % 50).cast("string"))),
          when(g % 4 === 0, concat(lit("R"), (g % 50).cast("string"))),
          lit("500106406")).as("organization_id"),
        ord.cast("string").as("meser_id"),
        concat(lit("meser-s-"), ord.cast("string")).as("service_id"),
        concat(lit("meser-b-"), ord.cast("string")).as("branch_id"),
        trim(concat(lit("Type "), (ord % 7).cast("string"))).as("branch_name"),
        concat(lit("Owner "), (ord % 9).cast("string")).as("owner"),
        filter(array(
          concat(lit("Type "), (ord % 7).cast("string")),
          when(ord % 2 === 0, concat(lit("Pop "), (ord % 5).cast("string"))).otherwise(lit("None")),
          when(ord % 3 === 0, concat(lit("Cls "), (ord % 4).cast("string"))),
          when(ord % 4 === 0, lit("Gender M")).when(ord % 4 === 1, lit("Gender F")).otherwise(lit("")),
          concat(lit("Dept "), (ord % 6).cast("string"))),
          x => x.isNotNull && x =!= "None" && x =!= "").as("tagging"),
        when(ord % 7 =!= 2, lit(31.2) + (ord % 90).cast("double") * lit(0.01)).as("gisy"),
        when(ord % 11 =!= 3, lit(34.3) + (ord % 70).cast("double") * lit(0.01)).as("gisx"))
      val a1 = trim(replace(coalesce(col("adrees0"), lit("nan")), lit("999"), lit("")))
      val b4 = base.withColumn("a1", a1)
        .withColumn("a2",
          when(lower(col("a1")).isin("none", "nan", ""), lit(null).cast("string"))
            .when(lower(col("a1")) === lower(col("city_name")), lit(null).cast("string"))
            .otherwise(col("a1")))
        .withColumn("address",
          trim(when(col("a2").isNull, col("city_name"))
            .otherwise(concat(col("a2"), lit(" "), col("city_name")))))
        .withColumn("phone_numbers",
          when(col("tel").isNull || trim(col("tel")).isin("", "0"), lit(""))
            .when(substring(col("tel"), 1, 1) =!= "0", concat(lit("0"), col("tel")))
            .otherwise(col("tel")))
      def firstNonNull(c: String) = min_by(col(c), when(col(c).isNotNull, col("ord"))).as(c)
      val g1 = b4.groupBy(col("service_name"), col("phone_numbers"), col("address"), col("organization_id"))
        .agg(
          min_by(col("service_id"), col("ord")).as("service_id"),
          min_by(col("branch_id"), col("ord")).as("branch_id"),
          min_by(col("branch_name"), col("ord")).as("branch_name"),
          min_by(col("meser_id"), col("ord")).as("meser_id"),
          min_by(col("owner"), col("ord")).as("owner"),
          min_by(col("city_name"), col("ord")).as("city_name"),
          flatten(transform(sort_array(collect_list(struct(col("ord"), col("tagging")))),
            t => t.getField("tagging"))).as("tl"),
          firstNonNull("gisy").as("fy"), firstNonNull("gisx").as("fx"))
      // First-occurrence positional dedup (flatten_and_deduplicate's
      // order contract): keep x iff its FIRST index is its own index.
      def orderedDedup(c: Column): Column =
        filter(c, (x, i) => array_position(c, x) === (i + 1).cast("long"))
      val g2 = g1.withColumn("tagging_l", orderedDedup(col("tl")))
      val g3 = g2
        .withColumn("r0", flatten(transform(col("tagging_l"), x =>
          when(trim(x).startsWith("Type "), array(concat(lit("r_"), trim(x)), lit("r_common")))
            .when(trim(x).startsWith("Pop "), array(concat(lit("r_"), trim(x))))
            .otherwise(array().cast("array<string>")))))
        .withColumn("s0", flatten(transform(col("tagging_l"), x =>
          when(trim(x).startsWith("Gender "), array(concat(lit("s_"), trim(x))))
            .when(trim(x).startsWith("Dept "), array(concat(lit("s_"), trim(x)), lit("s_x")))
            .otherwise(array().cast("array<string>")))))
      g3.select(
        col("service_name"), col("phone_numbers"), col("address"), col("organization_id"),
        col("service_id"), col("branch_id"), col("branch_name"), col("meser_id"),
        col("owner"), col("city_name"),
        array_join(col("tagging_l"), "|").as("tagging"),
        when(col("fy").isNotNull && col("fx").isNotNull,
          Olc.encode10(col("fy"), col("fx"))).as("pluscode"),
        array_join(orderedDedup(col("r0")), "|").as("responses"),
        array_join(orderedDedup(col("s0")), "|").as("situations"))
    },

    // q143: FIELD-MAP staging — the per-source massage pattern shared by
    // the remaining small connectors, one pass per row with each dir's
    // distinct transform:
    //  - revaha/__init__.py:21 transform_phone_numbers: comma-split BOTH
    //    phone fields (None → '' → [''], the quirk kept), newline-join,
    //    strip every space; :29 transform_email_addresses: first
    //    [\w.+-]+@[\w-]+\.[\w.-]+ match else null.
    //  - shil/__init__.py:77 add_newlines (</p>,</li> grow '\n') then
    //    tag-strip + &nbsp; → ' ' (the bleach.clean(tags=()) posture —
    //    q131 is the full HTML operator; this is the field-map form).
    //  - shil FIELD_MAP urls: base/UrlName#Title anchor composition.
    //  - gilzahav/__init__.py:47 branch_description: the unit-count line
    //    plus a waiting-count line unless the field is None or '-'.
    //  - presets/__init__.py:21 homepage_query: 'response עבור situation'
    //    with single-field fallbacks, whitespace → '_'.
    //  - mental_health_clinics/__init__.py:145 clinic_hash: content id
    //    from '|'-joined non-EMPTY fields (filter(None,·) drops '' too),
    //    8-hex prefix (md5 here — srm_tools' own hasher; DuckDB has no
    //    sha1). Its :125 description builder joins a python set() —
    //    order nondeterministic BY CONSTRUCTION, so it is not modeled.
    // Plan: map-only, zero shuffles at any scale.
    "q143_field_map_staging" -> QueryDef.of(
      """SELECT 'src:' || CAST(c_custkey AS VARCHAR) AS id,
        |  'Item ' || CAST(c_custkey % 500 AS VARCHAR) AS name,
        |  replace(array_to_string(
        |    string_split(COALESCE(CASE WHEN c_custkey % 3 <> 0 THEN '02-111 ' || CAST(c_custkey % 90 AS VARCHAR) || ',03 222' END, ''), ',')
        |    || string_split(COALESCE(CASE WHEN c_custkey % 5 <> 1 THEN '04 333' END, ''), ','), chr(10)), ' ', '') AS phone_numbers,
        |  NULLIF(regexp_extract(
        |    CASE c_custkey % 6 WHEN 0 THEN 'contact: a.b' || CAST(c_custkey % 70 AS VARCHAR) || '@mail-srv.co.il (main)'
        |         WHEN 1 THEN 'no-email' WHEN 2 THEN NULL
        |         ELSE 'x' || CAST(c_custkey % 40 AS VARCHAR) || '@y.org' END,
        |    '[\w.+-]+@[\w-]+\.[\w.-]+', 0), '') AS email_address,
        |  replace(regexp_replace(trim(
        |    replace(replace('<p>Para ' || CAST(c_custkey % 50 AS VARCHAR) || '</p><li>Item A</li> &nbsp; <b>bold</b>',
        |      '</p>', '</p>' || chr(10)), '</li>', '</li>' || chr(10))),
        |    '<[^>]*>', '', 'g'), '&nbsp;', ' ') AS description,
        |  'https://www.gov.il/he/service/' || 'item-' || CAST(c_custkey % 500 AS VARCHAR) || '#' || 'Item ' || CAST(c_custkey % 500 AS VARCHAR) AS urls,
        |  'מספר יחידות דיור: ' || CAST(c_custkey % 30 AS VARCHAR) || chr(10) ||
        |    (CASE WHEN (CASE c_custkey % 4 WHEN 0 THEN '-' WHEN 1 THEN NULL ELSE CAST(c_custkey % 12 AS VARCHAR) END) IS NOT NULL
        |               AND (CASE c_custkey % 4 WHEN 0 THEN '-' WHEN 1 THEN NULL ELSE CAST(c_custkey % 12 AS VARCHAR) END) <> '-'
        |          THEN 'מספר ממתינים: ' || (CASE c_custkey % 4 WHEN 0 THEN '-' WHEN 1 THEN NULL ELSE CAST(c_custkey % 12 AS VARCHAR) END) || chr(10)
        |          ELSE '' END) AS gz_description,
        |  regexp_replace(CASE
        |    WHEN c_custkey % 3 <> 0 AND c_custkey % 4 <> 0
        |      THEN 'מענה ' || CAST(c_custkey % 9 AS VARCHAR) || ' עבור ' || 'מצב ' || CAST(c_custkey % 8 AS VARCHAR)
        |    WHEN c_custkey % 3 <> 0 THEN 'מצב ' || CAST(c_custkey % 8 AS VARCHAR)
        |    WHEN c_custkey % 4 <> 0 THEN 'מענה ' || CAST(c_custkey % 9 AS VARCHAR) END,
        |    '\s+', '_', 'g') AS homepage_query,
        |  'mhclinic-' || substr(md5(array_to_string(list_filter(
        |    ['Item ' || CAST(c_custkey % 500 AS VARCHAR),
        |     CASE WHEN c_custkey % 7 <> 0 THEN '035' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 4, '0') ELSE '' END,
        |     'Addr ' || CAST(c_custkey % 200 AS VARCHAR),
        |     CASE WHEN c_custkey % 2 = 0 THEN 'HMO' || CAST(c_custkey % 4 AS VARCHAR) END],
        |    x -> x IS NOT NULL AND x <> ''), '|')), 1, 8) AS clinic_id
        |FROM customer
        |""".stripMargin) { (s, dir) =>
      val k = col("c_custkey")
      def ks(m: Int) = (k % m).cast("string")
      val title = concat(lit("Item "), ks(500))
      val waiting = when(k % 4 === 0, lit("-")).when(k % 4 === 1, lit(null).cast("string"))
        .otherwise(ks(12))
      val emailRaw = when(k % 6 === 0, concat(lit("contact: a.b"), ks(70), lit("@mail-srv.co.il (main)")))
        .when(k % 6 === 1, lit("no-email")).when(k % 6 === 2, lit(null).cast("string"))
        .otherwise(concat(lit("x"), ks(40), lit("@y.org")))
      val html = concat(lit("<p>Para "), ks(50), lit("</p><li>Item A</li> &nbsp; <b>bold</b>"))
      Tables.customer(s, dir).select(
        concat(lit("src:"), k.cast("string")).as("id"),
        title.as("name"),
        replace(array_join(concat(
          split(coalesce(when(k % 3 =!= 0,
            concat(lit("02-111 "), ks(90), lit(",03 222"))), lit("")), ","),
          split(coalesce(when(k % 5 =!= 1, lit("04 333")), lit("")), ",")), "\n"),
          lit(" "), lit("")).as("phone_numbers"),
        nullif(regexp_extract(emailRaw, "[\\w.+-]+@[\\w-]+\\.[\\w.-]+", 0), lit("")).as("email_address"),
        replace(regexp_replace(trim(
          replace(replace(html, lit("</p>"), lit("</p>\n")), lit("</li>"), lit("</li>\n"))),
          "<[^>]*>", ""), lit("&nbsp;"), lit(" ")).as("description"),
        concat(lit("https://www.gov.il/he/service/item-"), ks(500), lit("#"), title).as("urls"),
        concat(lit("מספר יחידות דיור: "), ks(30), lit("\n"),
          when(waiting.isNotNull && waiting =!= "-",
            concat(lit("מספר ממתינים: "), waiting, lit("\n"))).otherwise(lit(""))).as("gz_description"),
        regexp_replace(
          when(k % 3 =!= 0 && k % 4 =!= 0,
            concat(lit("מענה "), ks(9), lit(" עבור מצב "), ks(8)))
            .when(k % 3 =!= 0, concat(lit("מצב "), ks(8)))
            .when(k % 4 =!= 0, concat(lit("מענה "), ks(9))),
          "\\s+", "_").as("homepage_query"),
        concat(lit("mhclinic-"), substring(md5(array_join(filter(array(
          title,
          when(k % 7 =!= 0, concat(lit("035"), lpad(ks(1000), 4, "0"))).otherwise(lit("")),
          concat(lit("Addr "), ks(200)),
          when(k % 2 === 0, concat(lit("HMO"), ks(4)))),
          x => x.isNotNull && x =!= ""), "|")), 1, 8)).as("clinic_id"))
    },

    // q144: the MANUAL-DATA-ENTRY branch flow (operators/
    // manual_data_entry/mde_utils.py): slugified org ids with the hash
    // fallback (:19 — slugify then the ^(srm|)[0-9]+$ gate; failures
    // become 'srm9' + int(hash, 16); hash = md5[:8] here, srm_tools'
    // hasher shape — DuckDB lacks sha1, and an 8-hex int fits BIGINT in
    // both engines), the national-service address overwrite (:30),
    // content-keyed branch ids 'mde:'+hash(org, unit, address, geocode)
    // with python str() turning None into 'None' (:107-110), then
    // join_with_self on the content id keeping the MIN hashed row id
    // (:158); dataflows' 'any' aggregate for the other fields is
    // ARBITRARY — pinned here to the min-row-id row, the same row the id
    // comes from. branch_updater (:113) then derives location =
    // geocode-else-address (stripped) and rebuilds urls: split, fix_url
    // (http passthrough / bare-domain 'http://' upgrade / drop), tag
    // '#אתר הסניף', rejoin. Plan: map-side derivation + ONE exchange
    // (the content-id combine); min/min_by aggregates partial-combine.
    "q144_mde_branches" -> QueryDef.of(
      """WITH base0 AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) || '-' ||
        |      CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR) || '-' ||
        |      CAST(CAST(l_quantity AS INT) AS VARCHAR) AS row_key,
        |    l_orderkey % 613 AS g, l_partkey AS pk
        |  FROM lineitem),
        |base1 AS (
        |  SELECT *,
        |    CASE g % 4 WHEN 0 THEN CAST(500000000 + g AS VARCHAR)
        |         WHEN 1 THEN 'SRM' || CAST(g AS VARCHAR)
        |         WHEN 2 THEN NULL ELSE 'Reg ' || CAST(g AS VARCHAR) END AS id_src,
        |    'Org Name ' || CAST(g % 300 AS VARCHAR) AS org_name,
        |    CASE WHEN g % 3 = 0 THEN 'OU' || CAST(g % 40 AS VARCHAR) END AS short_name,
        |    CASE WHEN g % 5 <> 2 THEN 'Addr ' || CAST(g % 120 AS VARCHAR) END AS address0,
        |    CASE WHEN g % 6 = 0 THEN '8G4Q+' || CAST(g % 90 AS VARCHAR) END AS geocode,
        |    (g % 11 = 0) AS national,
        |    'Branch ' || CAST(pk % 50 AS VARCHAR) AS bname,
        |    '05' || lpad(CAST(pk % 10000 AS VARCHAR), 4, '0') AS phone_numbers,
        |    'e' || CAST(pk % 30 AS VARCHAR) || '@o.il' AS email_address,
        |    CASE pk % 4 WHEN 0 THEN 'www.site' || CAST(pk % 60 AS VARCHAR) || '.co.il'
        |         WHEN 1 THEN 'https://x' || CAST(pk % 60 AS VARCHAR) || '.org' ||
        |              (CASE WHEN pk % 5 = 0 THEN chr(10) || 'bad url!!' ELSE '' END)
        |         WHEN 2 THEN 'bad url!!' END AS urls_raw
        |  FROM base0),
        |slugged AS (
        |  SELECT *, trim(regexp_replace(lower(COALESCE(id_src, org_name)), '[^a-z0-9]+', '-', 'g'), '-') AS slug
        |  FROM base1),
        |orged AS (
        |  SELECT *, CASE WHEN regexp_matches(slug, '^(srm|)[0-9]+$')
        |    THEN slug
        |    ELSE 'srm9' || CAST(CAST('0x' || substr(md5(slug), 1, 8) AS BIGINT) AS VARCHAR) END AS organization,
        |    COALESCE(short_name, org_name) AS operating_unit,
        |    CASE WHEN national THEN 'שירות ארצי' ELSE address0 END AS address
        |  FROM slugged),
        |keyed AS (
        |  SELECT *,
        |    'mde:' || substr(md5(organization || operating_unit || COALESCE(address, 'None') || COALESCE(geocode, 'None')), 1, 8) AS _id,
        |    'mde:' || substr(md5(row_key), 1, 8) AS rid,
        |    'mde:' || substr(md5(row_key), 1, 8) || '#' || row_key AS ord_key
        |  FROM orged),
        |combined AS (
        |  SELECT _id, min(rid) AS id,
        |    min_by(bname, ord_key) AS name,
        |    min_by(organization, ord_key) AS organization,
        |    min_by(operating_unit, ord_key) AS operating_unit,
        |    (min_by({'v': address}, ord_key)).v AS address,
        |    (min_by({'v': geocode}, ord_key)).v AS geocode,
        |    min_by(phone_numbers, ord_key) AS phone_numbers,
        |    min_by(email_address, ord_key) AS email_address,
        |    (min_by({'v': urls_raw}, ord_key)).v AS urls_raw
        |  FROM keyed GROUP BY _id)
        |SELECT _id, id, name, organization, operating_unit, address, geocode,
        |  trim(COALESCE(geocode, address)) AS location,
        |  phone_numbers, email_address,
        |  CASE WHEN urls_raw IS NULL THEN '' ELSE COALESCE(array_to_string(
        |    list_filter(list_transform(string_split(urls_raw, chr(10)), u -> CASE
        |      WHEN starts_with(u, 'http') THEN u || '#אתר הסניף'
        |      WHEN regexp_matches(u, '(?i)^[a-z0-9][a-z0-9\-\.]{0,61}[a-z0-9]\.[a-z]{2,}$')
        |        THEN 'http://' || u || '#אתר הסניף' END),
        |    u -> u IS NOT NULL), chr(10)), '') END AS urls
        |FROM combined
        |""".stripMargin) { (s, dir) =>
      val g = (col("l_orderkey") % 613).as("g")
      // (l_orderkey, l_linenumber) alone is NOT unique in the generated
      // lineitem; the 5-tuple below is, at every scale — a sheet row id
      // must be collision-free or the min-row-id pick ties arbitrarily.
      // lesson-4 compute spread (r11, measured): the sheet arrives as ONE
      // parquet row group locally, so the row_key string build + the
      // md5/regex/keying chain below ran nearly single-task (~2.3 s; the
      // spread-after-row_key first cut still left a 3t/1s stage). HASH
      // spread on the high-cardinality entity key, NOT round-robin: a
      // keyless repartition(n) locally sorts its whole input first
      // (sortBeforeRepartition, for retry determinism — guide §2.5),
      // which measured 0.8 s single-task here; hashing is map-side free
      // and just as deterministic. The exchange carries the 5 raw numeric
      // columns only; at real scale the scan has many splits and this
      // exchange is batch-sized noise next to the compute it spreads.
      val base = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
        .transform(graft.operators.Relational.spreadForCompute(_, col("l_orderkey"), col("l_linenumber")))
        .select(
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string"), lit("-"),
            col("l_partkey").cast("string"), lit("-"),
            col("l_suppkey").cast("string"), lit("-"),
            col("l_quantity").cast("int").cast("string")).as("row_key"),
          g, col("l_partkey").as("pk"))
      def gs(m: Int) = (col("g") % m).cast("string")
      def ps(m: Int) = (col("pk") % m).cast("string")
      val b1 = base
        .select(col("row_key"), col("g"), col("pk"),
        when(col("g") % 4 === 0, (col("g") + 500000000L).cast("string"))
          .when(col("g") % 4 === 1, concat(lit("SRM"), col("g").cast("string")))
          .when(col("g") % 4 === 2, lit(null).cast("string"))
          .otherwise(concat(lit("Reg "), col("g").cast("string"))).as("id_src"),
        concat(lit("Org Name "), gs(300)).as("org_name"),
        when(col("g") % 3 === 0, concat(lit("OU"), gs(40))).as("short_name"),
        when(col("g") % 5 =!= 2, concat(lit("Addr "), gs(120))).as("address0"),
        when(col("g") % 6 === 0, concat(lit("8G4Q+"), gs(90))).as("geocode"),
        (col("g") % 11 === 0).as("national"),
        concat(lit("Branch "), ps(50)).as("bname"),
        concat(lit("05"), lpad(ps(10000), 4, "0")).as("phone_numbers"),
        concat(lit("e"), ps(30), lit("@o.il")).as("email_address"),
        when(col("pk") % 4 === 0, concat(lit("www.site"), ps(60), lit(".co.il")))
          .when(col("pk") % 4 === 1, concat(lit("https://x"), ps(60), lit(".org"),
            when(col("pk") % 5 === 0, lit("\nbad url!!")).otherwise(lit(""))))
          .when(col("pk") % 4 === 2, lit("bad url!!")).as("urls_raw"))
      val slug = expr("trim('-' FROM regexp_replace(lower(COALESCE(id_src, org_name)), '[^a-z0-9]+', '-'))")
      val orged = b1.withColumn("slug", slug)
        .withColumn("organization",
          when(col("slug").rlike("^(srm|)[0-9]+$"), col("slug"))
            .otherwise(concat(lit("srm9"),
              conv(substring(md5(col("slug")), 1, 8), 16, 10))))
        .withColumn("operating_unit", coalesce(col("short_name"), col("org_name")))
        .withColumn("address",
          when(col("national"), lit(NationalSvc)).otherwise(col("address0")))
      val keyed = orged
        .withColumn("_id", concat(lit("mde:"), substring(md5(concat(
          col("organization"), col("operating_unit"),
          coalesce(col("address"), lit("None")),
          coalesce(col("geocode"), lit("None")))), 1, 8)))
        .withColumn("rid", concat(lit("mde:"), substring(md5(col("row_key")), 1, 8)))
        // rid is an 8-hex truncation (2^32 values): distinct rows CAN tie
        // on it, and a tie would let each engine pick its own winner. The
        // unique row_key behind a fixed-width prefix makes the order
        // total — the pinned 'any' convention is min (rid, row_key).
        .withColumn("ord_key", concat(col("rid"), lit("#"), col("row_key")))
      // Keep-first IS per-key top-1: route through the TopKPerKey plan
      // node instead of a min_by aggregate — string-buffered min_by
      // planned as SortAggregate (strings are not mutable UnsafeRow
      // buffer types), sorting 600k wide rows map-side; the node's
      // bounded heaps trim each partition to one row per key with no
      // sort, and the winner's rid IS min(rid), so the combined row and
      // the id come out of the same pass (measured 3.9 -> 2.6 s solo).
      val combined = graft.operators.TopK
        .topKPerKey(keyed, Seq(col("_id")), Seq(col("ord_key")), 1)
        .select(col("_id"), col("rid").as("id"), col("bname").as("name"),
          col("organization"), col("operating_unit"), col("address"),
          col("geocode"), col("phone_numbers"), col("email_address"),
          col("urls_raw"))
      val urlTag = graft.operators.Geocode.BranchUrlTag
      val goodDomain = "(?i)^[a-z0-9][a-z0-9\\-\\.]{0,61}[a-z0-9]\\.[a-z]{2,}$"
      combined.select(
        col("_id"), col("id"), col("name"), col("organization"),
        col("operating_unit"), col("address"), col("geocode"),
        trim(coalesce(col("geocode"), col("address"))).as("location"),
        col("phone_numbers"), col("email_address"),
        when(col("urls_raw").isNull, lit(""))
          .otherwise(array_join(filter(transform(split(col("urls_raw"), "\n"), u =>
            when(u.startsWith("http"), concat(u, lit(urlTag)))
              .when(u.rlike(goodDomain), concat(lit("http://"), u, lit(urlTag)))),
            u => u.isNotNull), "\n")).as("urls"))
    },

    // q146: the DAY_CARE branch staging flow (operators/day_care/
    // update_branch.py) — the one connector transform the suite had not
    // yet mapped:
    //  - :28 transform_dataframe_to_branch: field renames, content id
    //    'mol_daycare-' + hash(symbol + regno) (srm_tools hasher shape,
    //    8-hex prefix — md5 here, as q143/q144: DuckDB lacks sha1),
    //    make_address joins [city, street, house] keeping only TRUTHY
    //    fields — a house number of 0 is falsy in Python and drops, the
    //    quirk kept; description is f"{manager or ''} \n {symbol or ''}"
    //    (spaces around the newline; symbol 0 is falsy → '', kept);
    //    service matcher from the type description (משפחתון/צהרון/else).
    //  - :48 load_foreign_keys via get_foreign_key_by_field
    //    (meser/utilities/get_foreign_key_by_field.py:96): map the org
    //    regno through the organization table's record map ([rec] when
    //    present, [] when absent — modeled as a BROADCAST left join, the
    //    driver-dict → join re-expression), then :45 merge_foreign_key
    //    unions pre-existing links; `list(set.union(...))` order is
    //    nondeterministic BY CONSTRUCTION in Python — pinned sorted here.
    //    The service map is 3 static config rows → a CASE, with
    //    'mol_daycare-2' absent to exercise the empty-map arm.
    //  - update_branch then runs clean_fields (astype(str) — which turns
    //    the link LISTS into python-repr strings "['recA', 'recB']") and
    //    :9 ensure_list_fields parses them BACK (strip brackets, split
    //    ',', strip spaces+quotes, drop empties). The engine replays the
    //    full round trip: organization_raw is the python-repr stage
    //    (pinning str() formatting) and organization/services the
    //    re-parsed '|'-joins — the oracle computes the join DIRECTLY
    //    from the list, so the hash gate genuinely checks the parser.
    //  - utilities/update.py:20 prepare_airtable_dataframe: project the
    //    prepared fields and dedup by id keep-LAST — pandas keeps input
    //    order, pinned here to the source row order (max o_orderkey
    //    wins); filter_valid_rows is a no-op ('source' is a non-empty
    //    constant on every row). (Missing address parts are modeled as
    //    absent/None → dropped; a pandas-NaN would be TRUTHY and inject
    //    the string 'nan' — a loader artifact, not a semantic, not
    //    modeled.)
    // Plan: map-only + one ≤700-row broadcast dim + the single keep-last
    // exchange through the TopKPerKey node (bounded heaps, no map-side
    // sort of the string-wide rows — the q139/q144 measured argument).
    "q146_daycare_branch_staging" -> QueryDef.of(
      """WITH src AS (
        |  SELECT o_orderkey AS ord, o_orderkey % 3000 AS sym,
        |    '5' || lpad(CAST(o_custkey % 700 AS VARCHAR), 8, '0') AS regno,
        |    'City ' || CAST(o_orderkey % 40 AS VARCHAR) AS city,
        |    CASE WHEN o_orderkey % 7 <> 0 THEN 'St ' || CAST(o_orderkey % 25 AS VARCHAR) END AS street,
        |    CASE WHEN o_orderkey % 3 <> 0 THEN o_orderkey % 121 END AS house,
        |    CASE WHEN o_orderkey % 4 <> 0 THEN 'Mgr ' || CAST(o_orderkey % 50 AS VARCHAR) END AS manager,
        |    '02-' || lpad(CAST(o_orderkey % 10000 AS VARCHAR), 7, '0') AS phone_numbers,
        |    CASE o_orderkey % 3 WHEN 0 THEN 'משפחתון' WHEN 1 THEN 'צהרון' ELSE 'מעון יום' END AS tdesc
        |  FROM orders),
        |orgmap AS (
        |  SELECT DISTINCT
        |    '5' || lpad(CAST(c_custkey % 700 AS VARCHAR), 8, '0') AS regno,
        |    'recO' || substr(md5('5' || lpad(CAST(c_custkey % 700 AS VARCHAR), 8, '0')), 1, 6) AS rec
        |  FROM customer WHERE (c_custkey % 700) % 3 <> 0),
        |t AS (
        |  SELECT s.*,
        |    'mol_daycare-' || substr(md5(CAST(s.sym AS VARCHAR) || s.regno), 1, 8) AS id,
        |    'מעון ' || CAST(s.sym AS VARCHAR) AS name,
        |    concat_ws(' ', s.city, s.street,
        |      CASE WHEN s.house IS NOT NULL AND s.house <> 0 THEN CAST(s.house AS VARCHAR) END) AS address,
        |    COALESCE(s.manager, '') || ' ' || chr(10) || ' ' ||
        |      CASE WHEN s.sym <> 0 THEN CAST(s.sym AS VARCHAR) ELSE '' END AS description,
        |    CASE s.tdesc WHEN 'משפחתון' THEN 'mol_daycare-1' WHEN 'צהרון' THEN 'mol_daycare-2'
        |         ELSE 'mol_daycare-0' END AS matcher,
        |    m.rec AS orgrec
        |  FROM src s LEFT JOIN orgmap m ON s.regno = m.regno),
        |fk AS (
        |  SELECT *,
        |    list_sort(list_filter([orgrec,
        |      CASE WHEN sym % 5 = 0 THEN 'recOLD' || CAST(sym % 97 AS VARCHAR) END],
        |      x -> x IS NOT NULL)) AS org_l,
        |    list_sort(list_filter([
        |      CASE matcher WHEN 'mol_daycare-0' THEN 'recS0' WHEN 'mol_daycare-1' THEN 'recS1' END,
        |      CASE WHEN sym % 7 = 0 THEN 'recSOLD' || CAST(sym % 13 AS VARCHAR) END],
        |      x -> x IS NOT NULL)) AS svc_l
        |  FROM t),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY ord DESC) AS rn FROM fk)
        |SELECT id, name, 'mol_daycare' AS source, address AS location, address, phone_numbers,
        |  description, 'ACTIVE' AS status,
        |  CASE WHEN len(org_l) = 0 THEN '[]'
        |       ELSE '[' || array_to_string(list_transform(org_l, x -> chr(39) || x || chr(39)), ', ') || ']'
        |  END AS organization_raw,
        |  COALESCE(array_to_string(org_l, '|'), '') AS organization,
        |  COALESCE(array_to_string(svc_l, '|'), '') AS services
        |FROM ranked WHERE rn = 1
        |""".stripMargin) { (s, dir) =>
      val o = col("o_orderkey")
      // lesson-4 hash compute spread (r11, measured): single-row-group
      // scan ran the whole staging chain as one ~1.4 s task; only the two
      // raw key columns ride the exchange (see q144's note).
      val src = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .transform(graft.operators.Relational.spreadForCompute(_, col("o_orderkey")))
        .select(
        o.as("ord"), (o % 3000).as("sym"),
        concat(lit("5"), lpad((col("o_custkey") % 700).cast("string"), 8, "0")).as("regno"),
        concat(lit("City "), (o % 40).cast("string")).as("city"),
        when(o % 7 =!= 0, concat(lit("St "), (o % 25).cast("string"))).as("street"),
        // 121 is coprime to the %3 presence gate, so house = 0 rows EXIST
        // (o=121,…) and the make_address falsy-drop arm is genuinely
        // exercised by the oracle — a %120 modulus made it dead code
        when(o % 3 =!= 0, o % 121).as("house"),
        when(o % 4 =!= 0, concat(lit("Mgr "), (o % 50).cast("string"))).as("manager"),
        concat(lit("02-"), lpad((o % 10000).cast("string"), 7, "0")).as("phone_numbers"),
        when(o % 3 === 0, lit("משפחתון")).when(o % 3 === 1, lit("צהרון"))
          .otherwise(lit("מעון יום")).as("tdesc"))
      val ck = col("c_custkey") % 700
      val orgMap = Tables.customer(s, dir).filter(ck % 3 =!= 0)
        .select(concat(lit("5"), lpad(ck.cast("string"), 8, "0")).as("regno")).distinct()
        .withColumn("rec", concat(lit("recO"), substring(md5(col("regno")), 1, 6)))
      val t = src.join(broadcast(orgMap), Seq("regno"), "left")
      val symS = col("sym").cast("string")
      val matcher = when(col("tdesc") === "משפחתון", lit("mol_daycare-1"))
        .when(col("tdesc") === "צהרון", lit("mol_daycare-2"))
        .otherwise(lit("mol_daycare-0"))
      val orgL = sort_array(filter(array(col("rec"),
        when(col("sym") % 5 === 0, concat(lit("recOLD"), (col("sym") % 97).cast("string")))),
        x => x.isNotNull))
      val svcL = sort_array(filter(array(
        when(matcher === "mol_daycare-0", lit("recS0"))
          .when(matcher === "mol_daycare-1", lit("recS1")),
        when(col("sym") % 7 === 0, concat(lit("recSOLD"), (col("sym") % 13).cast("string")))),
        x => x.isNotNull))
      // clean_fields' astype(str): a python list prints "['a', 'b']"
      def pyStr(l: Column): Column = when(size(l) === 0, lit("[]"))
        .otherwise(concat(lit("["),
          array_join(transform(l, x => concat(lit("'"), x, lit("'"))), ", "), lit("]")))
      // ensure_list_fields' str_to_list: '' / '[]' → []; else strip the
      // brackets, split ',', keep non-blank items, strip spaces then
      // quote runs from both ends
      def strToList(sc: Column): Column =
        when(sc.isNull || sc === "" || sc === "[]", array().cast("array<string>"))
          .otherwise(transform(
            filter(split(regexp_replace(sc, "^\\[|\\]$", ""), ","), x => trim(x) =!= ""),
            x => regexp_replace(trim(x), "^['\"]*|['\"]*$", "")))
      val staged = t.select(
        col("ord"),
        concat(lit("mol_daycare-"), substring(md5(concat(symS, col("regno"))), 1, 8)).as("id"),
        concat(lit("מעון "), symS).as("name"),
        lit("mol_daycare").as("source"),
        concat_ws(" ", col("city"), col("street"),
          when(col("house").isNotNull && col("house") =!= 0, col("house").cast("string"))).as("address"),
        col("phone_numbers"),
        concat(coalesce(col("manager"), lit("")), lit(" \n "),
          when(col("sym") =!= 0, symS).otherwise(lit(""))).as("description"),
        lit("ACTIVE").as("status"),
        pyStr(orgL).as("organization_raw"),
        pyStr(svcL).as("services_raw"))
      val parsed = staged
        .withColumn("organization", array_join(strToList(col("organization_raw")), "|"))
        .withColumn("services", array_join(strToList(col("services_raw")), "|"))
      graft.operators.TopK.topKPerKey(parsed, Seq(col("id")), Seq(col("ord").desc), 1)
        .select(col("id"), col("name"), col("source"), col("address").as("location"),
          col("address"), col("phone_numbers"), col("description"), col("status"),
          col("organization_raw"), col("organization"), col("services"))
    },

    // q147: the last three connector REMNANTS, one staging pass with an
    // arm per source (the q143 posture):
    //  - revaha/__init__.py:268 update_urls_from_db: a branch-urls
    //    datapackage becomes a code→urls dict probed per row — a
    //    BROADCAST left join here; a found url OVERWRITES the row's urls,
    //    a miss keeps them (`if urls:` — coalesce). rv_* columns.
    //  - soproc/__init__.py soprocServices: click_data extra keyed by
    //    catalog number (None catalog → no extra — the null join key
    //    simply misses); its data_sources string boxed to a list, the
    //    socialpro service url appended, each 'url#text' rendered to an
    //    <a> anchor (split at the FIRST '#' — the fixture has exactly
    //    one, so substring_index/split_part agree) and newline-joined;
    //    organizations = entity ids of ACTIVE suppliers in order
    //    (`suppliers or []` — a None list yields ''); office-name →
    //    hotline phone (רווחה 118 / בריאות *5400 / else none). The
    //    error-path (verifyDataExistance's >10-missing raise) is
    //    operational alerting, not a row transform — not modeled. sp_*.
    //  - tipat/__init__.py:23 ORGS + FIELD_MAP branch synthesis: the
    //    static ownership→org dict (:122 `[ORGS[r['ownerShip']]]`),
    //    local-vs-national service pick, normalize_address ladder
    //    (:96 — national → 'שירות ארצי'; street+number+city; street+
    //    city; city; district — a buildingNum of 0 is `or ''`-falsy and
    //    drops, the quirk kept), get_location (:112 — OLC-11 when BOTH
    //    coords are truthy, so x=0 falls back to the address; same digit
    //    peel as q137), per-code appointment url (national → None). tp_*.
    // Plan: one customer scan + TWO small broadcast dims (urls ≤800,
    // click ≤350 — driver-dict → broadcast-join re-expressions); the
    // probe side is map-only, zero shuffles at any scale (dim builds
    // aggregate inside their broadcast subtrees, the q140 allowance).
    "q147_remnant_staging" -> QueryDef.of {
      val ownerCase = TipatOrgs.zipWithIndex
        .map { case ((n, _), i) => s"WHEN $i THEN '$n'" }
        .mkString("CASE cid % 8 ", " ", " END")
      val orgCase = TipatOrgs
        .map { case (n, v) => s"WHEN '$n' THEN '$v'" }
        .mkString("CASE owner ", " ", " END")
      s"""WITH urld0 AS (
         |  SELECT DISTINCT s_suppkey % 800 AS rvnum FROM supplier
         |  WHERE (s_suppkey % 800) % 5 <> 3),
         |urld AS (
         |  SELECT 'revaha:' || CAST(rvnum AS VARCHAR) AS rv_id,
         |    'http://ex/rv/' || CAST(rvnum AS VARCHAR) AS rv_db_urls FROM urld0),
         |clickd0 AS (
         |  SELECT DISTINCT p_partkey % 350 AS catn FROM part
         |  WHERE (p_partkey % 350) % 4 <> 2),
         |clickd AS (
         |  SELECT CAST(catn AS VARCHAR) AS cat,
         |    CASE WHEN catn % 3 <> 0 THEN 'http://ex/click/' || CAST(catn AS VARCHAR) || '#מקור רכש' END AS click_ds
         |  FROM clickd0),
         |b AS (
         |  SELECT c_custkey AS cid,
         |    'revaha:' || CAST(c_custkey % 800 AS VARCHAR) AS rv_id,
         |    CASE WHEN c_custkey % 3 <> 0 THEN 'http://ex/old/' || CAST(c_custkey % 97 AS VARCHAR) END AS rv_old_urls,
         |    CAST(c_custkey % 2500 AS VARCHAR) AS sid,
         |    CASE WHEN c_custkey % 9 <> 4 THEN CAST(c_custkey % 350 AS VARCHAR) END AS cat
         |  FROM customer),
         |j AS (
         |  SELECT b.*, u.rv_db_urls, c.click_ds
         |  FROM b LEFT JOIN urld u ON b.rv_id = u.rv_id
         |         LEFT JOIN clickd c ON b.cat = c.cat),
         |t AS (
         |  SELECT *,
         |    CASE WHEN cid % 1200 = 0 THEN 'national' ELSE CAST(cid % 1200 AS VARCHAR) END AS code,
         |    CASE WHEN cid % 10 <> 9 THEN 'עיר ' || CAST(cid % 40 AS VARCHAR) END AS city,
         |    CASE WHEN cid % 3 <> 0 THEN 'רחוב ' || CAST(cid % 30 AS VARCHAR) END AS street,
         |    CASE WHEN cid % 4 <> 0 THEN cid % 91 END AS bnum,
         |    'מחוז ' || CAST(cid % 7 AS VARCHAR) AS district,
         |    CASE WHEN cid % 6 IN (1, 2, 3) THEN 34.5e0 + (cid % 80) * 1e-2
         |         WHEN cid % 6 = 4 THEN 0e0 END AS tx,
         |    CASE WHEN cid % 6 IN (1, 2, 3, 4) THEN 31e0 + (cid % 100) * 1e-2 END AS ty
         |  FROM j),
         |t2 AS (
         |  SELECT *,
         |    CASE WHEN code = 'national' THEN '$NationalSvc'
         |         WHEN city IS NOT NULL AND street IS NOT NULL AND bnum IS NOT NULL AND bnum <> 0
         |           THEN street || ' ' || CAST(bnum AS VARCHAR) || ', ' || city
         |         WHEN city IS NOT NULL AND street IS NOT NULL THEN street || ', ' || city
         |         WHEN city IS NOT NULL THEN city
         |         ELSE district END AS tp_address,
         |    CASE WHEN code = 'national' THEN 'משרד הבריאות' ELSE ($ownerCase) END AS owner
         |  FROM t)
         |SELECT cid,
         |  COALESCE(rv_db_urls, rv_old_urls) AS rv_urls,
         |  'soproc:' || sid AS sp_id,
         |  CASE WHEN cid % 13 <> 6 THEN 'Svc desc ' || CAST(cid % 400 AS VARCHAR) ELSE '' END AS sp_description,
         |  COALESCE(array_to_string(list_filter([
         |    CASE WHEN cid % 11 <> 7 AND cid % 2 = 0 THEN '5' || lpad(CAST(cid % 900 AS VARCHAR), 8, '0') END,
         |    CASE WHEN cid % 11 <> 7 AND cid % 4 <> 1 AND cid % 3 = 0 THEN '6' || lpad(CAST(cid % 700 AS VARCHAR), 8, '0') END,
         |    CASE WHEN cid % 11 <> 7 AND cid % 5 = 0 THEN '7' || lpad(CAST(cid % 500 AS VARCHAR), 8, '0') END],
         |    x -> x IS NOT NULL), '|'), '') AS sp_organizations,
         |  array_to_string(list_transform(
         |    list_filter([click_ds, '$SoprocUrl' || sid || '#$SoprocTag'], x -> x IS NOT NULL),
         |    ds -> '<a href="' || split_part(ds, '#', 1) || '" target="_blank">' || split_part(ds, '#', 2) || '</a>'),
         |    chr(10)) AS sp_data_sources,
         |  CASE WHEN cid % 5 = 0 THEN '118' WHEN cid % 5 = 1 THEN '*5400' END AS sp_phone,
         |  'tipat-halav:' || code AS tp_id,
         |  CASE WHEN code = 'national' THEN '$TipatNatName' ELSE 'תחנה ' || CAST(cid % 1200 AS VARCHAR) END AS tp_name,
         |  ($orgCase) AS tp_org,
         |  CASE WHEN code = 'national' THEN 'tipat-halav-2' ELSE 'tipat-halav-1' END AS tp_service,
         |  tp_address,
         |  CASE WHEN tx IS NOT NULL AND tx <> 0 AND ty IS NOT NULL AND ty <> 0
         |       THEN ${Olc.Sql.encode11("ty", "tx")} ELSE tp_address END AS tp_location,
         |  CASE WHEN code <> 'national' THEN '$TipatItemUrl' || code END AS tp_urls
         |FROM t2
         |""".stripMargin
    } { (s, dir) =>
      val k = col("c_custkey")
      val rvn = col("s_suppkey") % 800
      val urlDim = Tables.supplier(s, dir).filter(rvn % 5 =!= 3)
        .select(rvn.as("rvnum")).distinct()
        .select(concat(lit("revaha:"), col("rvnum").cast("string")).as("rv_id"),
          concat(lit("http://ex/rv/"), col("rvnum").cast("string")).as("rv_db_urls"))
      val catn = col("p_partkey") % 350
      val clickDim = Tables.part(s, dir).filter(catn % 4 =!= 2)
        .select(catn.as("catn")).distinct()
        .select(col("catn").cast("string").as("cat"),
          when(col("catn") % 3 =!= 0,
            concat(lit("http://ex/click/"), col("catn").cast("string"), lit("#מקור רכש"))).as("click_ds"))
      val base = Tables.customer(s, dir).select(k.as("cid"),
        concat(lit("revaha:"), (k % 800).cast("string")).as("rv_id"),
        when(k % 3 =!= 0, concat(lit("http://ex/old/"), (k % 97).cast("string"))).as("rv_old_urls"),
        (k % 2500).cast("string").as("sid"),
        when(k % 9 =!= 4, (k % 350).cast("string")).as("cat"))
      val j = base
        .join(broadcast(urlDim), Seq("rv_id"), "left")
        .join(broadcast(clickDim), Seq("cat"), "left")
      val c = col("cid")
      def cs(m: Int) = (c % m).cast("string")
      val code = when(c % 1200 === 0, lit("national")).otherwise(cs(1200))
      val city = when(c % 10 =!= 9, concat(lit("עיר "), cs(40)))
      val street = when(c % 3 =!= 0, concat(lit("רחוב "), cs(30)))
      // 91 is coprime to the street gate's %3, so bnum = 0 coexists with
      // a street and the `or ''`-falsy drop arm is genuinely exercised
      val bnum = when(c % 4 =!= 0, c % 91)
      val district = concat(lit("מחוז "), cs(7))
      val tpAddress = when(code === "national", lit(NationalSvc))
        .when(city.isNotNull && street.isNotNull && bnum.isNotNull && bnum =!= 0,
          concat(street, lit(" "), bnum.cast("string"), lit(", "), city))
        .when(city.isNotNull && street.isNotNull, concat(street, lit(", "), city))
        .when(city.isNotNull, city)
        .otherwise(district)
      val owner = when(code === "national", lit("משרד הבריאות")).otherwise(
        TipatOrgs.zipWithIndex.tail.foldLeft(
          when(c % 8 === 0, lit(TipatOrgs.head._1))) { case (acc, ((n, _), i)) =>
          acc.when(c % 8 === i, lit(n))
        })
      // the ORGS dict lookup, keyed on the NAME (as the reference does)
      val tpOrg = TipatOrgs.tail.foldLeft(
        when(owner === TipatOrgs.head._1, lit(TipatOrgs.head._2))) { case (acc, (n, v)) =>
        acc.when(owner === n, lit(v))
      }
      val tx = when((c % 6).isin(1, 2, 3), lit(34.5) + (c % 80).cast("double") * lit(0.01))
        .when(c % 6 === 4, lit(0.0))
      val ty = when((c % 6).isin(1, 2, 3, 4), lit(31.0) + (c % 100).cast("double") * lit(0.01))
      def anchor(u: Column): Column = concat(
        lit("<a href=\""), substring_index(u, "#", 1),
        lit("\" target=\"_blank\">"), substring_index(u, "#", -1), lit("</a>"))
      j.select(c,
        coalesce(col("rv_db_urls"), col("rv_old_urls")).as("rv_urls"),
        concat(lit("soproc:"), col("sid")).as("sp_id"),
        when(c % 13 =!= 6, concat(lit("Svc desc "), cs(400))).otherwise(lit("")).as("sp_description"),
        array_join(filter(array(
          when(c % 11 =!= 7 && c % 2 === 0, concat(lit("5"), lpad(cs(900), 8, "0"))),
          when(c % 11 =!= 7 && c % 4 =!= 1 && c % 3 === 0, concat(lit("6"), lpad(cs(700), 8, "0"))),
          when(c % 11 =!= 7 && c % 5 === 0, concat(lit("7"), lpad(cs(500), 8, "0")))),
          x => x.isNotNull), "|").as("sp_organizations"),
        array_join(transform(filter(array(col("click_ds"),
          concat(lit(SoprocUrl), col("sid"), lit("#" + SoprocTag))),
          x => x.isNotNull), u => anchor(u)), "\n").as("sp_data_sources"),
        when(c % 5 === 0, lit("118")).when(c % 5 === 1, lit("*5400")).as("sp_phone"),
        concat(lit("tipat-halav:"), code).as("tp_id"),
        when(code === "national", lit(TipatNatName))
          .otherwise(concat(lit("תחנה "), cs(1200))).as("tp_name"),
        tpOrg.as("tp_org"),
        when(code === "national", lit("tipat-halav-2"))
          .otherwise(lit("tipat-halav-1")).as("tp_service"),
        tpAddress.as("tp_address"),
        when(tx.isNotNull && tx =!= 0.0 && ty.isNotNull && ty =!= 0.0,
          Olc.encode11(ty, tx)).otherwise(tpAddress).as("tp_location"),
        when(code =!= "national", concat(lit(TipatItemUrl), code)).as("tp_urls"))
    },

    // q154: STATUS RECONCILIATION (operators/meser/utilities/
    // trigger_status_check.py — the sync step every update_* flow runs
    // before its upsert: day_care, child_care, meser org/branch/service).
    // The offline math (the Airtable I/O halves stay out of scope):
    //  - :7 fetch_airtable_records builds key -> (id, status) over the
    //    STORED table with the reference's exact key-extraction ladder:
    //    a LIST value takes its first element, an EMPTY list drops the
    //    record (isinstance(str) fails on []), a string is strip()ped and
    //    drops when empty, a missing value drops, and a NUMERIC value
    //    drops too (there is no int branch — the isinstance(str) quirk);
    //    records scope to fields['source'] == only_from_source; duplicate
    //    keys LAST-WINS (dict overwrite in table.all() fetch order).
    //  - :43 build_status_update_dataframe emits ONLY deactivations:
    //    stored keys absent from the staged batch whose current status
    //    differs from the inactive value (a NULL status differs — Python
    //    None != 'INACTIVE'). The docstring claims actives are synced
    //    too; the code never emits them — the CODE's contract is pinned.
    //  - staged keys are df[key].dropna().astype(str) — a set-membership
    //    probe, re-expressed as a broadcast LEFT ANTI join (the
    //    driver-dict -> join re-expression; at 100 TB the staged set
    //    rides a bloom filter, q125's posture).
    // Plan: stored scan projects (key, status, ord) only; keep-last
    // routes through the TopKPerKey node (bounded heaps — lesson 41's
    // keep-first argument, mirrored for keep-last); one keys-only
    // exchange + one broadcast anti join, nothing row-width ever moves.
    "q154_status_sync" -> QueryDef.of(
      """WITH stored AS (
        |  SELECT c_custkey AS ord, c_custkey % 7 AS vt,
        |    'M' || CAST(c_custkey % 450 AS VARCHAR) AS skey,
        |    CASE WHEN c_custkey % 5 = 2 THEN 'other' ELSE 'meser' END AS source,
        |    CASE c_custkey % 4 WHEN 0 THEN 'ACTIVE' WHEN 1 THEN 'INACTIVE'
        |         WHEN 3 THEN 'ACTIVE' END AS status
        |  FROM customer),
        |extracted AS (
        |  SELECT ord, source, status,
        |    nullif(trim(CASE vt WHEN 0 THEN skey
        |                        WHEN 2 THEN '  ' || skey || ' '
        |                        WHEN 6 THEN skey END), '') AS key
        |  FROM stored),
        |scoped AS (
        |  SELECT * FROM extracted WHERE key IS NOT NULL AND source = 'meser'),
        |last_wins AS (
        |  SELECT key, status FROM (
        |    SELECT key, status,
        |      row_number() OVER (PARTITION BY key ORDER BY ord DESC) AS rn
        |    FROM scoped) WHERE rn = 1),
        |staged AS (
        |  SELECT DISTINCT 'M' || CAST(o_custkey % 600 AS VARCHAR) AS key
        |  FROM orders
        |  WHERE o_orderkey % 3 = 0 AND (o_custkey % 600) % 3 <> 1 AND o_orderkey % 11 <> 5)
        |SELECT l.key AS id, l.status AS prior_status, 'INACTIVE' AS status
        |FROM last_wins l LEFT JOIN staged s ON l.key = s.key
        |WHERE s.key IS NULL AND l.status IS DISTINCT FROM 'INACTIVE'
        |""".stripMargin) { (s, dir) =>
      val k = col("c_custkey")
      val vt = k % 7
      val skey = concat(lit("M"), (k % 450).cast("string"))
      // The stored table's raw key value is DYNAMICALLY typed in the
      // reference (Airtable cell: list / string / number / missing); one
      // column per shape here, exactly one non-null per row, and the
      // extraction ladder replays fetch_airtable_records:34-39 verbatim.
      val rawArr = when(vt === 0, array(skey, lit("alt")))
        .when(vt === 1, array().cast("array<string>"))
      val rawNum = when(vt === 5, k)
      val rawStr = when(vt === 2, concat(lit("  "), skey, lit(" ")))
        .when(vt === 3, lit("   "))
        .when(vt === 6, skey)
      val stored = Tables.customer(s, dir).select(
        k.as("ord"), rawArr.as("raw_l"), rawNum.as("raw_n"), rawStr.as("raw_s"),
        when(k % 5 === 2, lit("other")).otherwise(lit("meser")).as("source"),
        when(k % 4 === 0, lit("ACTIVE")).when(k % 4 === 1, lit("INACTIVE"))
          .when(k % 4 === 3, lit("ACTIVE")).as("status"))
      val candidate = when(col("raw_l").isNotNull && size(col("raw_l")) > 0,
          element_at(col("raw_l"), 1))                     // list -> first
        .when(col("raw_l").isNotNull, lit(null).cast("string")) // [] drops
        .when(col("raw_n").isNotNull, lit(null).cast("string")) // int drops
        .otherwise(col("raw_s"))
      val keyed = stored
        .withColumn("key", when(length(trim(candidate)) > 0, trim(candidate)))
        .filter(col("key").isNotNull && col("source") === "meser")
        .select(col("key"), col("status"), col("ord"))
      val o = col("o_custkey") % 600
      val staged = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 3 === 0 && o % 3 =!= 1 && col("o_orderkey") % 11 =!= 5)
        .select(concat(lit("M"), o.cast("string")).as("key"))
      // the reconcile itself is the shared operator — the streaming twin
      // (SyncStreams.statusSyncSink) runs the SAME code once per batch
      graft.operators.StatusSync.reconcile(keyed, staged)
    },

    // q155: the meser BRANCH publish aggregate (operators/meser/
    // update_branch.py:10 update_airtable_branches_from_df) on top of the
    // combine shape q142 models, plus run()'s organization-id gate
    // (meser/__init__.py:214 — str len BETWEEN 5 AND 15, dropping the
    // too-short/too-long business numbers before every update flow):
    //  - FK map (get_foreign_key_by_field:29): each organization_id maps
    //    through the org table's record map to [recId] or [] — the
    //    driver-dict -> BROADCAST left-join re-expression (q146's arm).
    //    The :45 merge-with-existing step is a documented NO-OP here:
    //    merge_foreign_key keys on row['id'], a column the branch frame
    //    does not have, so existing_map.get('None') never hits and the
    //    merged list is exactly the newly-mapped one — the reference
    //    BUG's behavior is pinned, not "fixed" (contrast q146, where the
    //    service frame HAS 'id' and the merge genuinely unions).
    //  - :38 groupby branch_id: `organization` is the SET of mapped rec
    //    ids over the group with falsy drops — list(set) order is
    //    nondeterministic in Python, pinned sorted here (q146's pin);
    //    `address` is pandas groupby-first = first NON-NULL in row
    //    order (the DuckDB arg_min null-skip IS that contract; Spark's
    //    min_by keeps nulls, so the engine side min's a null-guarded
    //    (ord, addr) struct — the min_by parity trap, inverted);
    //    `phone_numbers` joins the group's phones ', ' in ROW ORDER,
    //    dropping blank and literal-'0' entries, duplicates KEPT.
    //  - enrich: source/status constants, location copies address.
    // Plan: one broadcast dim probe + ONE exchange on branch_id; the
    // only buffered state is the per-group rec set and phone list
    // (bounded by group size); nothing re-scans, nothing sorts map-side.
    "q155_meser_branch_publish" -> QueryDef.of(
      """WITH dim0 AS (
        |  SELECT DISTINCT '5' || lpad(CAST(c_custkey % 700 AS VARCHAR), 8, '0') AS org
        |  FROM customer WHERE (c_custkey % 700) % 3 <> 0
        |  UNION
        |  SELECT DISTINCT '6' || lpad(CAST(c_custkey % 500 AS VARCHAR), 8, '0')
        |  FROM customer WHERE (c_custkey % 500) % 4 <> 1
        |  UNION SELECT '500106406'),
        |dim AS (SELECT org, 'recO' || substr(md5(org), 1, 6) AS rec FROM dim0),
        |b AS (
        |  SELECT o_orderkey AS ord,
        |    'meser-b-' || CAST(o_orderkey % 2500 AS VARCHAR) AS branch_id,
        |    CASE o_orderkey % 6
        |      WHEN 0 THEN '123' WHEN 1 THEN '500106406'
        |      WHEN 2 THEN '5' || lpad(CAST(o_orderkey % 700 AS VARCHAR), 8, '0')
        |      WHEN 3 THEN '1234567890123456'
        |      ELSE '6' || lpad(CAST(o_orderkey % 500 AS VARCHAR), 8, '0') END AS org,
        |    CASE WHEN o_orderkey % 5 <> 0 THEN 'Addr ' || CAST(o_orderkey % 300 AS VARCHAR) END AS address,
        |    CASE o_orderkey % 7 WHEN 0 THEN '' WHEN 1 THEN '0' WHEN 2 THEN NULL
        |      ELSE '05' || lpad(CAST(o_orderkey % 10000 AS VARCHAR), 7, '0') END AS phone
        |  FROM orders),
        |gated AS (SELECT * FROM b WHERE length(org) BETWEEN 5 AND 15),
        |mapped AS (SELECT g.*, d.rec FROM gated g LEFT JOIN dim d ON g.org = d.org),
        |agg AS (
        |  SELECT branch_id,
        |    COALESCE(array_to_string(list_sort(list_distinct(
        |      list(rec ORDER BY ord) FILTER (WHERE rec IS NOT NULL))), '|'), '') AS organization,
        |    arg_min(address, ord) AS address,
        |    COALESCE(array_to_string(
        |      list(phone ORDER BY ord) FILTER (WHERE phone IS NOT NULL AND trim(phone) NOT IN ('', '0')),
        |      ', '), '') AS phone_numbers
        |  FROM mapped GROUP BY branch_id)
        |SELECT branch_id, organization, address, address AS location, phone_numbers,
        |  'meser' AS source, 'ACTIVE' AS status
        |FROM agg
        |""".stripMargin) { (s, dir) =>
      val c7 = col("c_custkey") % 700
      val d5 = Tables.customer(s, dir).filter(c7 % 3 =!= 0)
        .select(concat(lit("5"), lpad(c7.cast("string"), 8, "0")).as("org")).distinct()
      val c5 = col("c_custkey") % 500
      val d6 = Tables.customer(s, dir).filter(c5 % 4 =!= 1)
        .select(concat(lit("6"), lpad(c5.cast("string"), 8, "0")).as("org")).distinct()
      val dConst = s.range(1).select(lit("500106406").as("org"))
      // UNION (not UNION ALL) in the oracle: the arms are prefix-disjoint
      // so the final distinct is a no-op, kept for literal parity.
      val dim = d5.unionByName(d6).unionByName(dConst).distinct()
        .withColumn("rec", concat(lit("recO"), substring(md5(col("org")), 1, 6)))
      val o = col("o_orderkey")
      val base = Tables.orders(s, dir).select(
        o.as("ord"),
        concat(lit("meser-b-"), (o % 2500).cast("string")).as("branch_id"),
        when(o % 6 === 0, lit("123")).when(o % 6 === 1, lit("500106406"))
          .when(o % 6 === 2, concat(lit("5"), lpad((o % 700).cast("string"), 8, "0")))
          .when(o % 6 === 3, lit("1234567890123456"))
          .otherwise(concat(lit("6"), lpad((o % 500).cast("string"), 8, "0"))).as("org"),
        when(o % 5 =!= 0, concat(lit("Addr "), (o % 300).cast("string"))).as("address"),
        when(o % 7 === 0, lit("")).when(o % 7 === 1, lit("0"))
          .when(o % 7 === 2, lit(null).cast("string"))
          .otherwise(concat(lit("05"), lpad((o % 10000).cast("string"), 7, "0"))).as("phone"))
      val mapped = base.filter(length(col("org")).between(5, 15))
        .join(broadcast(dim), Seq("org"), "left")
      val phoneKeep = col("phone").isNotNull && !trim(col("phone")).isin("", "0")
      mapped.groupBy(col("branch_id")).agg(
          array_join(sort_array(collect_set(col("rec"))), "|").as("organization"),
          // pandas groupby-first skips NaN: min over a null-guarded
          // (ord, addr) struct finds the first non-null in row order
          // (Spark's min_by would keep the null at the smallest ord)
          min(when(col("address").isNotNull,
            struct(col("ord").as("o"), col("address").as("a")))).getField("a").as("address"),
          array_join(transform(
            array_sort(collect_list(when(phoneKeep,
              struct(col("ord").as("o"), col("phone").as("p"))))),
            x => x.getField("p")), ", ").as("phone_numbers"))
        .select(col("branch_id"), col("organization"), col("address"),
          col("address").as("location"), col("phone_numbers"),
          lit("meser").as("source"), lit("ACTIVE").as("status"))
    },

    // q156: the SMALL-STAGING remnants — the last five row-level
    // transforms in the reference without a query, one scan, five arms
    // (plus two static rows), q147's several-sources-one-pass posture:
    //  - dc_org (day_care/update_organization.py:9 setup_kind, :18
    //    rename, :27 astype(str) + len>=5 gate): council regex CONTAINS
    //    match ('מועצה מקומית|מועצה אזורית', na=False — a NULL name is
    //    private) -> kind; short business numbers drop.
    //  - cc_svc (child_care/update_service.py:34): id is 'meonot-' +
    //    hash(str(name)[-5:]) — python's [-5:] returns the WHOLE string
    //    when shorter, replayed with right(.,5) / a length guard; the
    //    sector dict maps to situations in its literal LIST order;
    //    details is '' for the default sector, a prefixed sector string
    //    otherwise (np.where, both branches pinned).
    //  - dc_static (day_care/update_service.py:9): the two literal
    //    service records appended to an empty frame (name/responses/
    //    situations; the long description prose stays in the reference).
    //  - rv_urls (revaha/process_urls_gsheet.py:6 calc_urls): the two
    //    language-site fields join as url#field-label lines, ARABIC
    //    field first (the loop's tuple order); falsy urls ('' or
    //    missing) drop; no urls at all -> '' (join of empty list).
    //  - ms_sanitize (meser/__init__.py:151 sanitize_for_airtable):
    //    numeric columns coerce -> TRUNCATE toward zero -> fillna(0)
    //    (python int(12.5)=12 — DuckDB CAST rounds, so the oracle goes
    //    through trunc(); '-1' in a NUMERIC column survives, the magic
    //    list only nulls the else-branch strings); dates parse dayfirst
    //    (%d/%m/%Y) with errors='coerce' -> ISO or NULL; other columns
    //    null the MISSING_VALUES magic literals.
    //  - ms_org_flat (meser/update_organization.py:11 clean_fields):
    //    dynamic-typed situations — a LIST joins ', ' (an EMPTY list is
    //    still a list -> ''), a truthy string passes through, falsy
    //    (''/None) -> ''.
    // Plan: ONE customer scan, all arms map-side into an array-of-struct
    // explode (row count x5, column-pruned to cid), union with a 2-row
    // literal frame; zero joins, zero exchanges. The oracle replays as
    // UNION ALL arms — same multiset, engine-appropriate shape.
    "q156_small_staging" -> QueryDef.of {
      val ccSitCase = CcSectors.map { case (n, v) => s"WHEN '$n' THEN '$v'" }
        .mkString("CASE sector ", " ", " END")
      val msMissingSql = MsMissing.map(v => s"'$v'").mkString("(", ", ", ")")
      s"""WITH c AS (SELECT c_custkey AS cid FROM customer),
         |dc AS (
         |  SELECT CASE WHEN cid % 4 = 0 THEN CAST(cid % 90 AS VARCHAR)
         |              ELSE '5' || lpad(CAST(cid % 800 AS VARCHAR), 7, '0') END AS id,
         |    CASE cid % 6 WHEN 0 THEN 'מועצה מקומית עיר ' || CAST(cid % 40 AS VARCHAR)
         |                 WHEN 1 THEN 'מועצה אזורית אזור ' || CAST(cid % 15 AS VARCHAR)
         |                 WHEN 2 THEN 'ארגון מועצה'
         |                 WHEN 4 THEN 'חברה ' || CAST(cid % 50 AS VARCHAR)
         |                 WHEN 5 THEN 'חברה ' || CAST(cid % 50 AS VARCHAR) END AS name
         |  FROM c),
         |cc AS (
         |  SELECT cid,
         |    CASE WHEN cid % 9 = 0 THEN CAST(cid % 90 AS VARCHAR)
         |         ELSE 'מעון ' || CAST(cid % 3000 AS VARCHAR) END AS name_sym,
         |    CASE cid % 5 WHEN 0 THEN 'יהודי' WHEN 1 THEN 'ערבי' WHEN 2 THEN 'בדואי'
         |                 WHEN 3 THEN 'דרוזי' ELSE 'צרקסי' END AS sector
         |  FROM c),
         |rv AS (
         |  SELECT cid,
         |    CASE WHEN cid % 4 IN (1, 2) THEN 'http://ex/ar/' || CAST(cid % 89 AS VARCHAR)
         |         WHEN cid % 4 = 3 THEN '' END AS url_ar,
         |    CASE WHEN cid % 3 <> 0 THEN 'http://ex/he/' || CAST(cid % 97 AS VARCHAR) END AS url_he
         |  FROM c),
         |ms AS (
         |  SELECT cid,
         |    CASE cid % 5 WHEN 0 THEN '' WHEN 1 THEN 'x12' WHEN 2 THEN '-1'
         |                 WHEN 3 THEN CAST(cid % 80 AS VARCHAR) ELSE '12.5' END AS cap_raw,
         |    CASE cid % 4 WHEN 0 THEN lpad(CAST(1 + cid % 28 AS VARCHAR), 2, '0') || '/' ||
         |                             lpad(CAST(1 + cid % 12 AS VARCHAR), 2, '0') || '/20' ||
         |                             lpad(CAST(cid % 30 AS VARCHAR), 2, '0')
         |                 WHEN 1 THEN 'garbage' WHEN 2 THEN '' END AS startd_raw,
         |    CASE cid % 6 WHEN 0 THEN 'NULL' WHEN 1 THEN '-1' WHEN 2 THEN 'לא ידוע'
         |                 WHEN 3 THEN 'לא משויך' WHEN 4 THEN 'רב תכליתי'
         |                 ELSE 'מחלקה ' || CAST(cid % 9 AS VARCHAR) END AS owner_raw
         |  FROM c),
         |mf AS (
         |  SELECT cid,
         |    CASE WHEN cid % 5 = 0 THEN ['hs:s' || CAST(cid % 11 AS VARCHAR), 'hs:t' || CAST(cid % 7 AS VARCHAR)]
         |         WHEN cid % 5 = 1 THEN []::VARCHAR[] END AS sit_l,
         |    CASE WHEN cid % 5 = 2 THEN 'hs:u' || CAST(cid % 13 AS VARCHAR)
         |         WHEN cid % 5 = 3 THEN '' END AS sit_s
         |  FROM c)
         |SELECT 'dc_org' AS arm, id, name,
         |  CASE WHEN name IS NOT NULL AND regexp_matches(name, '$DcCouncilRe')
         |       THEN '$DcKindCouncil' ELSE '$DcKindPrivate' END AS extra1,
         |  CAST(NULL AS VARCHAR) AS extra2
         |FROM dc WHERE length(id) >= 5
         |UNION ALL
         |SELECT 'cc_svc', 'meonot-' || substr(md5(right(name_sym, 5)), 1, 8), '$CcSvcName',
         |  CASE WHEN sector = 'יהודי' THEN '' ELSE '$CcDetailsPrefix' || sector END,
         |  $ccSitCase
         |FROM cc
         |UNION ALL
         |SELECT 'rv_urls', 'rv' || CAST(cid % 300 AS VARCHAR), CAST(NULL AS VARCHAR),
         |  COALESCE(array_to_string(list_filter([
         |    CASE WHEN url_ar IS NOT NULL AND url_ar <> '' THEN url_ar || '#$RvLabelAr' END,
         |    CASE WHEN url_he IS NOT NULL AND url_he <> '' THEN url_he || '#$RvLabelHe' END],
         |    x -> x IS NOT NULL), chr(10)), ''),
         |  CAST(NULL AS VARCHAR)
         |FROM rv
         |UNION ALL
         |SELECT 'ms_sanitize', 'ms' || CAST(cid AS VARCHAR),
         |  CASE WHEN owner_raw IN $msMissingSql THEN NULL ELSE owner_raw END,
         |  CAST(COALESCE(CAST(trunc(TRY_CAST(cap_raw AS DOUBLE)) AS BIGINT), 0) AS VARCHAR),
         |  strftime(try_strptime(startd_raw, '%d/%m/%Y'), '%Y-%m-%d')
         |FROM ms
         |UNION ALL
         |SELECT 'ms_org_flat', 'mo' || CAST(cid AS VARCHAR), CAST(NULL AS VARCHAR),
         |  CASE WHEN sit_l IS NOT NULL THEN COALESCE(array_to_string(sit_l, ', '), '')
         |       WHEN sit_s IS NOT NULL AND sit_s <> '' THEN sit_s ELSE '' END,
         |  CAST(NULL AS VARCHAR)
         |FROM mf
         |UNION ALL SELECT 'dc_static', '${DcStatic(0)._1}', '${DcStatic(0)._2}', '${DcStatic(0)._3}', '${DcStatic(0)._4}'
         |UNION ALL SELECT 'dc_static', '${DcStatic(1)._1}', '${DcStatic(1)._2}', '${DcStatic(1)._3}', '${DcStatic(1)._4}'
         |""".stripMargin
    } { (s, dir) =>
      val nullS = lit(null).cast("string")
      val base0 = Tables.customer(s, dir).select(col("c_custkey").as("cid"))
      val k = col("cid")
      def csn(m: Int) = (k % m).cast("string")
      val sector = when(k % 5 === 0, lit("יהודי")).when(k % 5 === 1, lit("ערבי"))
        .when(k % 5 === 2, lit("בדואי")).when(k % 5 === 3, lit("דרוזי"))
        .otherwise(lit("צרקסי"))
      val withCols = base0
        .withColumn("dc_id",
          when(k % 4 === 0, csn(90)).otherwise(concat(lit("5"), lpad(csn(800), 7, "0"))))
        .withColumn("dc_name",
          when(k % 6 === 0, concat(lit("מועצה מקומית עיר "), csn(40)))
            .when(k % 6 === 1, concat(lit("מועצה אזורית אזור "), csn(15)))
            .when(k % 6 === 2, lit("ארגון מועצה"))
            .when(k % 6 === 4, concat(lit("חברה "), csn(50)))
            .when(k % 6 === 5, concat(lit("חברה "), csn(50))))
        .withColumn("cc_sym",
          when(k % 9 === 0, csn(90)).otherwise(concat(lit("מעון "), csn(3000))))
        .withColumn("sector", sector)
        .withColumn("url_ar",
          when((k % 4).isin(1, 2), concat(lit("http://ex/ar/"), csn(89)))
            .when(k % 4 === 3, lit("")))
        .withColumn("url_he", when(k % 3 =!= 0, concat(lit("http://ex/he/"), csn(97))))
        .withColumn("cap_raw",
          when(k % 5 === 0, lit("")).when(k % 5 === 1, lit("x12"))
            .when(k % 5 === 2, lit("-1")).when(k % 5 === 3, csn(80))
            .otherwise(lit("12.5")))
        .withColumn("startd_raw",
          when(k % 4 === 0, concat(
            lpad((k % 28 + 1).cast("string"), 2, "0"), lit("/"),
            lpad((k % 12 + 1).cast("string"), 2, "0"), lit("/20"),
            lpad(csn(30), 2, "0")))
            .when(k % 4 === 1, lit("garbage")).when(k % 4 === 2, lit("")))
        .withColumn("owner_raw",
          when(k % 6 === 0, lit("NULL")).when(k % 6 === 1, lit("-1"))
            .when(k % 6 === 2, lit("לא ידוע")).when(k % 6 === 3, lit("לא משויך"))
            .when(k % 6 === 4, lit("רב תכליתי"))
            .otherwise(concat(lit("מחלקה "), csn(9))))
        .withColumn("sit_l",
          when(k % 5 === 0, array(concat(lit("hs:s"), csn(11)), concat(lit("hs:t"), csn(7))))
            .when(k % 5 === 1, array().cast("array<string>")))
        .withColumn("sit_s",
          when(k % 5 === 2, concat(lit("hs:u"), csn(13))).when(k % 5 === 3, lit("")))
      val dcKind = when(col("dc_name").isNotNull && col("dc_name").rlike(DcCouncilRe),
        lit(DcKindCouncil)).otherwise(lit(DcKindPrivate))
      val ccDetails = when(col("sector") === "יהודי", lit(""))
        .otherwise(concat(lit(CcDetailsPrefix), col("sector")))
      val ccSit = CcSectors.tail.foldLeft(
        when(col("sector") === CcSectors.head._1, lit(CcSectors.head._2))) {
        case (acc, (n, v)) => acc.when(col("sector") === n, lit(v))
      }
      val rvJoined = array_join(filter(array(
        when(col("url_ar").isNotNull && col("url_ar") =!= "",
          concat(col("url_ar"), lit("#" + RvLabelAr))),
        when(col("url_he").isNotNull && col("url_he") =!= "",
          concat(col("url_he"), lit("#" + RvLabelHe)))),
        x => x.isNotNull), "\n")
      val msOwner = when(col("owner_raw").isin(MsMissing: _*), nullS)
        .otherwise(col("owner_raw"))
      // python int() TRUNCATES toward zero; double->long cast does too
      val msCap = coalesce(expr("try_cast(cap_raw AS double)").cast("long"), lit(0L))
        .cast("string")
      val msDate = date_format(
        expr("try_to_timestamp(startd_raw, 'dd/MM/yyyy')"), "yyyy-MM-dd")
      val mfFlat = when(col("sit_l").isNotNull, array_join(col("sit_l"), ", "))
        .when(col("sit_s").isNotNull && col("sit_s") =!= "", col("sit_s"))
        .otherwise(lit(""))
      def armS(tag: String, id: Column, name: Column, e1: Column, e2: Column) =
        struct(lit(tag).as("arm"), id.cast("string").as("id"),
          name.cast("string").as("name"), e1.cast("string").as("extra1"),
          e2.cast("string").as("extra2"))
      val rows = withCols.select(explode(filter(array(
          when(length(col("dc_id")) >= 5,
            armS("dc_org", col("dc_id"), col("dc_name"), dcKind, nullS)),
          armS("cc_svc",
            concat(lit("meonot-"), substring(md5(expr("right(cc_sym, 5)")), 1, 8)),
            lit(CcSvcName), ccDetails, ccSit),
          armS("rv_urls", concat(lit("rv"), csn(300)), nullS, rvJoined, nullS),
          armS("ms_sanitize", concat(lit("ms"), k.cast("string")), msOwner, msCap, msDate),
          armS("ms_org_flat", concat(lit("mo"), k.cast("string")), nullS, mfFlat, nullS)),
        x => x.isNotNull)).as("r"))
        .select(col("r.arm").as("arm"), col("r.id").as("id"), col("r.name").as("name"),
          col("r.extra1").as("extra1"), col("r.extra2").as("extra2"))
      val statics = s.range(1).select(explode(array(DcStatic.map {
        case (id, nm, resp, sit) =>
          struct(lit("dc_static").as("arm"), lit(id).as("id"), lit(nm).as("name"),
            lit(resp).as("extra1"), lit(sit).as("extra2"))
      }: _*)).as("r")).select(col("r.*"))
      rows.unionByName(statics)
    },

    // q157: HTML TABLE extraction (operators/child_care/fetch_as_df.py:19
    // transform — the transform half of the child_care fetcher, and a
    // training-data staple: harvesting tabular records out of crawled
    // pages): pd.read_html takes tables[0] — the FIRST <table> only,
    // decoys after it ignored; df.columns = df.iloc[0] then df[1:] —
    // ROW 0 IS THE HEADER, whatever tag it uses (th in some snapshots,
    // td in others — the [dh] class covers both); a header-only table
    // yields zero records. Output is the UNPIVOTED (doc, row, col,
    // header, value) stream — empty cells survive as '' (a captured
    // empty group), they are values, not misses. The fetch half and the
    // %%CURRENT_YEAR%% url macro (wall-clock-dependent templating,
    // fetch_as_df.py:8) stay out of scope with the other egress.
    // Plan: map-only — two generator stages (rows, then cells) over
    // regexp_extract_all, zero joins, zero exchanges; the non-greedy
    // first-table capture and the positional header zip are identical
    // RE2/Java regex trees, so the hash gate pins the parser itself.
    "q157_html_table" -> QueryDef.of(
      """WITH d AS (
        |  SELECT p_partkey AS doc_id,
        |    '<html><p>j' || CAST(p_partkey % 7 AS VARCHAR) || '</p><table id="t"><tr>' ||
        |    CASE WHEN p_partkey % 2 = 0 THEN '<th>name</th><th>qty</th><th>city</th>'
        |         ELSE '<td>name</td><td>qty</td><td>city</td>' END || '</tr>' ||
        |    CASE WHEN p_partkey % 4 >= 1 THEN
        |      CASE WHEN p_partkey % 6 = 0 THEN '<tr class="r">' ELSE '<tr>' END ||
        |      CASE WHEN p_partkey % 7 = 0 THEN '<td align="c">' ELSE '<td>' END ||
        |      'n' || CAST((p_partkey + 1) % 50 AS VARCHAR) || '</td><td>' ||
        |      CAST(p_partkey % 9 AS VARCHAR) || '</td><td>' ||
        |      CASE WHEN (p_partkey + 1) % 3 = 0 THEN ''
        |           ELSE 'C' || CAST((p_partkey + 1) % 20 AS VARCHAR) END ||
        |      '</td></tr>' ELSE '' END ||
        |    CASE WHEN p_partkey % 4 >= 2 THEN
        |      '<tr><td>n' || CAST((p_partkey + 2) % 50 AS VARCHAR) || '</td><td>' ||
        |      CAST((p_partkey * 2) % 9 AS VARCHAR) || '</td><td>' ||
        |      CASE WHEN (p_partkey + 2) % 3 = 0 THEN ''
        |           ELSE 'C' || CAST((p_partkey + 2) % 20 AS VARCHAR) END ||
        |      '</td></tr>' ELSE '' END ||
        |    CASE WHEN p_partkey % 4 >= 3 THEN
        |      '<tr><td>n' || CAST((p_partkey + 3) % 50 AS VARCHAR) || '</td><td>' ||
        |      CAST((p_partkey * 3) % 9 AS VARCHAR) || '</td><td>' ||
        |      CASE WHEN (p_partkey + 3) % 3 = 0 THEN ''
        |           ELSE 'C' || CAST((p_partkey + 3) % 20 AS VARCHAR) END ||
        |      '</td></tr>' ELSE '' END ||
        |    '</table>' ||
        |    CASE WHEN p_partkey % 5 = 0 THEN '<table><tr><td>zz</td></tr></table>' ELSE '' END ||
        |    '</html>' AS html
        |  FROM part),
        |t AS (SELECT doc_id, regexp_extract(html, '<table[^>]*>(.*?)</table>', 1) AS tbl FROM d),
        |r AS (SELECT doc_id, regexp_extract_all(tbl, '<tr(?:\s[^>]*)?>(.*?)</tr>', 1) AS rows FROM t),
        |x AS (SELECT doc_id,
        |        regexp_extract_all(rows[1], '<t[dh](?:\s[^>]*)?>(.*?)</t[dh]>', 1) AS hdr,
        |        unnest(rows[2:]) AS rowhtml,
        |        generate_subscripts(rows[2:], 1) AS rn
        |      FROM r WHERE len(rows) > 1),
        |c AS (SELECT doc_id, rn, hdr,
        |        regexp_extract_all(rowhtml, '<t[dh](?:\s[^>]*)?>(.*?)</t[dh]>', 1) AS cells FROM x)
        |SELECT doc_id, CAST(rn AS BIGINT) AS row_n, CAST(j AS BIGINT) AS col_n,
        |  hdr[j] AS col_name, value
        |FROM (SELECT doc_id, rn, hdr, unnest(cells) AS value,
        |        generate_subscripts(cells, 1) AS j FROM c)
        |""".stripMargin) { (s, dir) =>
      val p = col("p_partkey")
      // row 1 sometimes carries tag ATTRIBUTES (<tr class>, <td align>) —
      // pd.read_html parses those identically, so the extraction regexes
      // must tolerate them (the attribute-free fast arms stay majority)
      def dataRow(off: Int, mult: Int): Column = concat(
        if (off == 1)
          concat(when(p % 6 === 0, lit("<tr class=\"r\">")).otherwise(lit("<tr>")),
            when(p % 7 === 0, lit("<td align=\"c\">")).otherwise(lit("<td>")))
        else lit("<tr><td>"),
        lit("n"), ((p + off) % 50).cast("string"),
        lit("</td><td>"), ((p * mult) % 9).cast("string"), lit("</td><td>"),
        when((p + off) % 3 === 0, lit(""))
          .otherwise(concat(lit("C"), ((p + off) % 20).cast("string"))),
        lit("</td></tr>"))
      val html = concat(
        lit("<html><p>j"), (p % 7).cast("string"), lit("</p><table id=\"t\"><tr>"),
        when(p % 2 === 0, lit("<th>name</th><th>qty</th><th>city</th>"))
          .otherwise(lit("<td>name</td><td>qty</td><td>city</td>")),
        lit("</tr>"),
        when(p % 4 >= 1, dataRow(1, 1)).otherwise(lit("")),
        when(p % 4 >= 2, dataRow(2, 2)).otherwise(lit("")),
        when(p % 4 >= 3, dataRow(3, 3)).otherwise(lit("")),
        lit("</table>"),
        when(p % 5 === 0, lit("<table><tr><td>zz</td></tr></table>")).otherwise(lit("")),
        lit("</html>"))
      graft.operators.HtmlTable.extract(
        Tables.part(s, dir).select(p.as("doc_id"), html.as("html")))
    },

    // q158: the EXTERNAL manual-data-entry spreadsheet emit map
    // (operators/manual_data_entry/external.py:23-91 + handle_taxonomies
    // :111-131) — the last row-transform surface of the reference the
    // suite had not pinned. Modeled semantics, fetch half out of scope:
    //  - sheet gate (:159 + :27): Status 'בייצור' AND a truthy
    //    spreadsheet URL ('' is falsy in Python — both arms modeled);
    //  - service gates (:31-32): truthy service name, then status
    //    'מוכן לפרסום' — BOTH before enumerate(services), so the row
    //    index i of '_row_id' = URL#i (:37) counts filtered rows;
    //  - the org-id skip (:55-56) happens AFTER i is assigned — a
    //    skipped service leaves a GAP in the _row_id sequence, kept;
    //  - operator branch (:51): truthy 'שם המפעיל' takes org fields
    //    from the service row, short name nulled; the sentinel
    //    'יוזמה פרטית' (compared STRIPPED, :57) nulls only the id; the
    //    else branch copies the sheet's org fields verbatim;
    //  - branch address (:39): service value `or` sheet fallback —
    //    Python `or` falls back on '' as well as None; the five other
    //    Branch columns are emitted as literal nulls (the fixed schema);
    //  - notes (:78-90): free notes `or ''`, the emergency flag appends
    //    '\n\n' + the tag message, then .strip() — replayed with an
    //    explicit space+newline trim charset on both engines;
    //  - handle_taxonomies: each of the 7 slot values (category,
    //    audience, 5 language slots) is STRIPPED and looked up in the
    //    taxonomy dim; misses are ignored, hits set-union response_ids /
    //    situation_ids ('or []' guards a null list). Python's set order
    //    is nondeterministic BY CONSTRUCTION — pinned SORTED and
    //    '|'-joined here (same pin as q146's link lists);
    //  - the final delete_fields (:161) drops Status / URL / Source
    //    Name from the emitted row — Data Source carries the source.
    // Plan: orders scan + ONE broadcast sheet dim (the reference's
    // Airtable Sheets table is config-scale) + 7 broadcast joins of the
    // 25-row taxonomy dim (driver dict → broadcast join, the standing
    // re-expression) + the ONE unavoidable exchange: the per-sheet
    // row_number window (partition by url, total order on the unique
    // order key). Everything else is map-side; no corpus-sized shuffle
    // at any scale.
    "q158_external_mde" -> QueryDef.of(
      """WITH sheets AS (
        |  SELECT c_custkey AS ck,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'טיוטה' ELSE 'בייצור' END AS sheet_status,
        |    CASE WHEN c_custkey % 13 = 0 THEN NULL WHEN c_custkey % 13 = 1 THEN ''
        |         ELSE 'https://sheets.example/d/' || CAST(c_custkey AS VARCHAR) END AS url,
        |    CASE WHEN c_custkey % 5 <> 0 THEN 'ישוב ' || CAST(c_custkey % 90 AS VARCHAR) END AS sheet_addr,
        |    'ארגון גיליון ' || CAST(c_custkey % 200 AS VARCHAR) AS sheet_org_name,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'קיצור ' || CAST(c_custkey % 40 AS VARCHAR) END AS sheet_org_short,
        |    CASE WHEN c_custkey % 11 <> 0 THEN '58' || lpad(CAST(c_custkey % 500 AS VARCHAR), 7, '0') END AS sheet_org_id,
        |    CASE WHEN c_custkey % 4 = 0 THEN '03' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 5, '0') END AS sheet_org_phone,
        |    CASE WHEN c_custkey % 6 = 0 THEN 'org' || CAST(c_custkey % 70 AS VARCHAR) || '@mail.il' END AS sheet_org_email,
        |    CASE WHEN c_custkey % 9 = 0 THEN 'https://org' || CAST(c_custkey % 80 AS VARCHAR) || '.org.il' END AS sheet_org_web,
        |    'מקור ' || CAST(c_custkey % 25 AS VARCHAR) AS source_name
        |  FROM customer),
        |ready AS (
        |  SELECT * FROM sheets
        |  WHERE sheet_status = 'בייצור' AND url IS NOT NULL AND url <> ''),
        |tax AS (
        |  SELECT CASE n_nationkey % 3
        |      WHEN 0 THEN 'קטגוריה ' || CAST(n_nationkey AS VARCHAR)
        |      WHEN 1 THEN 'אוכלוסייה ' || CAST(n_nationkey AS VARCHAR)
        |      ELSE 'שפה ' || CAST(n_nationkey AS VARCHAR) END AS tname,
        |    CASE WHEN n_nationkey % 4 <> 0 THEN
        |      ['resp:' || CAST(n_nationkey % 7 AS VARCHAR),
        |       'resp:' || CAST((n_nationkey + 3) % 7 AS VARCHAR)] END AS resp,
        |    CASE WHEN n_nationkey % 5 <> 4 THEN
        |      ['sit:' || CAST(n_nationkey % 6 AS VARCHAR)] END AS sit
        |  FROM nation),
        |svc AS (
        |  SELECT o_orderkey AS ord, o_custkey AS ck,
        |    CASE WHEN o_orderkey % 19 = 0 THEN NULL WHEN o_orderkey % 19 = 1 THEN ''
        |         ELSE 'שירות ' || CAST(o_orderkey % 400 AS VARCHAR) END AS svc_name,
        |    CASE WHEN o_orderkey % 6 = 0 THEN 'בעבודה' ELSE 'מוכן לפרסום' END AS svc_status,
        |    CASE WHEN o_orderkey % 4 = 0 THEN NULL WHEN o_orderkey % 4 = 1 THEN ''
        |         ELSE 'רחוב ' || CAST(o_orderkey % 150 AS VARCHAR) END AS svc_addr,
        |    'תיאור ' || CAST(o_orderkey % 97 AS VARCHAR) AS svc_desc,
        |    CASE WHEN o_orderkey % 10 <> 3 THEN 'בתיאום ' || CAST(o_orderkey % 11 AS VARCHAR) END AS svc_cond,
        |    CASE WHEN o_orderkey % 9 <> 0 THEN '02' || lpad(CAST(o_orderkey % 10000 AS VARCHAR), 4, '0') END AS svc_phone,
        |    CASE WHEN o_orderkey % 8 <> 5 THEN 'https://svc' || CAST(o_orderkey % 70 AS VARCHAR) || '.org.il' END AS svc_web,
        |    CASE WHEN o_orderkey % 7 <> 2 THEN 's' || CAST(o_orderkey % 45 AS VARCHAR) || '@mail.il' END AS svc_email,
        |    CASE WHEN o_orderkey % 5 = 0 THEN NULL WHEN o_orderkey % 5 = 1 THEN ''
        |         ELSE 'מפעיל ' || CAST(o_orderkey % 120 AS VARCHAR) END AS op_name,
        |    CASE WHEN o_orderkey % 8 = 0 THEN NULL WHEN o_orderkey % 8 = 1 THEN ''
        |         WHEN o_orderkey % 8 = 2 THEN 'יוזמה פרטית'
        |         WHEN o_orderkey % 8 = 3 THEN ' יוזמה פרטית '
        |         ELSE '51' || lpad(CAST(o_orderkey % 800 AS VARCHAR), 7, '0') END AS op_org_id,
        |    CASE WHEN o_orderkey % 6 <> 1 THEN '07' || lpad(CAST(o_orderkey % 9999 AS VARCHAR), 5, '0') END AS op_phone,
        |    CASE WHEN o_orderkey % 6 <> 2 THEN 'op' || CAST(o_orderkey % 55 AS VARCHAR) || '@mail.il' END AS op_email,
        |    CASE WHEN o_orderkey % 6 <> 3 THEN 'www.op' || CAST(o_orderkey % 65 AS VARCHAR) || '.co.il' END AS op_web,
        |    CASE WHEN o_orderkey % 10 <> 0 THEN 'קטגוריה ' || CAST(o_orderkey % 15 AS VARCHAR) END AS cat,
        |    CASE WHEN o_orderkey % 11 <> 0 THEN 'אוכלוסייה ' || CAST(o_orderkey % 12 AS VARCHAR) END AS aud,
        |    CASE WHEN o_orderkey % 3 = 1 THEN 'שפה ' || CAST(o_orderkey % 8 AS VARCHAR)
        |         WHEN o_orderkey % 3 = 2 THEN ' שפה ' || CAST(o_orderkey % 8 AS VARCHAR) || ' ' END AS lang1,
        |    CASE WHEN o_orderkey % 4 = 1 THEN 'שפה ' || CAST((o_orderkey + 1) % 8 AS VARCHAR) END AS lang2,
        |    CASE WHEN o_orderkey % 5 = 2 THEN 'שפה ' || CAST((o_orderkey + 2) % 8 AS VARCHAR) END AS lang3,
        |    CASE WHEN o_orderkey % 9 = 4 THEN '' END AS lang4,
        |    CAST(NULL AS VARCHAR) AS lang5,
        |    CASE WHEN o_orderkey % 7 <> 0 THEN 'קהל ' || CAST(o_orderkey % 33 AS VARCHAR) END AS tgt_aud,
        |    (o_orderkey % 21 = 0) AS emergency,
        |    CASE WHEN o_orderkey % 5 = 0 THEN NULL WHEN o_orderkey % 5 = 1 THEN ''
        |         ELSE ' הערה ' || CAST(o_orderkey % 44 AS VARCHAR) || '  ' END AS free_notes
        |  FROM orders),
        |joined AS (
        |  SELECT s.*, r.url, r.sheet_addr, r.sheet_org_name, r.sheet_org_short,
        |    r.sheet_org_id, r.sheet_org_phone, r.sheet_org_email, r.sheet_org_web,
        |    r.source_name
        |  FROM svc s JOIN ready r ON s.ck = r.ck
        |  WHERE s.svc_name IS NOT NULL AND s.svc_name <> ''
        |    AND s.svc_status = 'מוכן לפרסום'),
        |idxed AS (
        |  SELECT *, row_number() OVER (PARTITION BY url ORDER BY ord) - 1 AS i
        |  FROM joined),
        |kept AS (
        |  SELECT *, (op_name IS NOT NULL AND op_name <> '') AS op_truthy FROM idxed
        |  WHERE NOT (op_name IS NOT NULL AND op_name <> ''
        |             AND (op_org_id IS NULL OR op_org_id = ''))),
        |tx AS (
        |  SELECT k.*, t1.resp AS r1, t1.sit AS s1, t2.resp AS r2, t2.sit AS s2,
        |    t3.resp AS r3, t3.sit AS s3, t4.resp AS r4, t4.sit AS s4,
        |    t5.resp AS r5, t5.sit AS s5, t6.resp AS r6, t6.sit AS s6,
        |    t7.resp AS r7, t7.sit AS s7
        |  FROM kept k
        |  LEFT JOIN tax t1 ON trim(k.cat) = t1.tname
        |  LEFT JOIN tax t2 ON trim(k.aud) = t2.tname
        |  LEFT JOIN tax t3 ON trim(k.lang1) = t3.tname
        |  LEFT JOIN tax t4 ON trim(k.lang2) = t4.tname
        |  LEFT JOIN tax t5 ON trim(k.lang3) = t5.tname
        |  LEFT JOIN tax t6 ON trim(k.lang4) = t6.tname
        |  LEFT JOIN tax t7 ON trim(k.lang5) = t7.tname)
        |SELECT url || '#' || CAST(i AS VARCHAR) AS _row_id,
        |  CASE WHEN svc_addr IS NULL OR svc_addr = '' THEN sheet_addr ELSE svc_addr END AS branch_address,
        |  CAST(NULL AS VARCHAR) AS branch_details,
        |  CAST(NULL AS VARCHAR) AS branch_geocode,
        |  CAST(NULL AS VARCHAR) AS branch_email,
        |  CAST(NULL AS VARCHAR) AS branch_website,
        |  CAST(NULL AS VARCHAR) AS branch_phone,
        |  svc_name AS service_name, svc_desc AS service_description,
        |  svc_cond AS service_conditions, svc_phone AS service_phone,
        |  svc_web AS service_website, svc_email AS service_email,
        |  CASE WHEN op_truthy THEN op_name ELSE sheet_org_name END AS org_name,
        |  CASE WHEN op_truthy THEN NULL ELSE sheet_org_short END AS org_short_name,
        |  CASE WHEN op_truthy THEN
        |    (CASE WHEN trim(op_org_id) = 'יוזמה פרטית' THEN NULL ELSE op_org_id END)
        |    ELSE sheet_org_id END AS org_id,
        |  CASE WHEN op_truthy THEN op_phone ELSE sheet_org_phone END AS org_phone,
        |  CASE WHEN op_truthy THEN op_email ELSE sheet_org_email END AS org_email,
        |  CASE WHEN op_truthy THEN op_web ELSE sheet_org_web END AS org_website,
        |  source_name AS data_source,
        |  tgt_aud AS target_audiences,
        |  trim(CASE WHEN emergency
        |       THEN COALESCE(free_notes, '') || chr(10) || chr(10) || 'יש לתייג כשירות חירום'
        |       ELSE COALESCE(free_notes, '') END, ' ' || chr(10)) AS notes,
        |  COALESCE(array_to_string(list_sort(list_distinct(flatten(
        |    [COALESCE(r1, []), COALESCE(r2, []), COALESCE(r3, []), COALESCE(r4, []),
        |     COALESCE(r5, []), COALESCE(r6, []), COALESCE(r7, [])]))), '|'), '') AS responses_ids,
        |  COALESCE(array_to_string(list_sort(list_distinct(flatten(
        |    [COALESCE(s1, []), COALESCE(s2, []), COALESCE(s3, []), COALESCE(s4, []),
        |     COALESCE(s5, []), COALESCE(s6, []), COALESCE(s7, [])]))), '|'), '') AS situations_ids
        |FROM tx
        |""".stripMargin) { (s, dir) =>
      val k = col("c_custkey")
      val sheets = Tables.customer(s, dir).select(
        k.as("ck"),
        when(k % 7 === 0, lit("טיוטה")).otherwise(lit("בייצור")).as("sheet_status"),
        when(k % 13 === 0, lit(null).cast("string")).when(k % 13 === 1, lit(""))
          .otherwise(concat(lit("https://sheets.example/d/"), k.cast("string"))).as("url"),
        when(k % 5 =!= 0, concat(lit("ישוב "), (k % 90).cast("string"))).as("sheet_addr"),
        concat(lit("ארגון גיליון "), (k % 200).cast("string")).as("sheet_org_name"),
        when(k % 3 === 0, concat(lit("קיצור "), (k % 40).cast("string"))).as("sheet_org_short"),
        when(k % 11 =!= 0, concat(lit("58"), lpad((k % 500).cast("string"), 7, "0"))).as("sheet_org_id"),
        when(k % 4 === 0, concat(lit("03"), lpad((k % 10000).cast("string"), 5, "0"))).as("sheet_org_phone"),
        when(k % 6 === 0, concat(lit("org"), (k % 70).cast("string"), lit("@mail.il"))).as("sheet_org_email"),
        when(k % 9 === 0, concat(lit("https://org"), (k % 80).cast("string"), lit(".org.il"))).as("sheet_org_web"),
        concat(lit("מקור "), (k % 25).cast("string")).as("source_name"))
        .filter(col("sheet_status") === "בייצור" &&
          col("url").isNotNull && col("url") =!= "")
      val n = col("n_nationkey")
      val tax = Tables.nation(s, dir).select(
        when(n % 3 === 0, concat(lit("קטגוריה "), n.cast("string")))
          .when(n % 3 === 1, concat(lit("אוכלוסייה "), n.cast("string")))
          .otherwise(concat(lit("שפה "), n.cast("string"))).as("tname"),
        when(n % 4 =!= 0, array(
          concat(lit("resp:"), (n % 7).cast("string")),
          concat(lit("resp:"), ((n + 3) % 7).cast("string")))).as("resp"),
        when(n % 5 =!= 4, array(concat(lit("sit:"), (n % 6).cast("string")))).as("sit"))
      val o = col("o_orderkey")
      // lesson-4 hash compute spread (r11, measured): the svc string-build
      // chain ran as one ~1.2 s task on the single-row-group scan; only
      // the two raw key columns ride the exchange (see q144's note).
      val svc = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .transform(graft.operators.Relational.spreadForCompute(_, col("o_orderkey")))
        .select(
        o.as("ord"), col("o_custkey").as("ck"),
        when(o % 19 === 0, lit(null).cast("string")).when(o % 19 === 1, lit(""))
          .otherwise(concat(lit("שירות "), (o % 400).cast("string"))).as("svc_name"),
        when(o % 6 === 0, lit("בעבודה")).otherwise(lit("מוכן לפרסום")).as("svc_status"),
        when(o % 4 === 0, lit(null).cast("string")).when(o % 4 === 1, lit(""))
          .otherwise(concat(lit("רחוב "), (o % 150).cast("string"))).as("svc_addr"),
        concat(lit("תיאור "), (o % 97).cast("string")).as("svc_desc"),
        when(o % 10 =!= 3, concat(lit("בתיאום "), (o % 11).cast("string"))).as("svc_cond"),
        when(o % 9 =!= 0, concat(lit("02"), lpad((o % 10000).cast("string"), 4, "0"))).as("svc_phone"),
        when(o % 8 =!= 5, concat(lit("https://svc"), (o % 70).cast("string"), lit(".org.il"))).as("svc_web"),
        when(o % 7 =!= 2, concat(lit("s"), (o % 45).cast("string"), lit("@mail.il"))).as("svc_email"),
        when(o % 5 === 0, lit(null).cast("string")).when(o % 5 === 1, lit(""))
          .otherwise(concat(lit("מפעיל "), (o % 120).cast("string"))).as("op_name"),
        when(o % 8 === 0, lit(null).cast("string")).when(o % 8 === 1, lit(""))
          .when(o % 8 === 2, lit("יוזמה פרטית"))
          .when(o % 8 === 3, lit(" יוזמה פרטית "))
          .otherwise(concat(lit("51"), lpad((o % 800).cast("string"), 7, "0"))).as("op_org_id"),
        when(o % 6 =!= 1, concat(lit("07"), lpad((o % 9999).cast("string"), 5, "0"))).as("op_phone"),
        when(o % 6 =!= 2, concat(lit("op"), (o % 55).cast("string"), lit("@mail.il"))).as("op_email"),
        when(o % 6 =!= 3, concat(lit("www.op"), (o % 65).cast("string"), lit(".co.il"))).as("op_web"),
        when(o % 10 =!= 0, concat(lit("קטגוריה "), (o % 15).cast("string"))).as("cat"),
        when(o % 11 =!= 0, concat(lit("אוכלוסייה "), (o % 12).cast("string"))).as("aud"),
        when(o % 3 === 1, concat(lit("שפה "), (o % 8).cast("string")))
          .when(o % 3 === 2, concat(lit(" שפה "), (o % 8).cast("string"), lit(" "))).as("lang1"),
        when(o % 4 === 1, concat(lit("שפה "), ((o + 1) % 8).cast("string"))).as("lang2"),
        when(o % 5 === 2, concat(lit("שפה "), ((o + 2) % 8).cast("string"))).as("lang3"),
        when(o % 9 === 4, lit("")).as("lang4"),
        lit(null).cast("string").as("lang5"),
        when(o % 7 =!= 0, concat(lit("קהל "), (o % 33).cast("string"))).as("tgt_aud"),
        (o % 21 === 0).as("emergency"),
        when(o % 5 === 0, lit(null).cast("string")).when(o % 5 === 1, lit(""))
          .otherwise(concat(lit(" הערה "), (o % 44).cast("string"), lit("  "))).as("free_notes"))
      val joined = svc.join(broadcast(sheets), "ck")
        .filter(col("svc_name").isNotNull && col("svc_name") =!= "" &&
          col("svc_status") === "מוכן לפרסום")
      val idxed = joined.withColumn("i",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("url")).orderBy(col("ord"))) - 1)
      val opTruthy = col("op_name").isNotNull && col("op_name") =!= ""
      val kept = idxed
        .filter(!(opTruthy && (col("op_org_id").isNull || col("op_org_id") === "")))
        .withColumn("op_truthy", opTruthy)
      val slots = Seq(col("cat"), col("aud"), col("lang1"), col("lang2"),
        col("lang3"), col("lang4"), col("lang5"))
      val tx = slots.zipWithIndex.foldLeft(kept) { case (df, (slot, j)) =>
        df.join(broadcast(tax.select(col("tname").as(s"tn$j"),
          col("resp").as(s"r$j"), col("sit").as(s"s$j"))),
          trim(slot) === col(s"tn$j"), "left")
      }
      def unioned(prefix: String): Column = array_join(array_sort(array_distinct(
        concat((0 until 7).map(j =>
          coalesce(col(s"$prefix$j"), array().cast("array<string>"))): _*))), "|")
      tx.select(
        concat(col("url"), lit("#"), col("i").cast("string")).as("_row_id"),
        when(col("svc_addr").isNull || col("svc_addr") === "", col("sheet_addr"))
          .otherwise(col("svc_addr")).as("branch_address"),
        lit(null).cast("string").as("branch_details"),
        lit(null).cast("string").as("branch_geocode"),
        lit(null).cast("string").as("branch_email"),
        lit(null).cast("string").as("branch_website"),
        lit(null).cast("string").as("branch_phone"),
        col("svc_name").as("service_name"), col("svc_desc").as("service_description"),
        col("svc_cond").as("service_conditions"), col("svc_phone").as("service_phone"),
        col("svc_web").as("service_website"), col("svc_email").as("service_email"),
        when(col("op_truthy"), col("op_name")).otherwise(col("sheet_org_name")).as("org_name"),
        when(col("op_truthy"), lit(null).cast("string"))
          .otherwise(col("sheet_org_short")).as("org_short_name"),
        when(col("op_truthy"),
          when(trim(col("op_org_id")) === "יוזמה פרטית", lit(null).cast("string"))
            .otherwise(col("op_org_id")))
          .otherwise(col("sheet_org_id")).as("org_id"),
        when(col("op_truthy"), col("op_phone")).otherwise(col("sheet_org_phone")).as("org_phone"),
        when(col("op_truthy"), col("op_email")).otherwise(col("sheet_org_email")).as("org_email"),
        when(col("op_truthy"), col("op_web")).otherwise(col("sheet_org_web")).as("org_website"),
        col("source_name").as("data_source"),
        col("tgt_aud").as("target_audiences"),
        trim(when(col("emergency"),
          concat(coalesce(col("free_notes"), lit("")), lit("\n\n"),
            lit("יש לתייג כשירות חירום")))
          .otherwise(coalesce(col("free_notes"), lit(""))), " \n").as("notes"),
        unioned("r").as("responses_ids"),
        unioned("s").as("situations_ids"))
    },

    // q159: the LOCAL-AUTHORITIES city mapping (operators/meser/
    // local_authorities.py — dead code in the reference, its one caller
    // commented out at meser/__init__.py:211; modeled anyway to close
    // literal 100% of the row-transform surface):
    //  - :9 clean_city_name, three pandas stages replayed in order on
    //    BOTH sides of the merge: strip [-"'`] chars, collapse \s+ to
    //    one space, trim — so 'עיר- 5', '"עיר" 5' and ' עיר   5  ' all
    //    canonicalize to 'עיר 5';
    //  - :40 merge left on the cleaned name, organization_id :=
    //    counsil_id, then :51 dropna(organization_id) — the NET effect
    //    is an inner match EXCEPT that csv.DictReader yields STRINGS, so
    //    an EMPTY counsil_id is '' (not NaN) and its rows SURVIVE the
    //    dropna with organization_id = '' — the quirk arm, pinned;
    //    unmapped and null cities drop;
    //  - :15 set_up_organizations stages the same CSV through
    //    prepare_airtable_dataframe (drop counsil_short_name, project
    //    the six fields; the keep-last dedup is a NO-OP on the distinct
    //    static CSV — its real pin lives in q146).
    // Both arms in q156's (arm, id, name, extra1, extra2) shape.
    // Plan: orders scan + ONE broadcast ≤150-row map dim (the static
    // CSV), union with the dim's own projection — no row-proportional
    // exchange at any scale (the dim distinct is input-bounded).
    "q159_local_authorities" -> QueryDef.of(
      """WITH m0 AS (SELECT DISTINCT c_custkey % 150 AS m FROM customer),
        |map0 AS (
        |  SELECT m,
        |    CASE m % 3 WHEN 0 THEN 'עיר ' || CAST(m AS VARCHAR)
        |         WHEN 1 THEN 'עיר - ' || CAST(m AS VARCHAR)
        |         ELSE ' "עיר" ' || CAST(m AS VARCHAR) || ' ' END AS city_raw,
        |    CASE WHEN m % 10 = 2 THEN '' ELSE '500' || lpad(CAST(m AS VARCHAR), 5, '0') END AS counsil_id,
        |    'רשות ' || CAST(m AS VARCHAR) AS org_name,
        |    CASE WHEN m % 5 = 0 THEN 'לא פעיל' ELSE 'פעיל' END AS status,
        |    CASE WHEN m % 2 = 0 THEN 'רשות מקומית' ELSE 'מועצה אזורית' END AS kind,
        |    CASE WHEN m % 6 <> 0 THEN 'https://la' || CAST(m AS VARCHAR) || '.gov.il#אתר הרשות' END AS urls,
        |    CASE WHEN m % 7 <> 0 THEN '08' || lpad(CAST(m AS VARCHAR), 5, '0') END AS phone_numbers
        |  FROM m0 WHERE m % 4 <> 3),
        |map AS (
        |  SELECT *, trim(regexp_replace(regexp_replace(city_raw, '[-"''`]', '', 'g'), '\s+', ' ', 'g')) AS cname
        |  FROM map0),
        |meser AS (
        |  SELECT 'meser-' || CAST(o_orderkey AS VARCHAR) AS mid,
        |    CASE o_orderkey % 7
        |      WHEN 0 THEN NULL
        |      WHEN 1 THEN 'עיר ' || CAST(o_orderkey % 150 AS VARCHAR)
        |      WHEN 2 THEN '"עיר" ' || CAST(o_orderkey % 150 AS VARCHAR)
        |      WHEN 3 THEN ' עיר   ' || CAST(o_orderkey % 150 AS VARCHAR) || '  '
        |      WHEN 4 THEN 'עיר- ' || CAST(o_orderkey % 150 AS VARCHAR)
        |      WHEN 5 THEN 'עיר'' ' || CAST(o_orderkey % 150 AS VARCHAR)
        |      ELSE 'זר ' || CAST(o_orderkey % 150 AS VARCHAR) END AS city_raw
        |  FROM orders),
        |cleaned AS (
        |  SELECT mid, city_raw,
        |    trim(regexp_replace(regexp_replace(city_raw, '[-"''`]', '', 'g'), '\s+', ' ', 'g')) AS cname
        |  FROM meser),
        |city_arm AS (
        |  SELECT 'city' AS arm, c.mid AS id, c.cname AS name,
        |    p.counsil_id AS extra1, c.city_raw AS extra2
        |  FROM cleaned c LEFT JOIN map p ON c.cname = p.cname
        |  WHERE p.counsil_id IS NOT NULL),
        |org_arm AS (
        |  SELECT 'orgs' AS arm, counsil_id AS id, org_name AS name,
        |    kind || '|' || status AS extra1,
        |    COALESCE(urls, '') || '|' || COALESCE(phone_numbers, '') AS extra2
        |  FROM map)
        |SELECT * FROM city_arm UNION ALL SELECT * FROM org_arm
        |""".stripMargin) { (s, dir) =>
      def clean(c: Column): Column =
        trim(regexp_replace(regexp_replace(c, "[-\"'`]", ""), "\\s+", " "))
      val m = col("m")
      val map0 = Tables.customer(s, dir)
        .select((col("c_custkey") % 150).as("m")).distinct()
        .filter(m % 4 =!= 3)
        .select(m,
          when(m % 3 === 0, concat(lit("עיר "), m.cast("string")))
            .when(m % 3 === 1, concat(lit("עיר - "), m.cast("string")))
            .otherwise(concat(lit(" \"עיר\" "), m.cast("string"), lit(" "))).as("city_raw"),
          when(m % 10 === 2, lit(""))
            .otherwise(concat(lit("500"), lpad(m.cast("string"), 5, "0"))).as("counsil_id"),
          concat(lit("רשות "), m.cast("string")).as("org_name"),
          when(m % 5 === 0, lit("לא פעיל")).otherwise(lit("פעיל")).as("status"),
          when(m % 2 === 0, lit("רשות מקומית")).otherwise(lit("מועצה אזורית")).as("kind"),
          when(m % 6 =!= 0, concat(lit("https://la"), m.cast("string"),
            lit(".gov.il#אתר הרשות"))).as("urls"),
          when(m % 7 =!= 0, concat(lit("08"), lpad(m.cast("string"), 5, "0"))).as("phone_numbers"))
      val map = map0.withColumn("cname", clean(col("city_raw")))
      val o = col("o_orderkey")
      val n = (o % 150).cast("string")
      val meser = Tables.orders(s, dir).select(
        concat(lit("meser-"), o.cast("string")).as("mid"),
        when(o % 7 === 0, lit(null).cast("string"))
          .when(o % 7 === 1, concat(lit("עיר "), n))
          .when(o % 7 === 2, concat(lit("\"עיר\" "), n))
          .when(o % 7 === 3, concat(lit(" עיר   "), n, lit("  ")))
          .when(o % 7 === 4, concat(lit("עיר- "), n))
          .when(o % 7 === 5, concat(lit("עיר' "), n))
          .otherwise(concat(lit("זר "), n)).as("city_raw"))
      val cityArm = meser.withColumn("cname", clean(col("city_raw")))
        .join(broadcast(map.select(col("cname"), col("counsil_id"))), Seq("cname"), "left")
        .filter(col("counsil_id").isNotNull)
        .select(lit("city").as("arm"), col("mid").as("id"), col("cname").as("name"),
          col("counsil_id").as("extra1"), col("city_raw").as("extra2"))
      val orgArm = map.select(lit("orgs").as("arm"), col("counsil_id").as("id"),
        col("org_name").as("name"),
        concat(col("kind"), lit("|"), col("status")).as("extra1"),
        concat(coalesce(col("urls"), lit("")), lit("|"),
          coalesce(col("phone_numbers"), lit(""))).as("extra2"))
      cityArm.unionByName(orgArm)
    },

    // q160: the otzma-noshmim spreadsheet one-off (operators/revaha/
    // otzma-noshmim/process.py — a standalone __main__ staging script,
    // the last reference .py with row logic not yet under a query):
    // select the three columns, set_type boolean via `v == 'יש'` —
    // Python equality, so None and '' and 'אין' ALL map to FALSE (a
    // null never survives as null — the quirk, pinned on both the
    // None and empty-string arms), rename to noshmim/otzma, and drop
    // rows with a null department symbol AFTER the typing. Plan:
    // map-only, one scan, zero exchanges at any scale.
    "q160_otzma_noshmim" -> QueryDef.of(
      """SELECT '6' || lpad(CAST(p_partkey % 3000 AS VARCHAR), 4, '0') AS semel_machlaka,
        |  COALESCE(CASE p_partkey % 3 WHEN 0 THEN 'יש' WHEN 1 THEN 'אין' END = 'יש',
        |    FALSE) AS noshmim,
        |  COALESCE(CASE p_partkey % 4 WHEN 0 THEN 'יש' WHEN 1 THEN 'אין'
        |    WHEN 2 THEN '' END = 'יש', FALSE) AS otzma
        |FROM part WHERE p_partkey % 11 <> 0
        |""".stripMargin) { (s, dir) =>
      val p = col("p_partkey")
      Tables.part(s, dir).select(
        when(p % 11 =!= 0, concat(lit("6"), lpad((p % 3000).cast("string"), 4, "0")))
          .as("semel_machlaka"),
        when(p % 3 === 0, lit("יש")).when(p % 3 === 1, lit("אין")).as("noshmim_raw"),
        when(p % 4 === 0, lit("יש")).when(p % 4 === 1, lit("אין"))
          .when(p % 4 === 2, lit("")).as("otzma_raw"))
        .select(col("semel_machlaka"),
          coalesce(col("noshmim_raw") === "יש", lit(false)).as("noshmim"),
          coalesce(col("otzma_raw") === "יש", lit(false)).as("otzma"))
        .filter(col("semel_machlaka").isNotNull)
    },

    // q174: the Guidestar LANGUAGE-FIELD FOLD — the one row transform
    // embedded in the Guidestar fetch client (reference:
    // srm_tools/guidestar_api.py:27-48
    // replace_language_field_in_array_of_object): branch payloads carry
    // arrays of objects whose `language` field may hold a NUMERIC-coded
    // situation key (human_situations:language:N_speaking, N=1..8); the
    // client folds each to its named tag (1→hebrew … 8→other_speaking)
    // and leaves empty, already-named, and unknown-coded values
    // untouched. Spark-first shape (lesson 47): the array unwinds FIRST
    // (posexplode of a generated index list), then the fold is a
    // codegen'd when-chain map-side — no per-row lambda, one scan, ZERO
    // exchanges (the unwound form is what downstream tagging joins on
    // anyway).
    "q174_guidestar_language_fold" -> QueryDef.of(
      """WITH e AS (
        |  SELECT c_custkey AS org_id, unnest(range(0, 1 + c_custkey % 3)) AS pos
        |  FROM customer
        |), raw AS (
        |  SELECT org_id, pos,
        |    CASE (org_id + pos) % 6
        |      WHEN 3 THEN 'human_situations:language:hebrew_speaking'
        |      WHEN 4 THEN ''
        |      WHEN 5 THEN 'human_situations:language:9_speaking'
        |      ELSE 'human_situations:language:' ||
        |           CAST(1 + (org_id + pos * 7) % 8 AS VARCHAR) || '_speaking'
        |    END AS raw_language
        |  FROM e
        |)
        |SELECT org_id, CAST(pos AS BIGINT) AS pos, raw_language,
        |  CASE raw_language
        |    WHEN 'human_situations:language:1_speaking' THEN 'human_situations:language:hebrew_speaking'
        |    WHEN 'human_situations:language:2_speaking' THEN 'human_situations:language:arabic_speaking'
        |    WHEN 'human_situations:language:3_speaking' THEN 'human_situations:language:russian_speaking'
        |    WHEN 'human_situations:language:4_speaking' THEN 'human_situations:language:french_speaking'
        |    WHEN 'human_situations:language:5_speaking' THEN 'human_situations:language:english_speaking'
        |    WHEN 'human_situations:language:6_speaking' THEN 'human_situations:language:amharic_speaking'
        |    WHEN 'human_situations:language:7_speaking' THEN 'human_situations:language:spanish_speaking'
        |    WHEN 'human_situations:language:8_speaking' THEN 'human_situations:language:other_speaking'
        |    ELSE raw_language
        |  END AS language
        |FROM raw
        |""".stripMargin) { (s, dir) =>
      val named = Seq("hebrew", "arabic", "russian", "french", "english",
        "amharic", "spanish", "other")
      val oid = col("org_id")
      val r = (oid + col("pos")) % 6
      val numCode = lit(1) + (oid + col("pos") * 7) % 8
      val raw = when(r === 3, lit("human_situations:language:hebrew_speaking"))
        .when(r === 4, lit(""))
        .when(r === 5, lit("human_situations:language:9_speaking"))
        .otherwise(concat(lit("human_situations:language:"),
          numCode.cast("string"), lit("_speaking")))
      val folded = named.zipWithIndex.foldLeft(col("raw_language")) {
        case (acc, (name, i)) =>
          when(col("raw_language") === s"human_situations:language:${i + 1}_speaking",
            s"human_situations:language:${name}_speaking").otherwise(acc)
      }
      Tables.customer(s, dir)
        .select(col("c_custkey").as("org_id"),
          sequence(lit(0), (col("c_custkey") % 3).cast("int")).as("js"))
        .select(oid, posexplode(col("js")))
        .select(oid, col("pos").cast("long").as("pos"), raw.as("raw_language"))
        .select(oid, col("pos"), col("raw_language"), folded.as("language"))
    },

    // q175: the Click-scraper DECODE + CLEAN + FILTER — the row half of
    // the soproc click connector (reference:
    // operators/soproc/click_scraper.py:55-79 decode_and_clean /
    // filter_results): every string field optionally arrives
    // base64-wrapped (decode when it parses, keep otherwise — modeled
    // as a charset+padding gate both engines replay identically), then
    // HTML-strips, folds &nbsp;/\xa0 to spaces, drops \r, trims, and
    // maps the literal 'NULL' to null; rows keep only lang_code='he',
    // integer-castable type = 1 (cast-failures DROP, the
    // schema_validator.drop semantics → TRY_CAST), non-null group_id,
    // and distribution_channel[0] = 1. Map-only: one scan, zero
    // exchanges — the filter and every field transform are codegen'd
    // scalar chains.
    "q175_click_scraper_clean" -> QueryDef.of(
      """WITH b AS (
        |  SELECT c_custkey AS cid,
        |    CASE cid % 3 WHEN 0 THEN 'he' WHEN 1 THEN 'en' ELSE 'ar' END AS lang_code,
        |    CASE cid % 4 WHEN 1 THEN '2' WHEN 2 THEN 'x' ELSE '1' END AS type_raw,
        |    CASE WHEN cid % 5 = 0 THEN NULL ELSE 'g' || CAST(cid % 50 AS VARCHAR) END AS group_id,
        |    CASE WHEN cid % 7 = 0 THEN NULL
        |         WHEN cid % 4 = 3 THEN [CAST(2 AS BIGINT), 1]
        |         ELSE [CAST(1 AS BIGINT), cid % 5] END AS distribution_channel,
        |    CASE WHEN cid % 2 = 0
        |         THEN to_base64(encode('כותרת <b>' || CAST(cid % 40 AS VARCHAR) || '</b>'))
        |         ELSE '  שירות ' || CAST(cid % 40 AS VARCHAR) || ' <i>x</i>&nbsp; ' END AS title_raw,
        |    CASE cid % 6 WHEN 0 THEN 'NULL' WHEN 1 THEN 'a' || chr(13) || 'b'
        |         ELSE 'note <p>' || CAST(cid % 9 AS VARCHAR) || '</p>' END AS notes_raw
        |  FROM customer
        |), d AS (
        |  SELECT cid, lang_code, type_raw, group_id, distribution_channel,
        |    CASE WHEN regexp_matches(title_raw, '^[A-Za-z0-9+/]+={0,2}$')
        |              AND length(title_raw) % 4 = 0 AND length(title_raw) >= 8
        |         THEN decode(from_base64(title_raw)) ELSE title_raw END AS title_dec,
        |    CASE WHEN regexp_matches(notes_raw, '^[A-Za-z0-9+/]+={0,2}$')
        |              AND length(notes_raw) % 4 = 0 AND length(notes_raw) >= 8
        |         THEN decode(from_base64(notes_raw)) ELSE notes_raw END AS notes_dec
        |  FROM b
        |)
        |SELECT cid,
        |  NULLIF(trim(replace(replace(replace(regexp_replace(title_dec, '<[^>]*>', '', 'g'),
        |    '&nbsp;', ' '), chr(160), ' '), chr(13), '')), 'NULL') AS title,
        |  NULLIF(trim(replace(replace(replace(regexp_replace(notes_dec, '<[^>]*>', '', 'g'),
        |    '&nbsp;', ' '), chr(160), ' '), chr(13), '')), 'NULL') AS notes,
        |  CAST(TRY_CAST(type_raw AS INTEGER) AS BIGINT) AS type, group_id
        |FROM d
        |WHERE lang_code = 'he' AND TRY_CAST(type_raw AS INTEGER) = 1
        |  AND group_id IS NOT NULL AND distribution_channel IS NOT NULL
        |  AND distribution_channel[1] = 1
        |""".stripMargin) { (s, dir) =>
      val cid = col("cid")
      // "decode when it parses" = charset + padding + MIN-LENGTH gate:
      // the reference's try/except also keeps short ASCII markers
      // ('NULL' is base64-shaped but utf8-undecodable - its decode
      // attempt throws and the original survives); the length floor
      // models that without a non-replayable utf8-validity probe
      def cleanField(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val dec = when(c.rlike("^[A-Za-z0-9+/]+={0,2}$") &&
            length(c) % 4 === 0 && length(c) >= 8,
          decode(unbase64(c), "UTF-8")).otherwise(c)
        nullif(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          dec, "<[^>]*>", ""), "&nbsp;", " "), "\u00A0", " "), "\r", "")), lit("NULL"))
      }
      Tables.customer(s, dir)
        .select(col("c_custkey").as("cid"))
        .select(cid,
          when(cid % 3 === 0, "he").when(cid % 3 === 1, "en").otherwise("ar").as("lang_code"),
          when(cid % 4 === 1, "2").when(cid % 4 === 2, "x").otherwise("1").as("type_raw"),
          when(cid % 5 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("g"), (cid % 50).cast("string"))).as("group_id"),
          when(cid % 7 === 0, lit(null).cast("array<bigint>"))
            .when(cid % 4 === 3, array(lit(2L), lit(1L)))
            .otherwise(array(lit(1L), cid % 5)).as("distribution_channel"),
          when(cid % 2 === 0,
            base64(concat(lit("כותרת <b>"), (cid % 40).cast("string"), lit("</b>")).cast("binary")))
            .otherwise(concat(lit("  שירות "), (cid % 40).cast("string"), lit(" <i>x</i>&nbsp; ")))
            .as("title_raw"),
          when(cid % 6 === 0, lit("NULL"))
            .when(cid % 6 === 1, lit("a\rb"))
            .otherwise(concat(lit("note <p>"), (cid % 9).cast("string"), lit("</p>")))
            .as("notes_raw"))
        .filter(col("lang_code") === "he" &&
          expr("try_cast(type_raw AS int)") === 1 &&
          col("group_id").isNotNull && col("distribution_channel").isNotNull &&
          element_at(col("distribution_channel"), 1) === 1L)
        .select(cid, cleanField(col("title_raw")).as("title"),
          cleanField(col("notes_raw")).as("notes"),
          expr("try_cast(type_raw AS int)").cast("long").as("type"),
          col("group_id"))
    }
  )

  /** q140's synthetic provider tables + row stream, shared with the
    * STREAMING twin's spec (the cascade itself is in operators/Geocode). */
  private[graft] def geocodeInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
      val k = col("c_custkey")
      val rows = Tables.customer(s, dir).select(
        k.as("custkey"), (k % 300).as("addr_n"),
        when(k % 13 === 0, lit(NationalSvc))
          .when(k % 13 === 1, concat(lit("8G4Q+V2 Site "), (k % 50).cast("string")))
          .when(k % 13 === 2 && k % 2 === 0, lit(AllCountry))
          .otherwise(concat(lit("Addr "), (k % 300).cast("string"))).as("keyword"),
        when(k % 8 =!= 3, concat(lit("RevCity "), (k % 30).cast("string"))).as("rev_cand"))
        .withColumn("is_national", col("keyword").isin(NationalSvc, AllCountry))
        .withColumn("is_plus",
          length(col("keyword")) > 4 && substring(col("keyword"), 5, 1) === "+")
      val cn = col("cn")
      val gm = Tables.customer(s, dir).select((k % 300).as("cn")).distinct()
        .filter(cn % 10 =!= 7)
        .select(cn,
          (lit(180000.0) + (cn % 120).cast("double") * lit(500.0)).as("gx"),
          (lit(500000.0) + (cn % 200).cast("double") * lit(800.0)).as("gy"),
          when(cn % 6 === 0, lit("POI_MID_POINT")).when(cn % 6 === 1, lit("ADDR_V1_NEW"))
            .when(cn % 6 === 2, lit("NEIGHBORHOODS_AREA")).when(cn % 6 === 3, lit("STREET_MID_POINT"))
            .when(cn % 6 === 4, lit("NEW_ADDRESS_POINT")).otherwise(lit("SETL_MID_POINT")).as("dl"),
          concat(lit("Addr "), cn.cast("string"), lit(" | Rehov "),
            (cn % 60).cast("string"), lit(IsraelSuffix)).as("gm_addr"))
      val gn = col("gn")
      val googA = Tables.customer(s, dir).select((k % 300).as("gn")).distinct()
        .filter(gn % 4 =!= 1)
        .select(
          concat(lit("Addr "), gn.cast("string")).as("gkey"),
          when(gn % 5 === 0, lit("ROOFTOP")).when(gn % 5 === 1, lit("GEOMETRIC_CENTER"))
            .when(gn % 5 === 2, lit("GEOMETRIC_CENTER")).when(gn % 5 === 3, lit("APPROXIMATE"))
            .otherwise(lit("RANGE_INTERPOLATED")).as("g_acc0"),
          when(gn % 5 === 1, lit("establishment")).when(gn % 5 === 2, lit("plus_code"))
            .otherwise(lit("locality")).as("quality"),
          concat(lit("G Addr "), gn.cast("string"),
            when(gn % 2 === 0, lit(IsraelSuffix)).otherwise(lit(""))).as("g_addr"),
          when(gn % 3 === 0, concat(lit("GCity "), (gn % 40).cast("string"))).as("locality"),
          when(gn % 3 === 1, concat(lit("GArea "), (gn % 15).cast("string"))).as("admin2"),
          when(gn % 3 === 2 && gn % 6 =!= 5, concat(lit("GTown "), gn.cast("string"))).as("gcity"),
          (lit(31.0) + (gn % 100).cast("double") * lit(0.01)).as("g_lat"),
          (lit(34.5) + (gn % 80).cast("double") * lit(0.01)).as("g_lng"))
      val m = col("m")
      val googB = Tables.customer(s, dir).select((k % 50).as("m")).distinct()
        .filter(m % 9 =!= 5)
        .select(
          concat(lit("8G4Q+V2 Site "), m.cast("string")).as("gkey"),
          lit("GEOMETRIC_CENTER").as("g_acc0"), lit("plus_code").as("quality"),
          concat(lit("Plus "), m.cast("string")).as("g_addr"),
          when(m % 3 === 0, concat(lit("PCity "), m.cast("string"))).as("locality"),
          when(m % 3 === 1, concat(lit("PArea "), m.cast("string"))).as("admin2"),
          lit(null).cast("string").as("gcity"),
          (lit(32.0) + m.cast("double") * lit(0.001)).as("g_lat"),
          (lit(34.8) + m.cast("double") * lit(0.001)).as("g_lng"))
    (rows, gm, googA.unionByName(googB))
  }
}
