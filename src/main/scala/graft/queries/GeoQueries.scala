package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{GeoMath, GeoProjection}

/** SURVEY.md §2 — real geo clustering (to_mapbox.py:97 `geo_data_flow`):
  * project ITM coordinates to WGS84 (operators/geocode/__init__.py:21,
  * natively via [[GeoMath]]), derive the reference's fixed-format
  * `point_id` (helpers.py:57 `calc_point_id` — '{:08.5f}' per coordinate,
  * dot stripped), then aggregate full records per point with the
  * `geo_data_flow` fields: record array, most-common response category,
  * `point_title` (to_mapbox.py:74), service/branch counts, single-card id.
  *
  * The synthetic branch coordinates derive deterministically from customer
  * columns (the sandbox has no geometry column); the coordinate grid
  * collides on purpose so points genuinely cluster.
  *
  * The DuckDB oracle replays the projection arithmetic step-for-step with
  * the JVM's own constants interpolated at full precision (see
  * [[GeoMath.Sql]]) — rounding to 5 decimals for the point id sits ~7
  * orders of magnitude above any libm-vs-JVM transcendental ulp noise.
  */
object GeoQueries {

  private val g = GeoMath.Sql

  /** The projection chain as DuckDB CTEs over (e, n) columns: Redfearn TM
    * inverse -> geodetic Israel93 -> geocentric + datum shift -> WGS84
    * geodetic (6 unrolled fixed-point iterations, matching GeoMath).
    * Shared with q64's full-pipeline oracle (PipelineQueries). */
  private[queries] def projectionCtes: String = {
    val iter = (1 to 6).map { i =>
      val prev = if (i == 1) "lat0" else s"lat${i - 1}"
      s"""g$i AS (SELECT *, atan2(z + ${g.e2} * (${g.a} / sqrt(1 - ${g.e2} * sin($prev) * sin($prev))) * sin($prev), p) AS lat$i FROM g${if (i == 1) "0" else (i - 1).toString})"""
    }.mkString(",\n")
    s"""i1 AS (SELECT *, (${g.merLat0} + (n - ${g.fn}) / ${g.k0}) / ${g.muDen} AS mu FROM src),
       |i2 AS (SELECT *, mu + ${g.fp2} * sin(2 * mu) + ${g.fp4} * sin(4 * mu) + ${g.fp6} * sin(6 * mu) + ${g.fp8} * sin(8 * mu) AS fp FROM i1),
       |i3 AS (SELECT *,
       |  sin(fp) AS sinfp, cos(fp) AS cosfp, tan(fp) AS tanfp,
       |  ${g.ep2} * cos(fp) * cos(fp) AS c1, tan(fp) * tan(fp) AS t1,
       |  ${g.a} / sqrt(1 - ${g.e2} * sin(fp) * sin(fp)) AS n1,
       |  ${g.a} * (1 - ${g.e2}) / pow(1 - ${g.e2} * sin(fp) * sin(fp), 1.5) AS r1
       |  FROM i2),
       |i4 AS (SELECT *, (e - ${g.fe}) / (n1 * ${g.k0}) AS d FROM i3),
       |i5 AS (SELECT *,
       |  (fp - (n1 * tanfp / r1) * (d * d / 2
       |    - (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * ${g.ep2}) * pow(d, 4) / 24
       |    + (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * ${g.ep2} - 3 * c1 * c1) * pow(d, 6) / 720)) * 180.0 / pi() AS lat_isr,
       |  (${g.lon0} + (d - (1 + 2 * t1 + c1) * pow(d, 3) / 6
       |    + (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * ${g.ep2} + 24 * t1 * t1) * pow(d, 5) / 120) / cosfp) * 180.0 / pi() AS lon_isr
       |  FROM i4),
       |gc AS (SELECT *,
       |  (${g.a} / sqrt(1 - ${g.e2} * sin(lat_isr / 180.0 * pi()) * sin(lat_isr / 180.0 * pi()))) * cos(lat_isr / 180.0 * pi()) * cos(lon_isr / 180.0 * pi()) + ${g.dx} AS x,
       |  (${g.a} / sqrt(1 - ${g.e2} * sin(lat_isr / 180.0 * pi()) * sin(lat_isr / 180.0 * pi()))) * cos(lat_isr / 180.0 * pi()) * sin(lon_isr / 180.0 * pi()) + ${g.dy} AS y,
       |  (${g.a} / sqrt(1 - ${g.e2} * sin(lat_isr / 180.0 * pi()) * sin(lat_isr / 180.0 * pi()))) * (1 - ${g.e2}) * sin(lat_isr / 180.0 * pi()) + ${g.dz} AS z
       |  FROM i5),
       |g0 AS (SELECT *, atan2(y, x) AS lon_r, sqrt(x * x + y * y) AS p, atan2(z, sqrt(x * x + y * y) * (1 - ${g.e2})) AS lat0 FROM gc),
       |$iter,
       |wgs AS (SELECT *, lat6 * 180.0 / pi() AS wgs_lat, lon_r * 180.0 / pi() AS wgs_lon FROM g6)""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // q43: geo clustering over projected coordinates. Plan: the
    // projection math runs once per cell of the 500-cell grid domain and
    // broadcasts back onto the customer rows, then two key-partitioned
    // aggregations on point_id (record rollup + category mode); point_id
    // is high-cardinality at scale so both shuffles stay balanced.
    "q43_geo_points" -> QueryDef.of(
      s"""WITH src AS (
         |  SELECT c_custkey, c_name, c_mktsegment, c_nationkey, c_acctbal,
         |    150000.0 + (c_custkey % 20) * 5000.0 AS e,
         |    450000.0 + (c_nationkey % 25) * 10000.0 AS n
         |  FROM customer
         |),
         |$projectionCtes,
         |pts AS (
         |  SELECT replace(printf('%08.5f', wgs_lon), '.', '') || replace(printf('%08.5f', wgs_lat), '.', '') AS point_id,
         |    c_custkey, c_name, c_mktsegment, c_nationkey, c_acctbal,
         |    concat_ws(';',
         |      'card_id=' || CAST(c_custkey AS VARCHAR),
         |      'name=' || c_name,
         |      'category=' || c_mktsegment,
         |      'phone=' || CASE WHEN c_custkey % 5 <> 0 THEN '050-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') END,
         |      'address=' || nullif(CASE WHEN c_custkey % 3 = 0 THEN '' ELSE 'addr ' || CAST(c_custkey % 500 AS VARCHAR) END, ''),
         |      'unit=' || CASE WHEN c_custkey % 2 <> 0 THEN 'unit ' || CAST(c_custkey % 4 AS VARCHAR) END,
         |      'geometry=' || printf('%.5f,%.5f', wgs_lon, wgs_lat)) AS record
         |  FROM wgs
         |),
         |agg AS (
         |  SELECT point_id,
         |    CAST(COUNT(*) AS BIGINT) AS service_count,
         |    CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS branch_count,
         |    array_to_string(list_sort(list(record)), '|') AS records,
         |    min(c_name) AS bn,
         |    CAST(COUNT(DISTINCT c_name) AS BIGINT) AS n_names,
         |    bool_or(c_acctbal > 0) AS branch_location_accurate,
         |    min(c_custkey) AS min_key
         |  FROM pts GROUP BY point_id
         |),
         |md AS (
         |  SELECT point_id, c_mktsegment AS response_category,
         |    row_number() OVER (PARTITION BY point_id ORDER BY COUNT(*) DESC, c_mktsegment) AS rn
         |  FROM pts GROUP BY point_id, c_mktsegment
         |)
         |SELECT a.point_id, a.service_count, a.branch_count, m.response_category,
         |  CASE WHEN a.n_names > 1
         |       THEN (CASE WHEN length(a.bn) > 20 THEN substr(a.bn, 1, 20) || '…' ELSE a.bn END) || '  +' || CAST(a.n_names - 1 AS VARCHAR)
         |       ELSE (CASE WHEN length(a.bn) > 20 THEN substr(a.bn, 1, 20) || '…' ELSE a.bn END) || (CASE WHEN NOT a.branch_location_accurate THEN '*' ELSE '' END)
         |  END AS title,
         |  CASE WHEN a.service_count = 1 THEN CAST(a.min_key AS VARCHAR) ELSE NULL END AS card_id,
         |  a.branch_location_accurate, a.records
         |FROM agg a JOIN md m ON a.point_id = m.point_id AND m.rn = 1
         |""".stripMargin) { (s, dir) =>
      val projected = GeoProjection.withWgs84(
        Tables.customer(s, dir)
          .withColumn("easting", Tables.ItmGrid.easting(col("c_custkey")))
          .withColumn("northing", Tables.ItmGrid.northing(col("c_nationkey"))),
        "easting", "northing", "geometry", Tables.ItmGrid.domain(s))
      // Record payload compaction (to_mapbox.py:89 preprocess_field + the
      // tile-size concern the records array exists for): the record keeps
      // only non-null, non-empty fields — concat_ws SKIPS null entries,
      // which is exactly the dict-compaction a tile payload wants — and
      // branch_geometry serializes as the float pair. Computed as a plain
      // column BEFORE the groupBy (lesson 14: ObjectHashAggregate inputs
      // evaluate interpreted).
      val addrRaw = when(col("c_custkey") % 3 === 0, lit(""))
        .otherwise(concat(lit("addr "), (col("c_custkey") % 500).cast("string")))
      val record = concat_ws(";",
        concat(lit("card_id="), col("c_custkey").cast("string")),
        concat(lit("name="), col("c_name")),
        concat(lit("category="), col("c_mktsegment")),
        concat(lit("phone="), when(col("c_custkey") % 5 =!= 0,
          concat(lit("050-"), lpad((col("c_custkey") % 10000).cast("string"), 4, "0")))),
        concat(lit("address="), when(addrRaw =!= "", addrRaw)),
        concat(lit("unit="), when(col("c_custkey") % 2 =!= 0,
          concat(lit("unit "), (col("c_custkey") % 4).cast("string")))),
        concat(lit("geometry="), format_string("%.5f,%.5f",
          element_at(col("geometry"), 1), element_at(col("geometry"), 2))))
      val pts = projected.select(
        GeoProjection.pointId(col("geometry")).as("point_id"),
        col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_nationkey"), col("c_acctbal"),
        record.as("record"))
      // ONE pass over the projected rows: partial aggregates per
      // (point, category), then per point — the category mode falls out
      // as min(struct(-cnt, category)) with q15's deterministic ties
      // (count desc, category asc), replacing a second scan + join.
      val lvl1 = pts.groupBy(col("point_id"), col("c_mktsegment"))
        .agg(
          count(lit(1)).as("cnt"),
          collect_list(col("record")).as("recs"),
          collect_set(col("c_nationkey")).as("nset"),
          collect_set(col("c_name")).as("names"),
          max(col("c_acctbal") > 0).as("acc"),
          min(col("c_custkey")).as("mk"),
          min(col("c_name")).as("seg_bn"))
      val agg = lvl1.groupBy(col("point_id"))
        .agg(
          sum(col("cnt")).as("service_count"),
          size(array_distinct(flatten(collect_list(col("nset"))))).cast("long").as("branch_count"),
          array_join(sort_array(flatten(collect_list(col("recs")))), "|").as("records"),
          min(col("seg_bn")).as("bn"),
          size(array_distinct(flatten(collect_list(col("names"))))).cast("long").as("n_names"),
          max(col("acc")).as("branch_location_accurate"),
          min(col("mk")).as("min_key"),
          min(struct((-col("cnt")).as("neg"), col("c_mktsegment").as("cat"))).as("md"))
        .withColumn("response_category", col("md.cat"))
      val bnT = when(length(col("bn")) > 20, concat(substring(col("bn"), 1, 20), lit("…")))
        .otherwise(col("bn"))
      agg
        .select(
          col("point_id"), col("service_count"), col("branch_count"), col("response_category"),
          when(col("n_names") > 1,
            concat(bnT, lit("  +"), (col("n_names") - 1).cast("string")))
            .otherwise(concat(bnT,
              when(!col("branch_location_accurate"), lit("*")).otherwise(lit("")))).as("title"),
          when(col("service_count") === 1, col("min_key").cast("string")).otherwise(lit(null)).as("card_id"),
          col("branch_location_accurate"), col("records"))
    }
  )
}
