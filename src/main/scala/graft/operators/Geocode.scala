package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The geocoding provider CASCADE (operators/geocode/__init__.py:19) as
  * a reusable operator: national short-circuit, plus-code skip, govmap
  * lookup + ITM→WGS84 + accuracy gate, google fallthrough with the
  * quality mapping and city ladder, NOT_FOUND with partial retention,
  * and the address cleanup. One realization serves BATCH (q140) and
  * STREAMING: every step is a broadcast lookup against a static frame,
  * so on a stream the cascade is stream-static joins with ZERO state.
  *
  * Input contracts (column names fixed):
  *  - rows: custkey, keyword, addr_n, rev_cand, is_national, is_plus
  *  - gm (govmap cache): cn, gx, gy, dl, gm_addr
  *  - goog: gkey, g_acc0, quality, g_addr, locality, admin2, gcity,
  *    g_lat, g_lng
  */
object Geocode {

  val NationalService = "שירות ארצי"
  val AllCountry = "כל הארץ"
  val IsraelSuffix = ", ישראל" // 7 chars, stripped from resolved addresses
  val BranchUrlTag = "#אתר הסניף"

  /** derive/helpers.py:10 ACCURATE_TYPES. */
  val AccurateTypes = Seq("ROOFTOP", "RANGE_INTERPOLATED", "STREET_MID_POINT",
    "ADDR_V1", "ADDRESS_POINT", "ADDRESS")

  def cascade(rows: DataFrame, gm: DataFrame, goog: DataFrame): DataFrame = {
    val cn = col("cn")
    val j1 = rows.join(broadcast(gm), col("addr_n") === cn, "left")
      .withColumn("gm_hit", !col("is_national") && !col("is_plus") && cn.isNotNull)
      .withColumn("e_itm", when(col("gm_hit"), col("gx")))
      .withColumn("n_itm", when(col("gm_hit"), col("gy")))
    // every non-null (e_itm, n_itm) is some gm row's (gx, gy)
    val proj = GeoProjection.withWgs84(j1, "e_itm", "n_itm", "geom",
      gm.select(col("gx").as("e_itm"), col("gy").as("n_itm")))
    val j2 = proj.join(broadcast(goog), col("keyword") === col("gkey"), "left")
    val gmAcc = trim(replace(col("dl"), lit("NEW"), lit("")), "_")
    val gmAccOk = gmAcc.isin(AccurateTypes: _*)
    val googTry = !col("is_national") && (!col("gm_hit") || !gmAccOk)
    val googOk = googTry && col("gkey").isNotNull
    val gAcc = when(col("is_plus"), lit("ADDR_V1"))
      .when(col("g_acc0") === "GEOMETRIC_CENTER" && col("quality") === "establishment", lit("POI_MID_POINT"))
      .when(col("g_acc0") === "GEOMETRIC_CENTER" && col("quality") === "plus_code", lit("ROOFTOP"))
      .otherwise(col("g_acc0"))
    val addrPre = when(col("is_national"), lit(NationalService))
      .when(googOk, when(col("is_plus"), col("keyword")).otherwise(col("g_addr")))
      .when(col("gm_hit"), col("gm_addr"))
    val fLat = when(googOk, col("g_lat")).when(col("gm_hit"), element_at(col("geom"), 2))
    val fLon = when(googOk, col("g_lng")).when(col("gm_hit"), element_at(col("geom"), 1))
    val cityG = when(googOk, coalesce(col("locality"), col("admin2"), col("gcity")))
    val addr1 = when(addrPre.endsWith(IsraelSuffix),
      addrPre.substr(lit(1), length(addrPre) - 7)).otherwise(addrPre)
    j2.select(
      col("custkey"), col("keyword"),
      when(googTry && !googOk, lit("NOT_FOUND")).otherwise(lit("VALID")).as("status"),
      when(col("is_national"), lit("national")).when(googOk, lit("google"))
        .when(col("gm_hit"), lit("govmap")).as("provider"),
      when(col("is_national"), lit("NATIONAL_SERVICE")).when(googOk, gAcc)
        .when(col("gm_hit"), gmAcc).as("accuracy"),
      replace(addr1, lit(" | "), lit(", ")).as("resolved_address"),
      when(cityG.isNotNull, cityG)
        .when(fLat.isNotNull && fLon.isNotNull, coalesce(col("rev_cand"), lit("unknown")))
        .as("resolved_city"),
      when(fLat.isNotNull, format_string("%.5f", fLat)).as("resolved_lat"),
      when(fLon.isNotNull, format_string("%.5f", fLon)).as("resolved_lon"))
  }
}
