package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Open Location Code ("plus code") encoding, the reference's branch
  * location key (operators/entities/__init__.py:276 `calc_location_key`:
  * `olc.encode(lat, lng, 11)` when coordinates exist, address otherwise).
  *
  * The algorithm is Google's published OLC spec (integer form, as in the
  * open-source reference implementations): clip/shift the coordinates to
  * positive ranges, scale latitude by 20^3·5^5 = 2.5e7 and longitude by
  * 20^3·4^5 = 8.192e6, truncate to integers, then peel digits — five
  * base-20 digit PAIRS (lat, lng interleaved, most significant first)
  * followed by refinement digits from a 4×5 grid; a '+' separator lands
  * after digit 8. Code length 11 = 8 digits + '+' + 3 digits, one of
  * which (the 11th) is the first grid digit.
  *
  * Everything below is integer div/mod over those two scaled values, so
  * the whole code stays inside whole-stage codegen as a pure column
  * expression (no UDF), and a DuckDB oracle replays it digit-for-digit
  * ([[Olc.Sql]]). The spec's pole clamp (lat=90 encodes as the max 'CFX…'
  * band cell — the published pole vector) and antimeridian wrap (lng mod
  * 360 in scaled-integer space) are applied in every realization, after
  * which both scaled values are non-negative, so `floor` division and
  * truncation agree across engines.
  */
object Olc {

  private val Alphabet = "23456789CFGHJMPQRVWX"

  /** 20^3 * 5^5: scale that makes every lat digit of a 15-digit code an
    * integer divisor. */
  val LatPrecision = 25000000L

  /** 20^3 * 4^5: same for longitude (grid columns = 4). */
  val LngPrecision = 8192000L

  private def alphaAt(idx: Column): Column =
    lit(Alphabet).substr(idx + 1, lit(1))

  /** Scaled integer values (lat clamped into its band, lng wrapped mod
    * 360 in scaled space — the spec's pole/antimeridian handling);
    * shared by every digit extraction. */
  private def scaled(lat: Column, lng: Column): (Column, Column) = {
    val latRaw = floor((lat + lit(90.0)) * lit(LatPrecision.toDouble)).cast("long")
    val lngRaw = floor((lng + lit(180.0)) * lit(LngPrecision.toDouble)).cast("long")
    val latClamped = least(greatest(latRaw, lit(0L)), lit(4499999999L))
    val lngWrapped = ((lngRaw % lit(2949120000L)) + lit(2949120000L)) % lit(2949120000L)
    (latClamped, lngWrapped)
  }

  /** Length-11 plus code: the fused NATIVE Expression (one StringBuilder
    * loop in the stage's generated Java — see
    * [[graft.functions.expressions.OlcEncode11]]; the composed tree below
    * re-derives each digit separately and concat-allocates per piece). */
  def encode11(lat: Column, lng: Column): Column =
    graft.functions.expressions.OlcEncode11(lat, lng)

  /** The original composed-function form — kept as the independent
    * realization the property tests pin the native kernel against (and
    * the baseline of the ~4x kernel measurement in BASELINE.md). */
  def encode11Composed(lat: Column, lng: Column): Column = {
    val (latVal, lngVal) = scaled(lat, lng)
    // Pair section: drop the 5 grid digits (lat ÷ 5^5, lng ÷ 4^5), then
    // the k-th most significant base-20 digit is (q div 20^(4-k)) % 20.
    val latQ = (latVal / lit(3125L)).cast("long")
    val lngQ = (lngVal / lit(1024L)).cast("long")
    def pairDigit(q: Column, p: Long): Column = alphaAt(((q / lit(p)).cast("long") % 20).cast("int"))
    // 11th digit: the most significant grid digit — row = (lat ÷ 5^4) % 5,
    // col = (lng ÷ 4^4) % 4, index = row*4 + col into the same alphabet.
    val gridIdx = (((latVal / lit(625L)).cast("long") % 5) * 4 +
      ((lngVal / lit(256L)).cast("long") % 4)).cast("int")
    concat(
      pairDigit(latQ, 160000L), pairDigit(lngQ, 160000L),
      pairDigit(latQ, 8000L), pairDigit(lngQ, 8000L),
      pairDigit(latQ, 400L), pairDigit(lngQ, 400L),
      pairDigit(latQ, 20L), pairDigit(lngQ, 20L),
      lit("+"),
      pairDigit(latQ, 1L), pairDigit(lngQ, 1L),
      alphaAt(gridIdx))
  }

  /** Length-10 plus code — the library's DEFAULT precision (pair digits
    * only, no grid refinement): the first 8 digits, '+', digits 9-10.
    * meser's `olc.encode(GisY, GisX)` (operators/meser/__init__.py:130)
    * uses this form. */
  def encode10(lat: Column, lng: Column): Column =
    substring(encode11(lat, lng), 1, 11)

  /** The identical digit peel as a DuckDB SQL expression (the oracle
    * side). `lat`/`lng` are SQL sub-expressions. */
  object Sql {
    def encode11(lat: String, lng: String): String = {
      val latVal = s"least(greatest(CAST(floor(($lat + 90.0) * 25000000.0) AS BIGINT), 0), 4499999999)"
      val lngVal = s"(((CAST(floor(($lng + 180.0) * 8192000.0) AS BIGINT) % 2949120000) + 2949120000) % 2949120000)"
      def alpha(idx: String) = s"substr('23456789CFGHJMPQRVWX', ($idx) + 1, 1)"
      def pair(q: String, p: Long) = alpha(s"CAST((($q) // $p) % 20 AS INT)")
      val latQ = s"(($latVal) // 3125)"
      val lngQ = s"(($lngVal) // 1024)"
      val grid = alpha(s"CAST(((($latVal) // 625) % 5) * 4 + ((($lngVal) // 256) % 4) AS INT)")
      Seq(
        pair(latQ, 160000L), pair(lngQ, 160000L),
        pair(latQ, 8000L), pair(lngQ, 8000L),
        pair(latQ, 400L), pair(lngQ, 400L),
        pair(latQ, 20L), pair(lngQ, 20L),
        "'+'",
        pair(latQ, 1L), pair(lngQ, 1L),
        grid).mkString("(", " || ", ")")
    }

    /** First 11 chars of the length-11 form = the default length-10 code. */
    def encode10(lat: String, lng: String): String =
      s"substr(${encode11(lat, lng)}, 1, 11)"
  }
}
