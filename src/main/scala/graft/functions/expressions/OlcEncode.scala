package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd Open Location Code length-11 encoder — the fused
  * form of [[graft.operators.Olc.encode11]]'s composed column tree.
  *
  * The composed form is already whole-stage-codegen'd, but it is 23
  * expression nodes (11 substrings over the alphabet + interleaved
  * concat), each re-deriving its digit through a chain of double
  * divisions, and the concat allocates per piece. Here the two scaled
  * integers are computed ONCE and the 12 chars append into a single
  * StringBuilder — one tight loop in the stage's generated Java
  * (measured ~4x on the kernel alone; see the r6 OLC datapoint in
  * BASELINE.md).
  * Digit-for-digit the same integer arithmetic, so the DuckDB oracle
  * ([[graft.operators.Olc.Sql]]) is unchanged.
  *
  * Range handling per the spec: latitude clamps into its band (lat=90
  * encodes as the 'CFX…' max cell — the published pole vector), and
  * longitude wraps mod 360 in scaled-integer space. Inputs are doubles
  * end to end; ports that parse decimal STRINGS add a 1e-6 pre-round
  * before truncation to keep textual cell corners exact — with double
  * inputs there is no decimal text to honor, so plain floor (the JS
  * reference's form) is used in all four realizations identically.
  */
case class OlcEncode11(left: Expression, right: Expression) extends BinaryExpression {

  // Applied only through the typed wrapper below (both sides cast to
  // double), so no ExpectsInputTypes machinery — the QuantizeInt8 posture.
  override def dataType: DataType = StringType

  override protected def nullSafeEval(lat: Any, lng: Any): Any =
    UTF8String.fromString(
      OlcEncode11.eval(lat.asInstanceOf[Double], lng.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (latC, lngC) => {
      val a = "\"" + OlcEncode11.Alphabet + "\""
      val latVal = ctx.freshName("latVal")
      val lngVal = ctx.freshName("lngVal")
      val latQ = ctx.freshName("latQ")
      val lngQ = ctx.freshName("lngQ")
      val sb = ctx.freshName("sb")
      val p = ctx.freshName("p")
      s"""
         |long $latVal = (long) Math.floor(($latC + 90.0d) * 2.5E7d);
         |if ($latVal >= 4500000000L) $latVal = 4499999999L;
         |if ($latVal < 0L) $latVal = 0L;
         |long $lngVal = (long) Math.floor(($lngC + 180.0d) * 8192000.0d);
         |$lngVal = (($lngVal % 2949120000L) + 2949120000L) % 2949120000L;
         |final long $latQ = $latVal / 3125L;
         |final long $lngQ = $lngVal / 1024L;
         |final StringBuilder $sb = new StringBuilder(12);
         |for (long $p = 160000L; $p >= 1L; $p /= 20L) {
         |  $sb.append($a.charAt((int) (($latQ / $p) % 20L)));
         |  $sb.append($a.charAt((int) (($lngQ / $p) % 20L)));
         |  if ($p == 20L) $sb.append('+');
         |}
         |$sb.append($a.charAt((int) ((($latVal / 625L) % 5L) * 4L + ($lngVal / 256L) % 4L)));
         |${ev.value} = UTF8String.fromString($sb.toString());
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): OlcEncode11 =
    copy(left = newLeft, right = newRight)
}

object OlcEncode11 {
  val Alphabet = "23456789CFGHJMPQRVWX"

  /** Interpreted twin of the generated Java — byte-identical output
    * (PropertySpec pins interpreted ≡ codegen ≡ the composed tree). */
  def eval(lat: Double, lng: Double): String = {
    val latVal0 = math.floor((lat + 90.0) * 2.5e7).toLong
    val latVal = math.min(math.max(latVal0, 0L), 4499999999L)
    val lngVal0 = math.floor((lng + 180.0) * 8192000.0).toLong
    val lngVal = ((lngVal0 % 2949120000L) + 2949120000L) % 2949120000L
    val latQ = latVal / 3125L
    val lngQ = lngVal / 1024L
    val sb = new java.lang.StringBuilder(12)
    var p = 160000L
    while (p >= 1L) {
      sb.append(Alphabet.charAt(((latQ / p) % 20L).toInt))
      sb.append(Alphabet.charAt(((lngQ / p) % 20L).toInt))
      if (p == 20L) sb.append('+')
      p /= 20L
    }
    sb.append(Alphabet.charAt((((latVal / 625L) % 5L) * 4L + (lngVal / 256L) % 4L).toInt))
    sb.toString
  }

  /** Column wrapper (Spark 4 Columns wrap ColumnNodes, not Expressions). */
  def apply(lat: Column, lng: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      OlcEncode11(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(lat.cast(DoubleType)),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(lng.cast(DoubleType))))
}
