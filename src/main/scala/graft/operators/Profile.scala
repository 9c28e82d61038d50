package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed table profiler — the data-quality report every ingest runs
  * first (reference posture: srm_etl leans on dataflows' row-count/field
  * stats; a 100 TB corpus needs the same numbers without rescanning per
  * column).
  *
  * TWO passes regardless of column count, split on a MEASURED rule
  * (ProfProfile, 20M rows × 8 columns, noop sink — a count() sink lets
  * Catalyst prune no-group aggregates and "measure" 97 ms):
  *   - pass A: ONE aggregate row carrying row count + per-column
  *     non-null count and typed min/max (rendered to strings post-agg);
  *   - pass B: ONE distinct-only aggregate row — the N count(DISTINCT)
  *     Expand rewrite, hash-aggregable, partial distinct on (gid, value)
  *     collapsing before any exchange: 3.5–5.5 s, the fastest exact
  *     encoding (beats an unpivot-to-(col_name, value) by ~25% — no
  *     per-cell string render).
  *
  * Why the split is load-bearing: putting the string-buffered min/max in
  * the SAME aggregate as the distincts forces a SortAggregate over the
  * Expand-replicated stream — a SORT of rows × (N+1) replicas — measured
  * at 43–52 s, a 7× disaster. Keep non-hashable aggregation buffers out
  * of any pass that Expands.
  *
  * Floats render through DECIMAL(18,2) for min/max output so the report
  * is engine-portable (shortest-roundtrip double printing differs across
  * engines); NDV counts RAW values — no render distortion. DOCUMENTED
  * RANGE LIMIT: |value| must fit DECIMAL(18,2) (< 1e16) and be finite —
  * beyond it the non-ANSI cast renders min/max as NULL while n_nulls
  * still reads 0 (a contradictory-looking row). Widening the decimal is
  * NOT a free fix: double→decimal rounding at high magnitudes is not
  * bit-stable across engines, which would break the hash gate — profile
  * epoch-micros-sized columns as longs, not doubles.
  */
object Profile {

  private def render(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => c.cast(DecimalType(18, 2)).cast(StringType)
    case _ => c.cast(StringType)
  }

  /** Profile `cols` of `df`: one row per column —
    * (col_name, n_rows, n_nulls, n_distinct, min_s, max_s).
    *
    * Both passes are compute-heavy per row, so a caller on a table with
    * fewer splits than cores spreads `df` first
    * ([[Relational.spreadForCompute]]): both passes then consume the
    * identical exchange, and ReuseExchange plans one scan + one shuffle
    * (PlanSpec pins it for q104). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: need at least one column")
    require(cols.distinct.size == cols.size,
      "profile: duplicate column names produce ambiguous aggregate aliases")
    val types = cols.map(c => c -> df.schema(c).dataType).toMap
    val base = df.select(cols.map(col): _*)

    // pass A: single aggregate row, then stack it back out to per-column rows
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__n"),
        render(min(col(c)), types(c)).as(s"${c}__min"),
        render(max(col(c)), types(c)).as(s"${c}__max"))
    }
    val one = base.agg(count(lit(1)).as("__rows"), aggs: _*)
    val stackArgs = cols.flatMap { c =>
      Seq(lit(c), col(s"${c}__n"), col(s"${c}__min"), col(s"${c}__max"))
    }
    val passA = one.select(col("__rows"),
        stack((Seq(lit(cols.size)) ++ stackArgs): _*)
          .as(Seq("col_name", "n_vals", "min_s", "max_s")))
      .select(col("col_name"), col("__rows").as("n_rows"),
        (col("__rows") - col("n_vals")).as("n_nulls"), col("min_s"), col("max_s"))

    // pass B: distinct-only Expand aggregate on RAW values (hash-
    // aggregable — no string buffers here, see scaladoc), stacked out
    val oneD = base.agg(count_distinct(col(cols.head)).as(s"${cols.head}__d"),
      cols.tail.map(c => count_distinct(col(c)).as(s"${c}__d")): _*)
    val dArgs = cols.flatMap { c => Seq(lit(c), col(s"${c}__d")) }
    val passB = oneD.select(
      stack((Seq(lit(cols.size)) ++ dArgs): _*).as(Seq("col_name", "n_distinct")))

    // both sides are #cols rows — broadcast join, deterministic output
    passA.join(broadcast(passB), Seq("col_name"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
        col("min_s"), col("max_s"))
  }

  /** ONE-pass variant for the sketch regime: approx NDV
    * (HyperLogLog++) rides the same aggregate row as the stats, so the
    * whole profile is a single scan with no unpivot, no second
    * exchange, and bounded aggregate state per column. Sketch values
    * are engine-specific (not oracle-replayable) — q104 registers the
    * exact form; this is the 100 TB swap, same posture as q74's
    * percentile_approx note.
    *
    * `rsd` trades precision against the aggregate ROW WIDTH, not just
    * sketch memory: the HLL++ buffer is ceil(2^p / 10) LONG
    * aggregation-buffer slots PER COLUMN (6-bit registers, ~10 packed
    * per long; rsd 0.02 → p=12 → ~410 longs × 11 columns ≈ 4.5k buffer
    * attributes — far past the ~100-field codegen cutoff). Measured
    * (ProfHllRsd, sf0.1 lineitem, 11 cols): rsd 0.02 = 2.2–3.7 s /
    * 2.0% worst error; rsd 0.05 = 1.3 s / 6.0%; rsd 0.1 = 1.2 s
    * (scan-bound) / 14%. Default 0.05 — the knee. */
  def profileApprox(df: DataFrame, cols: Seq[String],
                    rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "profile: need at least one column")
    require(cols.distinct.size == cols.size,
      "profile: duplicate column names produce ambiguous aggregate aliases")
    val types = cols.map(c => c -> df.schema(c).dataType).toMap
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__n"),
        approx_count_distinct(col(c), rsd = rsd).as(s"${c}__d"),
        render(min(col(c)), types(c)).as(s"${c}__min"),
        render(max(col(c)), types(c)).as(s"${c}__max"))
    }
    val one = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val stackArgs = cols.flatMap { c =>
      Seq(lit(c), col(s"${c}__n"), col(s"${c}__d"), col(s"${c}__min"), col(s"${c}__max"))
    }
    one.select(col("__rows"),
        stack((Seq(lit(cols.size)) ++ stackArgs): _*)
          .as(Seq("col_name", "n_vals", "n_distinct", "min_s", "max_s")))
      .select(col("col_name"), col("__rows").as("n_rows"),
        (col("__rows") - col("n_vals")).as("n_nulls"), col("n_distinct"),
        col("min_s"), col("max_s"))
  }
}
