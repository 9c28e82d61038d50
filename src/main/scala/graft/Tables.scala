package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

/** Loaders for the driver's test tables (see TESTDATA.md).
  *
  * Parquet scans are the engine's only fact-table input locally; schema
  * comes from the parquet footer (no inference pass). All queries go
  * through these helpers so that predicate pushdown / column pruning can
  * be asserted in one place (see `explain("formatted")` checks in tests).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.ts` has shipped in two parquet layouts across driver data
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read nanos as long via the legacy conf and floor-truncate
    * to micros, the same truncation DuckDB applies to TIMESTAMP_NS) and
    * plain TIMESTAMP(MICROS, unadjusted) (which resolves natively as
    * TIMESTAMP_NTZ). Dispatch on the footer-resolved type and normalize
    * BOTH to session-timezone TIMESTAMP — the engine runs UTC, so the
    * NTZ→LTZ cast is instant-preserving and every downstream plan,
    * written schema, and oracle (`epoch_ms`/`epoch_us`) sees the exact
    * values either way.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Scope the legacy conf to this read: schema resolution happens
    // eagerly inside spark.read.parquet, so set/restore cannot leak the
    // setting into unrelated reads in the same session. (With a MICROS
    // footer the conf is a no-op.)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val raw = table(spark, dir, "events")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case _ =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Synthetic ITM branch coordinates: the test tables carry no geometry,
    * so q43 and the card pipeline place each row on a 20×25 grid from two
    * integer keys (easting from `key % 20`, northing from `key % 25`). The
    * grid collides on purpose so points cluster. */
  object ItmGrid {
    def easting(key: Column): Column = lit(150000.0) + (key % 20).cast("double") * 5000.0
    def northing(key: Column): Column = lit(450000.0) + (key % 25).cast("double") * 10000.0

    /** Every grid cell as (easting, northing): the coordinate domain of
      * [[graft.operators.GeoProjection.withWgs84]] for rows placed by
      * [[easting]] and [[northing]] on non-negative keys. */
    def domain(spark: SparkSession): DataFrame = spark.range(20L * 25L).select(
      easting(col("id")).as("easting"),
      (lit(450000.0) + expr("id div 20").cast("double") * 10000.0).as("northing"))
  }
}
