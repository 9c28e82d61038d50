package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All registered query families (SURVEY.md §2). */
  private def allDefs: Map[String, QueryDef] = mergeUnique(Seq(
    RelationalQueries.defs, EtlQueries.defs, EventQueries.defs,
    LlmQueries.defs, DeriveQueries.defs, UpdateQueries.defs,
    TaggingQueries.defs, GeoQueries.defs, EsQueries.defs,
    CurationQueries.defs, ToolsQueries.defs, PipelineQueries.defs,
    PreprocessQueries.defs, SamplingQueries.defs, CleaningQueries.defs,
    CorpusQueries.defs, PlacesQueries.defs, MediaQueries.defs,
    ProfileQueries.defs, AnalyticsQueries.defs, ConnectorQueries.defs,
    BenchmarkQueries.defs))

  /** Union of query families. A name registered twice, inside one family
    * or by two, throws: a map would silently keep only one of the two
    * queries. */
  private[graft] def mergeUnique(families: Seq[Seq[(String, QueryDef)]]): Map[String, QueryDef] = {
    val all = families.flatten
    val dups = all.groupBy(_._1).collect { case (name, defs) if defs.size > 1 => name }
    require(dups.isEmpty, s"query names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    all.toMap
  }

  /** Flagship on /root/testdata/sf0.001 (driver smoke-checks rows>0): the
    * full card-derivation pipeline — the reference's to_dp.py flow
    * composed end-to-end from the library's operators. */
  def entry(spark: SparkSession): DataFrame =
    graft.pipelines.CardPipeline.cards(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (name, d) => name -> d.build }

  /** The registered queries a `SPARK_GRAFT_ONLY` value selects (the
    * Bench and Verify mains' local-iteration filter): comma-separated
    * name prefixes, each trimmed. Unset or blank selects every query. A
    * prefix that matches no query throws, so a typo never reads as a
    * green run over nothing. */
  def selectedQueries(only: Option[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val prefixes = only.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val qs = queries
    val unmatched = prefixes.filterNot(p => qs.keys.exists(_.startsWith(p)))
    require(unmatched.isEmpty,
      s"SPARK_GRAFT_ONLY prefixes match no registered query: ${unmatched.mkString(", ")}")
    if (prefixes.isEmpty) qs else qs.filter { case (n, _) => prefixes.exists(n.startsWith) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (name, QueryDef(_, Some(sql))) => name -> sql }
}
