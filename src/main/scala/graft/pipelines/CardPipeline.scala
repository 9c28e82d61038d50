package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.F
import graft.operators.{GeoProjection, Relational}

/** Flagship end-to-end pipeline — the reference's derive flow
  * (operators/derive/to_dp.py `operator`: srm_data_pull -> flat_branches
  * -> flat_services -> flat_table -> card_data) re-expressed over the
  * TPC-H-shaped entities:
  *
  *   organizations -> customer, branches -> orders, services -> lineitem.
  *
  * Every stage is a library operator: surrogate hash keys
  * (srm_tools/hash.py), duplicate-branch merging (to_dp.py:237),
  * first-seen dedup (to_dp.py:580), array-field merging (to_dp.py:84),
  * relevance scoring (to_es.py:24), autocomplete phrases
  * (autocomplete.py:17). One broadcast join for the dimension, shuffles
  * only on entity keys — the shape that scales to the full corpus.
  */
object CardPipeline {

  /** Denormalized "flat branches": orders + their customer (organization),
    * re-keyed by content hash and merged (to_dp.py flat_branches_flow). */
  def flatBranches(spark: SparkSession, dir: String): DataFrame =
    flatBranchesCounted(spark, dir).drop("__branch_merge_n")

  /** [[flatBranches]] carrying the merged-group size per kept row
    * (`__branch_merge_n`) so stage stats need no second scan. */
  private def flatBranchesCounted(spark: SparkSession, dir: String): DataFrame = {
    val orgs = Tables.customer(spark, dir).select(
      col("c_custkey").as("organization_id"),
      col("c_name").as("organization_name"),
      col("c_mktsegment").as("organization_kind"),
      col("c_acctbal").as("organization_balance"),
      // curated short names exist for a subset of organizations
      when(col("c_custkey") % 3 === 0, concat(lit("Org"), (col("c_custkey") % 100).cast("string")))
        .as("organization_short_name"))
    val branches = Tables.orders(spark, dir).select(
      col("o_orderkey").as("branch_id"),
      col("o_custkey").as("organization_id"),
      col("o_orderstatus").as("branch_status"),
      col("o_orderdate").as("branch_date"),
      col("o_orderpriority").as("branch_priority"))
    // r11: branch_key derives from orders columns alone, so it exists
    // BEFORE the dimension join — spreading on it here aligns the layout
    // with the merge aggregate below, which then runs partial+final fused
    // in one 32-way stage (ONE sort of the wide stream instead of a
    // single-task partial sort + exchange + final sort; ProfWall showed
    // the old partial side as a ~0.9 s single task on the one-row-group
    // orders scan). On a many-split corpus scan the spread is a no-op and
    // the aggregate keeps its own exchange — same plan as before.
    //
    // The merge runs BEFORE the dimension join, so its exchange and
    // min_by sort carry orders columns only, not the org payload. The
    // reference merges after the join; the two orders keep the same rows
    // when every merge group is wholly joinable or wholly orphaned (an
    // organization_id with no customer row). branch_key hashes
    // organization_id, so a group shares one organization and the inner
    // join keeps or drops it whole, merge count included. They differ
    // only if the 8-hex-char branch_keys of two organizations collide and
    // one of them is an orphan: merging first may then pick the orphan's
    // row and drop the group, where the reference keeps the joinable row.
    // (branch_date, branch_id) is a total order (branch_id is the orders
    // PK), so the kept row is otherwise the same orders row either way.
    val merged = Relational.dedupKeepFirstAggCounted(
      branches
        .withColumn("branch_key",
          F.hashKey(col("organization_id"), col("branch_status"), col("branch_priority")))
        .transform(Relational.spreadForCompute(_, col("branch_key"))),
      keys = Seq(col("branch_key")),
      order = Seq(col("branch_date"), col("branch_id")),
      countCol = "__branch_merge_n")
      .join(broadcast(orgs), "organization_id")
      // calculate_branch_short_name (helpers.py:61): curated short name
      // wins, full organization name otherwise
      .withColumn("branch_short_name",
        F.branchShortName(col("organization_name"), col("organization_short_name")))
    // branch count per organization as a WINDOW over the merged stream —
    // a groupBy + self-join here makes Spark recompute the whole merged
    // subtree for the aggregate branch (no auto-CSE across plan arms);
    // the window is one extra exchange instead of a second scan+dedup
    merged.withColumn("organization_branch_count",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("organization_id"))).cast("long"))
  }

  /** Full card table: services (lineitems) on merged branches with scores
    * and search fields (to_dp.py flat_table_flow + card_data_flow). */
  def cards(spark: SparkSession, dir: String): DataFrame =
    cardsWithStats(spark, dir)._1

  /** [[cards]] plus the per-stage processing stats the reference threads
    * through its flows (srm_tools/stats.py posture, to_dp.py:30): one
    * (stat, kept, dropped) row per dedup/gate stage. Both frames are lazy;
    * the counters ride the stages' own aggregates (merged-group sizes from
    * [[Relational.dedupKeepFirstAggCounted]]), so evaluating the stats
    * frame adds conditional aggregation, never a rescan-with-different-
    * filter of a stage input. */
  def cardsWithStats(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // r12 (guide §3.3 + the r11 multi-consumer lesson): the merged branch
    // table now feeds THREE plan arms — the narrow (branch_id, branch_key)
    // map the card dedup needs, the wide payload join-back after it, and
    // the branch stage-stat — so it materializes once; unshared, the
    // merge aggregate would re-run per arm (ReuseExchange shares only the
    // exchange below it). ~one row per kept branch: always small next to
    // its own build cost. Released by the runner after the query's action
    // (CheckpointRegistry).
    val branches = graft.CheckpointRegistry.local(flatBranchesCounted(spark, dir), false)
    // service_price is never consumed downstream and the dedup's ordering
    // does not compare it — dropping it here narrows the dedup exchange
    // without touching the kept-row decision.
    val services = Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("branch_id"),
      col("l_linenumber").as("service_seq"),
      col("l_returnflag").as("service_flag"),
      col("l_linestatus").as("service_status"),
      col("l_shipdate").as("service_date"))

    // r12 (guide §2.3/§8 — the same narrow-dedup move as the branch
    // merge): the card dedup used to consume services ⋈ FULL branch
    // payload, so its exchange + min_by sort carried every org/branch
    // column for every service row. card_id and the dedup ordering
    // derive from service columns + branch_key alone, and within a
    // card_id group the branch payload is constant (same branch_id), so
    // deduping the NARROW stream and joining the wide branch row back to
    // the surviving cards is row-for-row identical — the exchange now
    // carries ~6 small columns instead of the full card width.
    val flat = services
      .join(branches.select(col("branch_id"), col("branch_key")), "branch_id")
      .withColumn("service_id", F.hashKey(col("branch_id"), col("service_seq")))
      .withColumn("card_id", F.hashKey(col("branch_key"), col("service_id")))
      // the card dedup aggregate consumes this exchange directly; the
      // join below it decides from its services scan
      .transform(Relational.spreadForCompute(_, services, col("card_id")))

    // unique (service, branch) — the reference's flat-table dedup.
    // (service_date, service_seq) alone is NOT a total order — the test
    // lineitem data repeats line numbers within an order — so the flag/
    // status columns break the tie; fully identical rows merge to
    // identical cards either way.
    val unique = Relational.dedupKeepFirstAggCounted(flat,
      keys = Seq(col("card_id")),
      order = Seq(col("service_date"), col("service_seq"),
        col("service_flag"), col("service_status")),
      countCol = "__card_merge_n")
      // attach the wide branch payload to the SURVIVORS once (the
      // decision pass ran on narrow rows); drop the duplicated key first
      .join(branches.drop("__branch_merge_n", "branch_key"), "branch_id")

    // Geo step (to_dp.py:875 + helpers.py:57): project branch coordinates
    // and derive the fixed-format point_id; national services collapse to
    // the sentinel key like the reference. The coordinates come from the
    // synthetic grid, so the grid is the projection's coordinate domain.
    val withGeo = GeoProjection.withWgs84(
      unique
        .withColumn("easting", Tables.ItmGrid.easting(col("organization_id")))
        .withColumn("northing", Tables.ItmGrid.northing(col("branch_id"))),
      "easting", "northing", "branch_geometry", Tables.ItmGrid.domain(spark))

    val result = withGeo
      .withColumn("national_service", col("organization_id") % 10 === 0)
      // validate_geometry (helpers.py:69): only in-Israel [lon, lat] pairs
      // may produce a point id; invalid geometries get no point (the
      // reference's bbox sanity gate before point derivation)
      .withColumn("point_id",
        when(col("national_service"), lit("national_service"))
          .when(F.validGeometry(col("branch_geometry")),
            GeoProjection.pointId(col("branch_geometry"))))
      // select_address (to_dp.py:231): first preference-ordered field
      // passing the no-English validation (helpers.py:79). The candidates
      // derive so every branch executes: a curated Hebrew address for
      // organization_id % 3 = 0, an invalid (Latin priority text) resolved
      // address for % 3 = 1, and a Hebrew fallback city for the rest.
      .withColumn("branch_address",
        F.selectAddress(
          when(col("organization_id") % 3 === 0,
            concat(lit("כתובת "), (col("branch_id") % 100).cast("string"))),
          when(col("organization_id") % 3 === 1,
            concat(lit("רחוב "), col("branch_priority"))),
          concat(lit("סניף "), (col("organization_id") % 50).cast("string"))))
      // clean_org_name (data_cleaning.py) + collapse_key (to_dp.py:890)
      .withColumn("organization_name",
        trim(regexp_replace(regexp_replace(col("organization_name"), "Customer#0*", ""), "#", "")))
      .withColumn("collapse_key",
        trim(concat_ws(" ", col("organization_name"), col("service_flag"))))
      // normalize_taxonomy_ids (to_dp.py:116) then fix_situations
      // (to_dp.py:99) over the merged id list — the same normalize→fix
      // chain the reference's card derive applies
      .withColumn("situation_ids",
        F.fixSituations(F.normalizeTaxonomyIds(F.mergeArrayFields(
          array(col("service_flag"), col("service_status")),
          array(col("branch_status"))))))
      // transform_phone_numbers (helpers.py:17) over a derived raw value
      .withColumn("organization_phone_numbers",
        F.formatPhoneNumbers(concat(
          lit("05"), (col("organization_id") % 4).cast("string"), lit("-"),
          lpad((col("organization_id") % 10000000).cast("string"), 7, "0"))))
      .withColumn("card_score",
        when(col("organization_balance") > 0, 10.0).otherwise(1.0)
          * sqrt(col("organization_branch_count"))
          * when(col("branch_priority").isin("1-URGENT", "2-HIGH"), 5.0).otherwise(1.0))
      .withColumn("possible_autocomplete", array(
        col("organization_kind"),
        concat(col("organization_kind"), lit(" "), col("branch_priority")),
        concat(lit("services for "), col("organization_kind"))))
      .select(
        col("card_id"), col("service_id"), col("branch_key"), col("branch_id"),
        col("organization_id"), col("organization_name"), col("organization_kind"),
        col("organization_branch_count"), col("branch_short_name"),
        col("branch_address"), col("situation_ids"),
        col("national_service"), col("point_id"), col("collapse_key"),
        col("organization_phone_numbers"),
        col("card_score"), col("possible_autocomplete"))

    def stageStat(name: String, kept: Column, dropped: Column, from: DataFrame) =
      from.agg(kept.cast("long").as("kept"), dropped.cast("long").as("dropped"))
        .select(lit(name).as("stat"), col("kept"), col("dropped"))

    val stats = stageStat("Processing: Branches: Duplicate Branch",
        count(lit(1)), sum(col("__branch_merge_n")) - count(lit(1)), branches)
      .unionByName(stageStat("Processing: Cards: Duplicate Service Branch",
        count(lit(1)), sum(col("__card_merge_n")) - count(lit(1)), unique))
      .unionByName(stageStat("Processing: Cards: No Point",
        sum(when(col("point_id").isNotNull, 1L).otherwise(0L)),
        sum(when(col("point_id").isNull, 1L).otherwise(0L)), result))
    (result, stats)
  }
}
