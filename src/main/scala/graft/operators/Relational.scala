package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The dataflows relational vocabulary re-expressed as Spark combinators.
  *
  * Each operator is a thin declarative wrapper so Catalyst sees plain
  * projections / joins / aggregates and can push filters, prune columns and
  * pick join strategies. Nothing here materializes on the driver.
  */
object Relational {

  /** The one layout-adaptive compute spread: every decision to
    * hash-spread rows for a CPU-bound chain is made here.
    *
    * A CPU-heavy map chain downstream of a scan is bounded by the scan's
    * split count, and parquet cannot split below a row group, so on a
    * table with fewer splits than cores such a chain runs on a few tasks
    * (guide §2.5: "input skew: one huge unsplittable file … repartition
    * immediately after the read"). An UNCONDITIONAL repartition is the
    * 100 TB anti-pattern: where the scan already has thousands of splits
    * the exchange buys nothing and ships the whole payload once. So the
    * spread fires only when `decideBy`'s planned partition count is below
    * the session's `defaultParallelism`, and then hash-partitions `df` on
    * `keys` into exactly that many partitions. Locally (1-3 splits) it
    * spreads; on a real corpus it is a planner-time no-op that returns
    * `df` itself. Hashing on a deterministic high-cardinality key, not
    * round-robin: a keyless repartition(n) sorts its whole input first
    * (sortBeforeRepartition, for retry determinism; measured 0.8 s
    * single-task on a 600k-row spread), while hashing is map-side free.
    * Results are partitioning-invariant, so the decision never changes
    * an output.
    *
    * `decideBy` is the frame whose planned split count decides; it
    * defaults to `df` (Scala allows no default next to varargs, hence the
    * overload). Reading the count plans `decideBy`'s whole subtree, and
    * under AQE planning a join or aggregate runs its shuffle stages. So a
    * caller that spreads a frame with a join or aggregate below it passes
    * the input scan that frame's layout derives from: q65's card spread
    * deciding from its services scan instead of the mid-pipeline join cut
    * its build from 2.3 s to 0.75 s (BASELINE.md, r11-opt).
    *
    * `spark.graft.spread.assertMinKeys` (unset by default) is a dev/test
    * guard, not a production setting: when armed, every firing spread
    * runs one approx_count_distinct job over `df` at construction and
    * throws if the key tuple has fewer distinct values than the floor. A
    * low-cardinality key would hash the input into a handful of
    * partitions and serialize the stage the spread exists to parallelize
    * (guide §2.5 wants 20-100x more distinct keys than partitions).
    * SpreadKeySpec arms it and constructs every spread-bearing query.
    */
  def spreadForCompute(df: DataFrame, keys: Column*): DataFrame =
    spreadForCompute(df, df, keys: _*)

  def spreadForCompute(df: DataFrame, decideBy: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (decideBy.rdd.getNumPartitions >= target) df
    else {
      df.sparkSession.conf.getOption("spark.graft.spread.assertMinKeys")
        .map(_.toLong).filter(_ > 0L).foreach { minKeys =>
          val n = df.select(
            approx_count_distinct(struct(keys: _*)).as("n")).head().getLong(0)
          require(n >= minKeys,
            s"spreadForCompute key ${keys.mkString(",")} has ~$n distinct values " +
              s"(< $minKeys): the spread exchange would serialize — key on a " +
              "higher-cardinality column")
        }
      df.repartition(target, keys: _*)
    }
  }

  /** Explode one array column into a row per element.
    *
    * Reference: srm_tools/unwind.py:4. Non-array columns pass through; with
    * `keepEmpty` an empty/null array yields one row with a null value
    * (reference's `allow_empty`), via `explode_outer`.
    */
  def unwind(df: DataFrame, fromCol: String, toCol: String,
             sourceDelete: Boolean = true, keepEmpty: Boolean = false): DataFrame = {
    val exploded =
      if (keepEmpty) df.withColumn(toCol, explode_outer(col(fromCol)))
      else df.withColumn(toCol, explode(col(fromCol)))
    if (sourceDelete && fromCol != toCol) exploded.drop(fromCol) else exploded
  }

  /** Union-by-name with missing columns filled as null.
    * Reference: dataflows `concatenate` used across srm-etl operators. */
  def concatenate(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Keep the first row per key under a deterministic ordering.
    *
    * Reference: to_dp.py:580 (`unique_service_branch` — first-seen wins).
    * The reference's generator relies on input order; distributed Spark has
    * no implicit order, so the ordering columns make "first" well-defined
    * and the result stable across any partitioning. Single shuffle on the
    * key (window), no driver state.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Same contract as [[dedupKeepFirst]] — for ASCENDING orderings — as
    * a `min_by` AGGREGATE (a SortOrder like `col.desc` cannot live in
    * the ordering struct; use the window form, or negate/invert the
    * column, for descending keeps):
    * min_by(struct(all columns), struct(order columns)) — struct ordering
    * is lexicographic by field, identical to a multi-column ORDER BY, so
    * the kept row matches row_number()=1 whenever `order` is total within
    * a key group (the only regime either form is deterministic in).
    *
    * The struct buffer forces SortAggregate (not hash), but the win is
    * the PARTIAL side: map-side combine collapses duplicate keys before
    * the exchange, so the shuffle carries surviving rows instead of the
    * whole input, and the sorts run on grouping keys only — not the
    * window's full (key, order) sort + row_number + filter. Measured on
    * q64/q65 (sf0.1): 3.26/3.50 s windowed -> 2.81/3.03 s min_by. */
  def dedupKeepFirstAgg(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame =
    dedupKeepFirstAggCounted(df, keys, order, "__grp_n").drop("__grp_n")

  /** [[dedupKeepFirstAgg]] that also emits the merged-group size as
    * `countCol` on each kept row — the stats.py counters ride the SAME
    * aggregate (count(*) per group is free next to the min_by buffer), so
    * a pipeline can report kept/dropped per dedup stage with zero extra
    * scans: dropped = sum(countCol) - count(*) over the output. */
  def dedupKeepFirstAggCounted(df: DataFrame, keys: Seq[Column], order: Seq[Column],
                               countCol: String): DataFrame = {
    val cols = df.columns
    df.groupBy(keys: _*)
      .agg(min_by(struct(cols.map(col): _*), struct(order: _*)).as("__r"),
        count(lit(1)).as(countCol))
      .select(cols.map(c => col("__r").getField(c).as(c)) :+ col(countCol): _*)
  }

  /** Per-key mode (most frequent value) with deterministic tie-breaking
    * (higher count wins, then smaller value).
    * Reference: helpers.py:306 (`most_common_category`). Two-phase: a
    * partial-aggregated count, then the top-1 through the bounded-heap
    * TopKPerKey node (r11) — the former row_number window sorted a
    * key's whole distinct-value set in one task, which a high-fanout
    * key (a freeform category column) serializes at scale; the heap
    * trim carries ≤ 1 row per key per input partition instead. (cnt,
    * value) is unique per key after the count, so the order is total
    * and the winner matches the window encoding exactly. */
  def modePerKey(df: DataFrame, key: Column, value: Column): DataFrame = {
    val counted = df.groupBy(key.as("key"), value.as("value")).agg(count(lit(1)).as("cnt"))
    TopK.topKPerKey(counted, Seq(col("key")),
        Seq(col("cnt").desc, col("value").asc), 1)
      .select(col("key"), col("value").as("mode"), col("cnt"))
  }

  /** Skew-salted equi-join: when one join key carries a disproportionate
    * share of the left side, a plain shuffle puts that key's rows in one
    * task. Salting splits each left row into one of `saltFactor` virtual
    * keys and replicates the right side across all of them, so the hot
    * key spreads over `saltFactor` tasks. Deterministic salt (hash of a
    * stable column mod factor) keeps results reproducible.
    *
    * AQE's skew-join handles sort-merge cases adaptively; explicit salting
    * is for when the skew is known and extreme (power-law entity keys),
    * or the join must stay hash-based. Right side is expected to be the
    * smaller table (it is replicated saltFactor times).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String, rightKey: String,
                 saltCol: Column, saltFactor: Int, joinType: String = "inner"): DataFrame = {
    // right/full outer would emit saltFactor COPIES of every unmatched
    // right row (each replica fails to match independently) — the salt
    // construction is only sound when unmatched right rows don't emit
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
        .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin: unmatched right rows would duplicate under '$joinType' — " +
        "inner/left joins only")
    val salted = left.withColumn("__salt", pmod(hash(saltCol), lit(saltFactor)))
    val replicated = right.withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated,
        salted("__salt") === replicated("__salt") &&
          salted(leftKey) === replicated(rightKey), joinType)
      .drop("__salt")
  }

  /** Filter with a side statistic: returns (kept, statRow) where the stat
    * is a 1-row DataFrame with kept/dropped counts.
    *
    * Reference: helpers.py:89 + srm_tools/stats.py (`filter_with_stat`).
    * The stat is computed in the same scan via a conditional aggregate —
    * not a second pass over the data.
    */
  def filterWithStat(df: DataFrame, statName: String, pred: Column): (DataFrame, DataFrame) = {
    val kept = df.filter(pred)
    val stat = df.agg(
      sum(when(pred, 1L).otherwise(0L)).as("kept"),
      sum(when(pred, 0L).otherwise(1L)).as("dropped")
    ).withColumn("stat", lit(statName))
    (kept, stat)
  }
}
