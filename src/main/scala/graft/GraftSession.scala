package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Local runs use `local[N]` with shuffle partitions = N; on a real cluster
  * the same builder is used with master unset (spark-submit provides it) and
  * shuffle partitions sized to ~2-3x total cores. AQE (on by default in
  * Spark 4) re-plans shuffles at runtime: coalesces small partitions and
  * splits skewed ones, which is the posture we want at 100 TB.
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries` for every graft session.
    *
    * Spark caches compiled whole-stage classes per JVM, keyed by their
    * generated source, and keeps 100 by default. graft's working set is
    * larger. Counted at sf0.1 on 4 cores, a cold pass of the dedup family
    * (q66, q67, q130) compiles 124-128 distinct classes and the publish
    * flow (q65, q43, q18, q35) 109-120. At 100 entries each repeat pass
    * evicts and recompiles most of them (68-100 per dedup pass, about 90
    * per publish pass). Each recompile defines a new class, which starts
    * interpreted in the JIT: q66's `jaccardPairs` probe stage read
    * 0.9-1.3 s per pass when it was recompiled and 0.2-0.3 s when its
    * class survived. At 1000 entries repeat passes compile nothing.
    *
    * The setting is static. `CodeGenerator` sizes its cache once, from the
    * first session in the JVM that compiles, and each executor JVM sizes
    * its own cache when its first task compiles. A JVM that runs each plan
    * once (a cold daily ETL) gains nothing from it.
    */
  val CodegenCacheEntries: Int = 1000

  /** The `local[N]` session of the tooling mains (Bench, Verify,
    * DumpPlans, ScaleUp), with N shuffle partitions: N is
    * `SPARK_GRAFT_CPUS`, by default every available core. */
  def local(): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    builder(Some(s"local[$cores]"), cores).getOrCreate()
  }

  def builder(master: Option[String], shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      // native expressions in the SQL registry + the TopKPerKey planner
      // strategy; spark-submit users get the same via
      // --conf spark.sql.extensions=graft.GraftExtensions
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // ObjectHashAggregate (collect_list/collect_set and the sketch
      // aggregates) falls back to SORT-based aggregation once a task sees
      // this many groups — the default (128) silently turns every
      // collect-shaped groupBy into a per-partition sort. Group payloads
      // here are small arrays; keep hashing. On a memory-tight cluster
      // this is the first knob to revisit.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      // sized to graft's working set; see CodegenCacheEntries
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // catalog tables (Sources.dumpToTable) land outside the repo; a real
      // deployment points this at shared storage
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.ui.enabled", "false")
    master.fold(b)(b.master)
  }
}
