package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TopKPerKeyRewrite

/** The TopKPerKeyRewrite optimizer rule: the `row_number() <= k` idiom
  * (DataFrame and SQL spellings) must lower onto the TopKPerKey node with
  * unchanged results, and must NOT fire when the rank survives, the rank
  * function admits ties, or k exceeds the heap bound.
  */
class TopKRewriteSpec extends SpecBase {
  import spark.implicits._

  private def orders = Tables.orders(spark, SfDir)

  // string-walk the plan: AQE wraps the tree in AdaptiveSparkPlanExec,
  // whose children aren't visible to collect() before execution
  private def topkExecs(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("TopKPerKey ")).toSeq

  private def hasWindowExec(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Window")

  // Reference answers keep the rank column, so the rule leaves them on
  // Spark's builtin window path ("does not fire when the rank column
  // survives"); the rank is dropped after the collect.
  private def reference(df: DataFrame): Set[Seq[Any]] = {
    assert(topkExecs(df).isEmpty, "the reference must not be rewritten")
    df.collect().map(_.toSeq.init).toSet
  }

  private def ranked(k: Int): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    orders.withColumn("rn", row_number().over(w)).filter($"rn" <= k)
  }

  private def windowIdiom(k: Int): DataFrame = ranked(k).drop("rn")

  test("df idiom lowers to TopKPerKey with identical results") {
    for (k <- Seq(1, 3)) {
      val rewritten = windowIdiom(k)
      val execs = topkExecs(rewritten)
      assert(execs.size == 2, s"k=$k: expected partial+final TopKPerKeyExec, got " +
        rewritten.queryExecution.executedPlan.toString.take(500))
      assert(execs.exists(_.contains(s", $k, true")) &&
        execs.exists(_.contains(s", $k, false")), execs.mkString("\n"))
      assert(!hasWindowExec(rewritten), "Window must be gone after the rewrite")
      val got = rewritten.select($"o_orderkey").collect().map(_.toSeq).toSet
      val want = reference(ranked(k).select($"o_orderkey", $"rn"))
      assert(got == want, s"k=$k: rewrite changed the answer " +
        s"(extra=${(got -- want).take(3)}, missing=${(want -- got).take(3)})")
    }
  }

  test("rn = 1 keep-first form lowers with k=1") {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val df = orders.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
    val execs = topkExecs(df)
    assert(execs.size == 2 && execs.forall(_.contains(", 1, ")),
      df.queryExecution.executedPlan.toString.take(500))
  }

  test("SQL subquery spelling lowers too") {
    orders.createOrReplaceTempView("rw_orders")
    val df = spark.sql(
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM rw_orders) WHERE rn <= 2""".stripMargin)
    assert(topkExecs(df).size == 2,
      df.queryExecution.executedPlan.toString.take(500))
    val want = reference(spark.sql(
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM rw_orders) WHERE rn <= 2""".stripMargin))
    assert(df.collect().map(_.toSeq).toSet == want)
  }

  test("residual predicates filter among the top-k, not before") {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val df = orders.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3 && $"o_totalprice" > 1000.0).drop("rn")
      .select($"o_orderkey")
    assert(topkExecs(df).size == 2,
      df.queryExecution.executedPlan.toString.take(500))
    val want = reference(orders.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3 && $"o_totalprice" > 1000.0)
      .select($"o_orderkey", $"rn"))
    assert(df.collect().map(_.toSeq).toSet == want)
  }

  test("does not fire when the rank column survives") {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val df = orders.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      .select($"o_orderkey", $"rn")
    assert(topkExecs(df).isEmpty, "rank kept -> builtin path must handle it")
  }

  test("does not fire for rank() — boundary ties need more than k rows") {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate")
    val df = orders.withColumn("rn", rank().over(w)).filter($"rn" <= 3).drop("rn")
    assert(topkExecs(df).isEmpty)
  }

  test("does not fire past MaxK") {
    assert(topkExecs(windowIdiom(TopKPerKeyRewrite.MaxK + 1)).isEmpty)
  }

  test("rewrite prunes the scan to referenced columns") {
    // project keeps 2 of orders' 9 columns; the parquet read under the
    // rewritten plan must not read them all
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
    val df = orders.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
      .select($"o_custkey", $"o_orderkey")
    assert(topkExecs(df).size == 2)
    val scanSchema = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanSchema.contains("o_comment") && !scanSchema.contains("o_totalprice"),
      s"scan not pruned: $scanSchema")
  }

  test("does not fire on float/double partition keys (NaN/-0.0 normalization)") {
    // The builtin path normalizes float Window partition keys AFTER the
    // operator-optimization batch; the node's byte-wise key map would
    // split NaN bit patterns into distinct groups — so the rewrite must
    // leave float-keyed windows alone.
    val w = Window.partitionBy($"o_totalprice").orderBy($"o_orderkey")
    val df = orders.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
      .select($"o_custkey", $"o_orderkey")
    assert(topkExecs(df).isEmpty, "float partition key must stay on the Window path")
    // same key cast to a non-float type lowers fine
    val w2 = Window.partitionBy($"o_totalprice".cast("decimal(18,2)")).orderBy($"o_orderkey")
    val df2 = orders.withColumn("rn", row_number().over(w2)).filter($"rn" <= 2)
      .select($"o_custkey", $"o_orderkey")
    assert(topkExecs(df2).nonEmpty, "non-float key should still lower")
  }
}
