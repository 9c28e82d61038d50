package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.Relational

class RelationalSpec extends SpecBase {
  import spark.implicits._

  test("unwind explodes arrays and drops the source column") {
    val df = Seq((1, Seq("a", "b")), (2, Seq("c"))).toDF("id", "vals")
    val out = Relational.unwind(df, "vals", "v").orderBy("id", "v")
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (1, "b"), (2, "c")))
  }

  test("unwind keepEmpty emits a null row for empty arrays") {
    val df = Seq((1, Seq("a")), (2, Seq.empty[String])).toDF("id", "vals")
    val out = Relational.unwind(df, "vals", "v", keepEmpty = true).orderBy("id")
    assert(out.count() == 2)
    assert(out.filter($"id" === 2).head().isNullAt(1))
  }

  test("concatenate unions by name filling missing columns with null") {
    val a = Seq((1, "x")).toDF("id", "name")
    val b = Seq((2, 5.0)).toDF("id", "score")
    val out = Relational.concatenate(Seq(a, b)).orderBy("id")
    assert(out.columns.sorted.toSeq == Seq("id", "name", "score"))
    val rows = out.collect()
    assert(rows(0).getAs[String]("name") == "x" && rows(0).isNullAt(out.columns.indexOf("score")))
    assert(rows(1).isNullAt(out.columns.indexOf("name")))
  }

  test("dedupKeepFirst keeps exactly one row per key by the given order") {
    val df = Seq((1, "2024-01-02", "b"), (1, "2024-01-01", "a"), (2, "2024-01-03", "c"))
      .toDF("k", "d", "v")
    val out = Relational.dedupKeepFirst(df, Seq($"k"), Seq($"d")).orderBy("k")
    assert(out.collect().map(_.getString(2)).toSeq == Seq("a", "c"))
  }

  test("modePerKey breaks count ties by smaller value") {
    val df = Seq((1, "b"), (1, "a"), (1, "b"), (1, "a"), (2, "z")).toDF("k", "v")
    val out = Relational.modePerKey(df, $"k", $"v").orderBy("key")
    assert(out.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "z")))
  }

  test("saltedJoin matches a plain join on skewed keys") {
    // 90% of left rows share key 1 — the salted join must return exactly
    // the plain join's rows while splitting key 1 across salt partitions
    val left = (1 to 1000).map(i => (if (i <= 900) 1 else i, s"v$i")).toDF("k", "v")
    val right = Seq((1, "one"), (950, "x"), (999, "y")).toDF("rk", "name")
    val plain = left.join(right, $"k" === $"rk").select($"k", $"v", $"name")
      .collect().map(_.toSeq).toSet
    val salted = Relational.saltedJoin(left, right, "k", "rk", $"v", saltFactor = 8)
      .select($"k", $"v", $"name").collect().map(_.toSeq).toSet
    assert(salted == plain && plain.size == 902)
  }

  test("q151 distinct-name fuzzy equals q10's block form pair-for-pair") {
    // the sufficient-statistics twin must produce the identical pair set
    // (it shares q10's oracle, but the direct cross-check also pins the
    // expansion-join mechanics: both name orders, equal-name pairs,
    // key_a < key_b)
    def pairs(q: String) = SparkEntry.queries(q)(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val block = pairs("q10_fuzzy")
    val dist = pairs("q151_fuzzy_distinct")
    assert(dist == block,
      s"only-in-distinct ${(dist -- block).take(3)}, only-in-block ${(block -- dist).take(3)}")
    assert(block.nonEmpty)
    // and the name-pair matrix must BROADCAST — the whole point is that
    // lev work is name-cardinality-sized, not corpus-sized
    val p = SparkEntry.queries("q151_fuzzy_distinct")(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"name matrix must broadcast:\n${p.take(600)}")
  }

  test("filterWithStat counts kept and dropped in one scan") {
    val df = Seq(1, 2, 3, 4, 5).toDF("x")
    val (kept, stat) = Relational.filterWithStat(df, "s", $"x" > 3)
    assert(kept.count() == 2)
    val Row(k: Long, d: Long, name: String) = stat.select("kept", "dropped", "stat").head()
    assert(k == 2 && d == 3 && name == "s")
  }

  /** Jobs submitted while `body` ran: the distance between the ids of two
    * one-task marker jobs. Job ids are assigned at submission, so unlike
    * a listener-fed count this needs no wait for the event bus. */
  private def jobsRunBy(body: => Unit): Int = {
    def marker(): Int = {
      val f = spark.sparkContext.parallelize(Seq(1), 1).countAsync()
      f.get()
      f.jobIds.head
    }
    val before = marker()
    body
    marker() - before - 1
  }

  test("spreadForCompute returns a frame with >= parallelism partitions as-is") {
    val n = spark.sparkContext.defaultParallelism
    val wide = spark.range(0L, 1000L, 1L, n).toDF()
    assert(Relational.spreadForCompute(wide, $"id") eq wide)
    // the deciding frame, not the spread one, sets the count
    val narrow = spark.range(0L, 1000L, 1L, 1).toDF()
    assert(Relational.spreadForCompute(narrow, wide, $"id") eq narrow)
  }

  test("spreadForCompute gives a 1-split scan exactly one hash exchange at parallelism") {
    val n = spark.sparkContext.defaultParallelism
    val scan = Tables.customer(spark, SfDir)
    assert(scan.rdd.getNumPartitions == 1, "premise: the sf0.001 customer scan has one split")
    val plan = Relational.spreadForCompute(scan, $"c_custkey", $"c_name")
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.size == 1, s"expected one exchange:\n$plan")
    assert("""Exchange hashpartitioning\(c_custkey#\d+L?, c_name#\d+, (\d+)\)""".r
      .findFirstMatchIn(exchanges.head).map(_.group(1)).contains(n.toString),
      s"expected hashpartitioning(c_custkey, c_name, $n):\n$plan")
  }

  test("spreading a join while deciding from its scan runs no Spark job") {
    val orders = Tables.orders(spark, SfDir)
    val customer = Tables.customer(spark, SfDir)
    def joined = orders.join(customer, $"o_custkey" === $"c_custkey")
    assert(orders.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "premise: the spread fires")
    assert(jobsRunBy(Relational.spreadForCompute(joined, orders, $"o_orderkey")) == 0)
    // deciding from the join itself plans it adaptively, which runs its
    // query stages: the cost the deciding frame exists to avoid
    assert(jobsRunBy(Relational.spreadForCompute(joined, $"o_orderkey")) > 0)
  }
}
