package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.functions.expressions.{ComputeBarrier, SortedMapBitIntersect}

/** Where ComputeBarrier may sit in a plan, pinned: the pair stages rely
  * on it staying out of join conditions, and Spark's analyzer decides
  * what a nondeterministic expression may do elsewhere. */
class ComputeBarrierSpec extends SpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def barriers(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e.collect { case b: ComputeBarrier => b }.size

  test("q25's executed plan evaluates sorted_map_bit_intersect once, outside every join condition") {
    val df = SparkEntry.queries("q25_ngram_jaccard")(spark, SfDir)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan
    val intersects = collectWithSubqueries(plan) { case p =>
      p.expressions.map(_.collect { case i: SortedMapBitIntersect => i }.size).sum
    }.sum
    assert(intersects == 1, s"expected one sorted_map_bit_intersect, got $intersects:\n$plan")
    val joins = collectWithSubqueries(plan) { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, s"q25 pairs through a join:\n$plan")
    joins.foreach { j =>
      val inCondition = j.condition.toSeq.flatMap(_.collect { case i: SortedMapBitIntersect => i })
      assert(inCondition.isEmpty, s"intersect inside a join condition:\n$j")
    }
  }

  test("a barrier inside a join condition fails analysis") {
    val l = Seq((1L, 2L)).toDF("a", "x")
    val r = Seq((1L, 3L)).toDF("b", "y")
    val e = intercept[AnalysisException](l.join(r, ComputeBarrier($"a") === $"b"))
    assert(e.getCondition == "INVALID_NON_DETERMINISTIC_EXPRESSIONS", e.getMessage)
  }

  test("a barrier as a sort key or a grouping key is rejected; a projected barrier column is not") {
    val df = Seq((3L, 1L), (1L, 2L), (2L, 3L), (1L, 4L)).toDF("k", "v")
    val sortErr = intercept[AnalysisException](df.orderBy(ComputeBarrier($"k")))
    assert(sortErr.getCondition == "INVALID_NON_DETERMINISTIC_EXPRESSIONS", sortErr.getMessage)
    // Spark's analyzer reports this one as an internal error, not an
    // AnalysisException
    val groupErr = intercept[org.apache.spark.SparkException](
      df.groupBy(ComputeBarrier($"k")).agg(sum($"v")))
    assert(groupErr.getCondition == "INTERNAL_ERROR" &&
      groupErr.getMessage.contains("grouping expression"), groupErr.getMessage)
    // the legal form: project the barrier, then sort or group on the column
    val kb = df.withColumn("kb", ComputeBarrier($"k"))
    assert(kb.orderBy($"kb", $"v").select($"v").as[Long].collect().toSeq == Seq(2L, 4L, 3L, 1L))
    assert(kb.groupBy($"kb").agg(sum($"v").as("s")).orderBy($"kb")
      .select($"s").as[Long].collect().toSeq == Seq(6L, 3L, 1L))
    val projected = kb.queryExecution.analyzed.collect {
      case p: logical.Project => p.projectList.map(barriers).sum
    }.sum
    assert(projected == 1, kb.queryExecution.analyzed.toString)
  }
}
