package graft

import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {

  private val q = QueryDef.rowsOnly((spark, _) => spark.emptyDataFrame)

  test("mergeUnique throws when two families register the same query name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.mergeUnique(Seq(Seq("q1" -> q, "q2" -> q), Seq("q2" -> q, "q3" -> q))))
    assert(e.getMessage.contains("q2") && !e.getMessage.contains("q3"))
    assert(SparkEntry.mergeUnique(Seq(Seq("q1" -> q), Seq("q2" -> q))).keySet == Set("q1", "q2"))
  }

  test("mergeUnique throws when one family registers a name twice") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.mergeUnique(Seq(Seq("q1" -> q, "q2" -> q, "q1" -> q), Seq("q3" -> q))))
    assert(e.getMessage.contains("q1") && !e.getMessage.contains("q2"))
  }

  test("the registered query families share no name") {
    // mergeUnique throws on a duplicate; a silently dropped one shows as
    // a short registry
    assert(SparkEntry.queries.size == 179)
  }
}
