package graft

import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {

  test("mergeUnique throws when two families register the same query name") {
    val q = QueryDef.rowsOnly((spark, _) => spark.emptyDataFrame)
    val e = intercept[IllegalArgumentException](
      SparkEntry.mergeUnique(Seq(Map("q1" -> q, "q2" -> q), Map("q2" -> q, "q3" -> q))))
    assert(e.getMessage.contains("q2") && !e.getMessage.contains("q3"))
    assert(SparkEntry.mergeUnique(Seq(Map("q1" -> q), Map("q2" -> q))).keySet == Set("q1", "q2"))
  }

  test("the registered query families share no name") {
    assert(SparkEntry.queries.nonEmpty) // mergeUnique throws on a duplicate
  }
}
