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

  test("SPARK_GRAFT_ONLY: trimmed comma-separated prefixes; unset or blank selects everything") {
    val all = SparkEntry.queries.keySet
    def selected(only: String) = SparkEntry.selectedQueries(Some(only)).keySet
    def starting(prefixes: String*) = all.filter(n => prefixes.exists(n.startsWith))
    assert(starting("q23").nonEmpty && starting("q25").nonEmpty)
    assert(selected("q23, q25") == starting("q23", "q25"))
    assert(selected(",q23") == starting("q23"))
    assert(selected("q25_ngram_jaccard") == Set("q25_ngram_jaccard"))
    assert(SparkEntry.selectedQueries(None).keySet == all)
    for (blank <- Seq("", " ", " , "))
      assert(selected(blank) == all, s"filter '$blank'")
  }

  test("SPARK_GRAFT_ONLY: a prefix that matches no registered query throws") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectedQueries(Some("q23,no_such_query")))
    assert(e.getMessage.contains("no_such_query") && !e.getMessage.contains("q23"))
  }

  test("the registered query families share no name") {
    // mergeUnique throws on a duplicate; a silently dropped one shows as
    // a short registry
    assert(SparkEntry.queries.size == 179)
  }
}
