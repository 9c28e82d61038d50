package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.SQLConf

/** The session factory's codegen cache holds graft's working set, so a
  * session that repeats its plans stops compiling. */
class GraftSessionSpec extends SpecBase {

  // `CodeGenerator` sizes its JVM-wide cache once, from the active conf
  // when it first compiles; in the test JVM that is the shared spec
  // session, built by GraftSession.builder. The second test checks the
  // size in use by its effect.
  test("a GraftSession's codegen cache size is the builder's value") {
    spark.withActive {
      assert(SQLConf.get.codegenCacheMaxEntries == GraftSession.CodegenCacheEntries)
    }
  }

  test("repeating the publish flow's queries in one session compiles no new classes") {
    val publish = Seq("q65_publish_docs", "q43_geo_points", "q18_autocomplete", "q35_sitemap")
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val before = compiles()
      publish.foreach { name =>
        try SparkEntry.queries(name)(spark, SfDir).write.format("noop").mode("overwrite").save()
        finally CheckpointRegistry.releaseAll()
      }
      compiles() - before
    }
    // a cold pass compiles ~120 classes, more than Spark's default cache
    // of 100 holds; at that default every repeat recompiles ~90-100 of
    // them. q65's plan changes once after its first run, so the first
    // repeat may still compile a few; the second must compile none.
    val perPass = Seq.fill(3)(pass())
    info(s"classes compiled per pass: ${perPass.mkString(", ")}")
    assert(perPass.last == 0L, s"classes compiled per pass: ${perPass.mkString(", ")}")
  }
}
