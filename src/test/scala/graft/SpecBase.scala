package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; sf0.001 is the smoke-scale data. */
abstract class SpecBase extends AnyFunSuite with BeforeAndAfterAll {
  val SfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SpecBase.sharedSpark

  override def afterAll(): Unit = () // session shared across suites

  /** Run `body` with `spark.graft.cc.maxDriverResidueEdges` set to
    * `bound` (None = the default). At the default, a test-sized link list
    * takes CC's driver union-find; `Some("0")` sends it through the
    * distributed contraction instead. */
  protected def withCcDriverBound(bound: Option[String])(body: => Unit): Unit = {
    val key = "spark.graft.cc.maxDriverResidueEdges"
    bound.foreach(spark.conf.set(key, _))
    try body finally spark.conf.unset(key)
  }
}

object SpecBase {
  lazy val sharedSpark: SparkSession =
    GraftSession.builder(Some("local[4]"), shufflePartitions = 4).getOrCreate()
}
