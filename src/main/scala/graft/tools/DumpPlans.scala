package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBusAccess
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft._

/** Dumps the formatted plan of every SQL execution a query fires — the
  * checkpoint and collect jobs its construction runs, then the noop write
  * graft.Bench and perfbench time — into
  * target/plans/<tag>/<query>_<suffix>_<n>.txt, numbered from 1 in firing
  * order (the optimization-round evidence artifact: capture the plans
  * before and after). Plans are captured by a QueryExecutionListener after
  * each execution has run, so adaptive plans print their final form
  * (`isFinalPlan=true`). The session runs on SPARK_GRAFT_CPUS cores
  * (default: every available core) with as many shuffle partitions, the
  * layout Bench and Verify use. Checkpoints are released after each query.
  *
  * Usage: runMain graft.tools.DumpPlans <tag> <suffix> <q1,q2,...> [sfDir]
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val executions = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    val outDir = Paths.get(s"target/plans/$tag")
    Files.createDirectories(outDir)
    names.foreach { name =>
      try {
        executions.clear()
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        GraftListenerBusAccess.drain(spark.sparkContext)
        if (executions.isEmpty) sys.error("no execution reached the listener")
        executions.asScala.zipWithIndex.foreach { case ((funcName, qe), i) =>
          val plan = qe.explainString(ExplainMode.fromString("formatted"))
          val file = outDir.resolve(s"${name}_${suffix}_${i + 1}.txt")
          Files.write(file, plan.getBytes("UTF-8"))
          println(s"WROTE $file ($funcName, ${plan.length} chars)")
        }
      } catch {
        case e: Throwable => println(s"FAIL $name: ${e.getMessage.take(200)}")
      } finally CheckpointRegistry.releaseAll()
    }
    spark.stop()
  }
}
