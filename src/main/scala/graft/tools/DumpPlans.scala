package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.GraftListenerBusAccess
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft._

/** Dumps the formatted plan of each query's noop write — the action
  * graft.Bench and perfbench time — into plans/<tag>/<query>_<suffix>.txt
  * (the optimization-round evidence artifact: capture the plan before and
  * after). The plan is captured by a QueryExecutionListener after the
  * write has run, so adaptive plans print their final form
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = GraftSession.builder(Some(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val writes = new ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.exists(_.isInstanceOf[V2TableWriteExec])) writes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)
    names.foreach { name =>
      try {
        writes.clear()
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        GraftListenerBusAccess.drain(spark.sparkContext)
        val qe = Option(writes.peek())
          .getOrElse(sys.error("no write plan reached the listener"))
        val plan = qe.explainString(ExplainMode.fromString("formatted"))
        Files.write(outDir.resolve(s"${name}_$suffix.txt"), plan.getBytes("UTF-8"))
        println(s"WROTE plans/$tag/${name}_$suffix.txt (${plan.length} chars)")
      } catch {
        case e: Throwable => println(s"FAIL $name: ${e.getMessage.take(200)}")
      } finally CheckpointRegistry.releaseAll()
    }
    spark.stop()
  }
}
