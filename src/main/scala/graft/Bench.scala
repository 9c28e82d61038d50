package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at the given scale factor
  * and prints ONE JSON line. A first untimed pass absorbs JVM/codegen/
  * catalog warmup so the timed pass measures steady-state throughput (the
  * number that scales to cluster runs).
  *
  * Besides wall seconds (load-SENSITIVE on a shared box — see the
  * sandbox-drift protocol in BASELINE.md) each query also records the
  * load-INVARIANT execution profile from Spark's task metrics:
  * shuffle-read/-write bytes, summed executor task time, and the max
  * per-task peak execution memory. Bytes are a property of the plan, not
  * of ambient load — cross-round regression checks should look at them
  * first and only then at seconds.
  */
object Bench {

  /** Accumulates task metrics across all stages; Bench snapshots deltas
    * around each query (one query runs at a time, so deltas attribute
    * cleanly once the listener bus is drained). */
  private final class MetricsListener extends SparkListener {
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val taskTimeMs = new AtomicLong
    val peakMem = new AtomicLong // max across tasks, not a sum
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        taskTimeMs.addAndGet(m.executorRunTime)
        peakMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    }
    def snapshot(): (Long, Long, Long, Long) =
      (shuffleRead.get(), shuffleWrite.get(), taskTimeMs.get(), peakMem.get())
    def resetPeak(): Unit = peakMem.set(0L)
  }

  private case class QueryProfile(sec: Double, shuffleReadBytes: Long,
                                  shuffleWriteBytes: Long, taskTimeMs: Long, peakMemBytes: Long)

  private def round3(v: Double): Double = math.rint(v * 1000.0) / 1000.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark: SparkSession = GraftSession.builder(Some(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    // Optional comma-separated filter for local bisection; prefixes work:
    // SPARK_GRAFT_ONLY=q23,q25_ngram_jaccard
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }

    // Full materialization through the noop sink: unlike count(), Catalyst
    // cannot drop final projections/sorts, so projection-heavy queries are
    // honestly measured. After the action every checkpoint block the query
    // materialized is released (r12, guide §5): the blocks are
    // per-invocation scratch, and leaving them to driver-GC collection
    // stacked live storage across the 179-query suite. The release is
    // part of the timed region — production pays it too.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally CheckpointRegistry.releaseAll()

    // SPARK_GRAFT_QUICK=1: no warmup pass, single timed run — for
    // scaling probes (sf1) where the 3× repeat would triple an already
    // long wall time and ±20% noise is acceptable for exponents.
    val quick = sys.env.get("SPARK_GRAFT_QUICK").contains("1")

    // Warmup: run everything once (exercises codegen + file listing).
    if (!quick) queries.foreach { case (_, fn) =>
      try run(fn) catch { case _: Throwable => () }
    }

    // Steady-state seconds: best of two timed runs (local runs share the
    // box with other work; min is the honest throughput estimate). A
    // failing query records -1, never a fake near-zero "fast" time.
    // The metric deltas come from the FIRST timed run — bytes and task
    // structure are plan properties, identical across repeats.
    def timedRun(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { run(fn); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
    }
    val results: Seq[(String, QueryProfile)] = queries.map { case (name, fn) =>
      GraftListenerBusAccess.drain(spark.sparkContext)
      listener.resetPeak()
      val before = listener.snapshot()
      val t1 = timedRun(name, fn)
      GraftListenerBusAccess.drain(spark.sparkContext)
      val afterFirst = listener.snapshot()
      val t2 = if (quick) t1 else timedRun(name, fn)
      val sec = if (t1 < 0 || t2 < 0) -1.0 else math.min(t1, t2)
      // A failed run's partial task metrics are NOT a plan profile —
      // recording them would poison the bytes-first regression protocol
      // (BASELINE.md r7). Zero them so -1/0 reads unambiguously "failed".
      if (sec < 0) name -> QueryProfile(sec, 0L, 0L, 0L, 0L)
      else name -> QueryProfile(sec,
        afterFirst._1 - before._1, afterFirst._2 - before._2,
        afterFirst._3 - before._3, afterFirst._4)
    }

    // The round driver keeps only the last ~2000 chars of stdout and
    // json-parses what it finds there — a full 160-entry map overflows
    // that window, truncates mid-line and parses as NOTHING (rounds 1-8
    // all recorded parsed:null). So stdout carries ONE complete compact
    // line instead: the slowest entries first (failed -1s ahead of them,
    // so a crash can never be truncated away), capped to fit the capture
    // window beside sbt's [success] trailer. The FILE artifact keeps the
    // complete registry-ordered map + per-query profiles regardless.
    def secMap(rs: Seq[(String, QueryProfile)]): String =
      rs.map { case (k, p) => "\"" + k + "\":" + round3(p.sec) }
        .mkString("{", ",", "}")
    val byCost = results.sortBy { case (_, p) =>
      if (p.sec < 0) Double.MinValue else -p.sec }
    val entryBudget = 1400
    val shown = {
      var used = 0
      byCost.takeWhile { case (k, p) =>
        used += k.length + round3(p.sec).toString.length + 4
        used <= entryBudget
      }
    }
    val secOfCompact = secMap(shown)
    val secOf = secMap(results)
    val profileOf = results.map { case (k, p) =>
      "\"" + k + "\":{\"sec\":" + round3(p.sec) +
        ",\"shufR\":" + p.shuffleReadBytes + ",\"shufW\":" + p.shuffleWriteBytes +
        ",\"taskMs\":" + p.taskTimeMs + ",\"peakMem\":" + p.peakMemBytes + "}"
    }.mkString("{", ",", "}")
    // Failed runs record -1.0 as their sentinel; summing that would let
    // a crashing query LOWER the suite total (a regression could read as
    // an improvement under the totals protocol). The headline sums only
    // successful seconds; failures surface as an explicit count and as
    // the -1 entries the ascending stdout sort pins to the tail.
    val failed = results.count(_._2.sec < 0)
    val total = round3(results.map(_._2.sec).filter(_ >= 0).sum)
    val failedField = if (failed > 0) s""","failed":$failed""" else ""
    // stdout: complete-and-parsable beats complete-but-truncated; the
    // `queries` map here is the slowest-N slice (every heavy family the
    // band adjudication reads), with the slice size declared so a reader
    // can't mistake it for the whole registry.
    val stdoutJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$secOfCompact,"queries_shown":${shown.size},"queries_total":${results.size}$failedField,"sf":"$sfDir","full":"target/bench.json"}"""
    val fileJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$secOf,"profile":$profileOf$failedField,"sf":"$sfDir"}"""
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (fileJson + "\n").getBytes("UTF-8"))
    println(stdoutJson)
    System.err.println(s"[bench] json written to ${out.toAbsolutePath}")
    spark.stop()
  }
}
