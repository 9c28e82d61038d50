package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerBusAccess, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CheckpointRegistry, GraftSession, SparkEntry}

/** One benchmark run of one workload in a fresh process.
  *
  * A workload is a list of registered query names. Each pass runs every
  * query once, in an order drawn from the workload seed, and times each
  * query from outside by the calls into the layers' public entry points:
  *
  *   build   `QueryDef.build` (including the jobs operators fire eagerly)
  *   plan    `df.queryExecution.executedPlan`
  *   exec    the final action (noop sink, or parquet for `--sink parquet`)
  *   release `CheckpointRegistry.releaseAll()`
  *
  * The listener attributes jobs, stages and task metrics to the phase
  * open when they were submitted (see `PhaseListener`).
  * Pass 0 is the cold pass. Steady passes follow until `--seconds` of
  * steady time has elapsed, and at least two run, so that the pass count
  * does not flip with noise around `--seconds`. Each pass is timed once; a query that throws fails its
  * pass.
  *
  * With `--trace 1` every pass records spans (pass > query > phase > job >
  * stage) and per-phase task counters in memory. Without it only the
  * per-pass counters the end-to-end metrics need are kept.
  *
  * The cold pass writes every result as parquet under `<out>/check`, with
  * `oracle_sql.json` beside them, for the output check in run.py; later
  * passes use the workload's sink (which, for `parquet`, rewrites them).
  *
  * Everything is written to `<out>/result.json` (and `<out>/trace.json`
  * when traced) at exit; stdout carries nothing the caller parses.
  *
  * Usage: PerfBench --data DIR --queries q1,q2 --sink noop|parquet
  *   --seed N --seconds S --trace 0|1 --cores N --out DIR
  *        PerfBench --setup-only --cores N --out DIR
  */
object PerfBench {

  val Phases: Seq[String] = Seq("build", "plan", "exec", "release")

  /** Task counters summed over one (pass, query, phase) key. */
  final class Counters {
    var jobs = 0L; var stages = 0L; var stageRetries = 0L
    var tasks = 0L; var failedTasks = 0L
    var taskMs = 0L; var cpuMs = 0.0; var gcMs = 0L; var schedDelayMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var peakExecMem = 0L; var input = 0L; var output = 0L
    def add(o: Counters): Unit = {
      tasks += o.tasks; failedTasks += o.failedTasks; taskMs += o.taskMs; cpuMs += o.cpuMs
      gcMs += o.gcMs; schedDelayMs += o.schedDelayMs; shuffleRead += o.shuffleRead
      shuffleWrite += o.shuffleWrite; spill += o.spill; input += o.input; output += o.output
      peakExecMem = math.max(peakExecMem, o.peakExecMem)
    }
    def toJson: String =
      s"""{"jobs":$jobs,"stages":$stages,"stage_retries":$stageRetries,"tasks":$tasks,""" +
        s""""failed_tasks":$failedTasks,"task_ms":$taskMs,"cpu_ms":${fmt(cpuMs)},"gc_ms":$gcMs,""" +
        s""""sched_delay_ms":$schedDelayMs,"shuffle_read_bytes":$shuffleRead,""" +
        s""""shuffle_write_bytes":$shuffleWrite,"spill_bytes":$spill,""" +
        s""""peak_exec_mem_bytes":$peakExecMem,"input_bytes":$input,"output_bytes":$output}"""
  }

  final case class Span(kind: String, name: String, parent: String, start: Long, end: Long)

  final class JobRec(val id: Int, val start: Long) { var end = -1L }
  final class StageRec(val id: Int, val attempt: Int, val job: Int, val submitted: Long) {
    var completed = -1L
    val counters = new Counters
  }

  /** Records Spark's scheduler events. Running totals of the counters the
    * end-to-end metrics need are always kept; the main thread reads them
    * as deltas after each drained pass. With tracing, every job and stage
    * attempt is kept as well, with its task counters and its submission
    * time. The phases run one at a time and are timed on the same driver
    * clock that stamps these events, so afterwards each job and stage is
    * assigned to the phase open when it was submitted. That also reaches
    * the jobs a query submits from threads of its own, which a
    * thread-local property would not. */
  final class PhaseListener(traced: Boolean) extends SparkListener {
    // written on the bus thread, read by the main thread after a drain
    @volatile var shuffleWrite = 0L
    @volatile var failedTasks = 0L
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
    // a stage belongs to the first job that lists it; later jobs skip it
    private val stageJob = mutable.Map[Int, Int]()

    override def onJobStart(j: SparkListenerJobStart): Unit = if (traced) {
      jobs(j.jobId) = new JobRec(j.jobId, j.time)
      j.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = if (traced) {
      jobs.get(j.jobId).foreach(_.end = j.time)
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = if (traced) {
      val i = s.stageInfo
      val job = stageJob.getOrElse(i.stageId, -1)
      // a stage with nothing to compute carries no submission time
      val t = i.submissionTime.getOrElse(jobs.get(job).map(_.start).getOrElse(-1L))
      stages((i.stageId, i.attemptNumber())) = new StageRec(i.stageId, i.attemptNumber(), job, t)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (traced) {
      val i = s.stageInfo
      for (r <- stages.get((i.stageId, i.attemptNumber())); t1 <- i.completionTime) r.completed = t1
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val failed = t.reason != Success
      if (failed) failedTasks += 1
      val m = t.taskMetrics
      if (m != null) shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      if (traced) stages.get((t.stageId, t.stageAttemptId)).foreach { r =>
        val cs = r.counters
        cs.tasks += 1
        if (failed) cs.failedTasks += 1
        if (m != null) {
          cs.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          cs.taskMs += m.executorRunTime
          cs.cpuMs += m.executorCpuTime / 1e6
          cs.gcMs += m.jvmGCTime
          cs.schedDelayMs += math.max(0L, t.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - t.taskInfo.gettingResultTime)
          cs.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          cs.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          cs.peakExecMem = math.max(cs.peakExecMem, m.peakExecutionMemory)
          cs.input += m.inputMetrics.bytesRead
          cs.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** The key ("pass|query|phase") of the phase open at driver time `t`,
    * given the phase spans in the order they ran, or `Unattributed`. A
    * phase starts at or after the end of the one before, so the latest
    * phase started by `t` is the open one if it has not ended yet. */
  def phaseAt(phases: collection.IndexedSeq[Span], t: Long): String = {
    val i = phases.lastIndexWhere(_.start <= t)
    if (i >= 0 && t <= phases(i).end) s"${phases(i).parent}|${phases(i).name}" else Unattributed
  }
  val Unattributed = "-1|-|none"

  final case class QueryRun(name: String, ms: Double, phaseMs: Map[String, Double],
                            released: Int, storageBytes: Long, error: Option[String])

  final case class PassRun(index: Int, kind: String, wallMs: Double, cpuMs: Double, gcMs: Long,
                           shuffleWrite: Long, failedTasks: Long, queries: Seq[QueryRun]) {
    def failed: Boolean = queries.exists(_.error.isDefined)
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def processCpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
      case _ => Double.NaN
    }
  private def jvmGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  /** VmHWM: peak resident set of this process, in kB (-1 off Linux). */
  private def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }

  private def startSession(cores: Int): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(Some(s"local[$cores]"), cores).getOrCreate()
    val ms = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.setLogLevel("WARN")
    (spark, ms)
  }

  def main(args: Array[String]): Unit = {
    val setupOnly = args.contains("--setup-only")
    val opts = args.filterNot(_ == "--setup-only").grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = opts("cores").toInt
    val out = Paths.get(opts("out"))
    Files.createDirectories(out)

    if (setupOnly) {
      val (spark, startMs) = startSession(cores)
      val readyMs = System.currentTimeMillis()
      spark.stop()
      Files.writeString(out.resolve("setup.json"),
        s"""{"ready_epoch_ms":$readyMs,"session_start_ms":${fmt(startMs)}}""")
      return
    }

    val data = opts("data")
    val names = opts("queries").split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val parquetSink = opts("sink") == "parquet"
    val seed = opts("seed").toLong
    val steadyBudgetMs = opts("seconds").toDouble * 1000
    val trace = opts("trace") == "1"

    // Registry guard: a dropped or renamed query must fail the workload,
    // never quietly shorten its pass.
    val registry = SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"workload queries not registered in SparkEntry.queries: ${missing.mkString(",")}")
    require(names.distinct.size == names.size, s"duplicate workload queries: ${names.diff(names.distinct).mkString(",")}")

    val (spark, sessionStartMs) = startSession(cores)
    val readyMs = System.currentTimeMillis()
    val sc = spark.sparkContext
    val listener = new PhaseListener(trace)
    sc.addSparkListener(listener)
    val checkDir = out.resolve("check")
    val spans = mutable.ArrayBuffer[Span]()
    val phaseSpans = mutable.ArrayBuffer[Span]() // in the order they ran
    val rng = new scala.util.Random(seed)

    def write(df: DataFrame, name: String, parquet: Boolean): Unit =
      if (parquet) df.write.mode("overwrite").parquet(checkDir.resolve(name).toString)
      else df.write.format("noop").mode("overwrite").save()

    def runQuery(pass: Int, name: String, parquet: Boolean): QueryRun = {
      val phaseMs = mutable.LinkedHashMap[String, Double]()
      var released = 0
      var storage = 0L
      var error: Option[String] = None
      val q0 = System.nanoTime()
      def phase[T](p: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val wall0 = System.currentTimeMillis()
        try body finally {
          phaseMs(p) = (System.nanoTime() - t0) / 1e6
          if (trace) phaseSpans += Span("phase", p, s"$pass|$name", wall0, System.currentTimeMillis())
        }
      }
      try {
        val df = phase("build")(registry(name)(spark, data))
        phase("plan")(df.queryExecution.executedPlan)
        phase("exec")(write(df, name, parquet))
      } catch {
        case e: Throwable => error = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
      } finally {
        if (trace) storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        // release stays inside the timed query: production pays it too
        released = phase("release")(CheckpointRegistry.releaseAll())
      }
      val ms = (System.nanoTime() - q0) / 1e6
      if (trace) {
        val end = System.currentTimeMillis()
        spans += Span("query", name, s"$pass", end - ms.toLong, end)
      }
      QueryRun(name, ms, phaseMs.toMap, released, storage, error)
    }

    def runPass(index: Int): PassRun = {
      val order = rng.shuffle(names)
      // the bus was drained after the last pass: these totals are its end
      val (shuffle0, failed0) = (listener.shuffleWrite, listener.failedTasks)
      val cpu0 = processCpuMs(); val gc0 = jvmGcMs()
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      // the cold pass writes every result as parquet, as a daily run
      // would; those files are what the output check reads
      val runs = order.map(runQuery(index, _, parquetSink || index == 0))
      val wallMs = (System.nanoTime() - t0) / 1e6
      val cpuMs = processCpuMs() - cpu0
      val gcMs = jvmGcMs() - gc0
      if (trace) spans += Span("pass", s"pass$index", "", wall0, wall0 + wallMs.toLong)
      // outside the timed pass: let the bus deliver this pass's events,
      // then take the pass's counters as the change of the running totals
      GraftListenerBusAccess.drain(sc, 60000L)
      PassRun(index, if (index == 0) "cold" else "steady", wallMs, cpuMs, gcMs,
        listener.shuffleWrite - shuffle0, listener.failedTasks - failed0, runs)
    }

    val passes = mutable.ArrayBuffer[PassRun]()
    passes += runPass(0)
    var steadyMs = 0.0
    while (passes.size < 3 || steadyMs < steadyBudgetMs) {
      val p = runPass(passes.size)
      passes += p
      steadyMs += p.wallMs
    }

    Files.createDirectories(checkDir)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      oracle.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

    // traced: each job and stage attempt goes to the phase open when it
    // was submitted, its stage spans under the job that ran them
    val counters = mutable.Map[String, Counters]()
    val jobSpans = listener.jobs.values.toSeq.map { j =>
      val key = phaseAt(phaseSpans, j.start)
      counters.getOrElseUpdate(key, new Counters).jobs += 1
      Span("job", s"job${j.id}", key, j.start, j.end)
    }
    val stageSpans = listener.stages.values.toSeq.map { r =>
      val c = counters.getOrElseUpdate(phaseAt(phaseSpans, r.submitted), new Counters)
      c.stages += 1
      if (r.attempt > 0) c.stageRetries += 1
      c.add(r.counters)
      Span("stage", s"stage${r.id}.${r.attempt}", s"job${r.job}", r.submitted, r.completed)
    }
    def passJson(p: PassRun): String = {
      val prefix = s"${p.index}"
      val qs = p.queries.map { r =>
        val phases = Phases.map { ph =>
          val c = counters.get(s"$prefix|${r.name}|$ph").map(_.toJson).getOrElse("null")
          s"""${q(ph)}:{"ms":${r.phaseMs.get(ph).map(fmt).getOrElse("null")},"counters":$c}"""
        }.mkString("{", ",", "}")
        s"""{"name":${q(r.name)},"ms":${fmt(r.ms)},"error":${r.error.map(q).getOrElse("null")},""" +
          s""""released":${r.released},"storage_bytes":${r.storageBytes},"phases":$phases}"""
      }.mkString("[", ",", "]")
      s"""{"index":${p.index},"kind":${q(p.kind)},"failed":${p.failed},""" +
        s""""wall_ms":${fmt(p.wallMs)},"cpu_ms":${fmt(p.cpuMs)},"jvm_gc_ms":${p.gcMs},""" +
        s""""shuffle_write_bytes":${p.shuffleWrite},"failed_tasks":${p.failedTasks},"queries":$qs}"""
    }
    val result =
      s"""{"ready_epoch_ms":$readyMs,"session_start_ms":${fmt(sessionStartMs)},""" +
        s""""cores":$cores,"default_parallelism":${sc.defaultParallelism},""" +
        s""""heap_max_bytes":${Runtime.getRuntime.maxMemory},"spark_version":${q(spark.version)},""" +
        s""""java_version":${q(System.getProperty("java.version"))},"seed":$seed,""" +
        s""""order":${passes.headOption.map(_.queries.map(r => q(r.name)).mkString("[", ",", "]")).getOrElse("[]")},""" +
        s""""passes":${passes.map(passJson).mkString("[", ",", "]")},""" +
        s""""unattributed_jobs":${counters.get(Unattributed).map(_.jobs).getOrElse(0L)},""" +
        s""""peak_rss_kb":${peakRssKb()}}"""
    Files.writeString(out.resolve("result.json"), result)
    if (trace) {
      val all = (spans ++ phaseSpans ++ jobSpans ++ stageSpans).sortBy(_.start)
      Files.writeString(out.resolve("trace.json"), all.map { s =>
        s"""{"kind":${q(s.kind)},"name":${q(s.name)},"parent":${q(s.parent)},"start_ms":${s.start},"end_ms":${s.end}}"""
      }.mkString("[\n", ",\n", "\n]"))
    }
    spark.stop()
  }
}
