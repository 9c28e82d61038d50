package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** The streaming twins must agree with the oracle-verified batch queries
  * (q20/q21) on the same data. */
class StreamingSpec extends SpecBase {
  import spark.implicits._
  import StreamingSpec.GeoRow

  private def liveSnapshot(outDir: String): Option[String] =
    graft.sources.Sources.currentSnapshotDir(outDir, spark.sparkContext.hadoopConfiguration)

  private def loadEvents(): Seq[Event] =
    Tables.events(spark, SfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))

  test("streaming as-of enrichment matches batch q92 across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val events = loadEvents()
    val purchases = events.filter(_.event_type == "purchase")
    val views = Tables.events(spark, SfDir).filter($"event_type" === "view")
      .select($"user_id", $"ts", $"event_id")
    val index = graft.operators.AsOf.asofIndex(views, "user_id", "ts",
      carryCols = Seq("ts", "event_id"), buildTie = "event_id")

    val stream = MemoryStream[Event]
    val out = EventStreams.asofEnrichStream(
      stream.toDF().select($"event_id", $"user_id", $"ts"),
      index, "user_id", "ts", carryCols = Seq("ts", "event_id"), prefix = "view_")
    val query = out.writeStream.format("memory").queryName("asof_test")
      .outputMode("append").start()
    try {
      // 3 arbitrary micro-batches: result must not depend on the split
      purchases.grouped((purchases.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      val streamed = spark.table("asof_test")
        .collect().map(r => (r.getLong(0), r.get(3), r.get(4))).toSet
      val batch = SparkEntry.queries("q92_asof_join")(spark, SfDir)
        .select($"event_id", $"view_ts", $"view_event_id")
        .collect().map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
      assert(streamed == batch,
        s"stream-only ${(streamed -- batch).take(3)}, batch-only ${(batch -- streamed).take(3)}")
    } finally query.stop()
  }

  test("streaming range enrichment matches batch q93 across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val errors = loadEvents().filter(_.event_type == "error")
    // the static interval side: q93's hot windows, computed batch-side
    val ev = Tables.events(spark, SfDir)
    val hourly = ev.groupBy(date_trunc("hour", $"ts").as("h")).agg(count(lit(1)).as("cnt"))
    val hot = hourly
      .crossJoin(broadcast(hourly.agg(avg($"cnt").as("__mean"))))
      .filter($"cnt" > lit(1.25) * $"__mean")
      .select(($"h" - expr("INTERVAL 15 MINUTE")).as("w_start"),
        ($"h" + expr("INTERVAL 75 MINUTE")).as("w_end"),
        $"cnt".cast("long").as("w_events"))

    val stream = MemoryStream[Event]
    val out = EventStreams.rangeEnrichStream(
      stream.toDF().select($"event_id", $"ts", $"user_id"),
      "ts", hot, "w_start", "w_end", binWidth = 30L * 60 * 1000000)
      .select($"event_id", $"w_start", $"w_end")
    val query = out.writeStream.format("memory").queryName("range_test")
      .outputMode("append").start()
    try {
      // 3 arbitrary micro-batches: zero state, so the split cannot matter
      errors.grouped((errors.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      val streamed = spark.table("range_test")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      val batch = SparkEntry.queries("q93_range_join")(spark, SfDir)
        .select($"event_id", $"w_start", $"w_end")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(streamed == batch,
        s"stream-only ${(streamed -- batch).take(3)}, batch-only ${(batch -- streamed).take(3)}")
    } finally query.stop()
  }

  test("streaming tumbling rollup matches batch on counts and totals") {
    implicit val sqlCtx = spark.sqlContext
    val events = loadEvents()
    val stream = MemoryStream[Event]
    val out = EventStreams.tumblingHourly(stream.toDF())
    val query = out.writeStream.format("memory").queryName("tumbling_test")
      .outputMode("append").start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      // push the watermark far past the data so all windows finalize
      stream.addData(Event(-1L, Timestamp.valueOf("2025-06-01 00:00:00"), 0L, "sentinel", 0.0))
      query.processAllAvailable()

      val streamed = spark.table("tumbling_test")
        .filter($"hour_start" < lit("2025-01-01").cast("timestamp"))
        .select($"hour_start", $"n_events", $"total_value")
        .collect().map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

      val batch = SparkEntry.queries("q20_tumbling")(spark, SfDir)
        .select($"hour_start", $"n_events", $"total_value")
        .collect().map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

      assert(streamed == batch)
    } finally query.stop()
  }

  test("file-source streaming (readStream over parquet) matches the batch rollup") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val events = Tables.events(spark, SfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    events.write.mode("overwrite").parquet(s"$dir/in")

    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/in")
    val query = EventStreams.tumblingHourly(stream)
      .writeStream.format("memory").queryName("file_tumbling_test")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      // sentinel file pushes the watermark so 2024 windows finalize
      Seq((-1L, Timestamp.valueOf("2025-06-01 00:00:00"), 0L, "sentinel", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("append").parquet(s"$dir/in")
      query.processAllAvailable()

      val streamed = spark.table("file_tumbling_test")
        .filter($"hour_start" < lit("2025-01-01").cast("timestamp"))
        .select($"hour_start", $"n_events", $"total_value")
        .collect().map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val batch = SparkEntry.queries("q20_tumbling")(spark, SfDir)
        .select($"hour_start", $"n_events", $"total_value")
        .collect().map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streamed == batch)
    } finally query.stop()
  }

  test("flatMapGroupsWithState sessionization matches batch q21 in batch mode") {
    val ds = Tables.events(spark, SfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[Event]
    val got = EventStreams.sessionizeWithState(spark, ds)
      .collect().map(s => (s.user_id, s.session_idx, s.n_events, s.start_ts, s.end_ts)).toSet
    val expected = SparkEntry.queries("q21_session")(spark, SfDir)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Timestamp]("start_ts"), r.getAs[Timestamp]("end_ts"))).toSet
    assert(got == expected)
  }

  test("foreachBatch upsert sink keeps the latest row per key across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val stream = MemoryStream[Event]
    val query = stream.toDF().writeStream
      .foreachBatch(EventStreams.parquetUpsertSink("event_id", dir) _)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      stream.addData(
        Event(1L, Timestamp.valueOf("2024-01-01 00:00:00"), 10L, "view", 1.0),
        Event(2L, Timestamp.valueOf("2024-01-01 00:01:00"), 11L, "view", 2.0))
      query.processAllAvailable()
      stream.addData(
        Event(2L, Timestamp.valueOf("2024-01-01 00:02:00"), 11L, "purchase", 9.0),
        Event(3L, Timestamp.valueOf("2024-01-01 00:03:00"), 12L, "view", 3.0))
      query.processAllAvailable()

      val table = EventStreams.readCurrent(spark, dir)
        .select($"event_id", $"event_type", $"value")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
      assert(table.keySet == Set(1L, 2L, 3L))
      assert(table(2L) == (("purchase", 9.0)), "second batch must overwrite key 2")
      assert(table(1L) == (("view", 1.0)))
    } finally query.stop()
  }

  test("streaming dedup keeps first row per key across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = EventStreams.dedupStream(stream.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try {
      stream.addData(
        Event(1L, Timestamp.valueOf("2024-01-01 00:00:00"), 10L, "view", 1.0),
        Event(2L, Timestamp.valueOf("2024-01-01 00:01:00"), 11L, "view", 2.0),
        Event(1L, Timestamp.valueOf("2024-01-01 00:02:00"), 10L, "dup", 9.0))
      query.processAllAvailable()
      stream.addData( // duplicate of key 2 in a later micro-batch, inside watermark
        Event(2L, Timestamp.valueOf("2024-01-01 00:03:00"), 11L, "dup", 9.0),
        Event(3L, Timestamp.valueOf("2024-01-01 00:04:00"), 12L, "view", 3.0))
      query.processAllAvailable()
      val got = spark.table("dedup_stream_test")
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[String]("event_type")).toMap
      assert(got == Map(1L -> "view", 2L -> "view", 3L -> "view"),
        s"each key must emit exactly once with its first row, got $got")
    } finally query.stop()
  }

  test("bucketed upsert sink rewrites only touched buckets") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_b").toString
    val stream = MemoryStream[Event]
    val query = stream.toDF().writeStream
      .foreachBatch(EventStreams.parquetUpsertSinkBucketed("event_id", dir, nBuckets = 4) _)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      // keys 0..7 spread across buckets
      stream.addData((0L until 8L).map(k =>
        Event(k, Timestamp.valueOf("2024-01-01 00:00:00"), k, "view", k.toDouble)): _*)
      query.processAllAvailable()
      val table = s"$dir/table"
      def bucketFiles(): Map[String, Set[String]] = {
        val root = new java.io.File(table)
        root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
          .map(d => d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
          .toMap
      }
      val before = bucketFiles()
      assert(before.size > 1, "keys must spread across buckets")
      // lesson 45: the batch co-locates on the bucket before the write,
      // so a rewritten bucket is ONE file, never one per upstream
      // shuffle partition
      assert(before.values.forall(_.size == 1),
        s"each bucket must hold one file per rewrite: ${before.view.mapValues(_.size).toMap}")

      // second batch: update ONE key -> only that key's bucket rewrites
      stream.addData(Event(3L, Timestamp.valueOf("2024-01-01 00:01:00"), 3L, "purchase", 99.0))
      query.processAllAvailable()
      val after = bucketFiles()
      val touchedBucket = {
        import org.apache.spark.sql.functions.{hash, lit, pmod}
        spark.range(1).select(pmod(hash(lit(3L)), lit(4)).cast("int")).head().getInt(0)
      }
      val changed = after.keySet.filter(b => before.get(b) != after.get(b))
      assert(changed == Set(s"__bucket=$touchedBucket"),
        s"only key 3's bucket may change, got $changed")
      val row3 = spark.read.parquet(table).filter($"event_id" === 3L)
        .select($"event_type", $"value").head()
      assert((row3.getString(0), row3.getDouble(1)) == (("purchase", 99.0)))
    } finally query.stop()
  }

  test("bucketed upsert sink: a table dir holding only crash orphans reads as absent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_orphan").toString
    // a crash during the first write leaves table/ with only _temporary/
    val orphan = new java.io.File(s"$dir/table/_temporary/0")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(orphan.toPath.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    val batch = (0L until 8L).map(k =>
      Event(k, Timestamp.valueOf("2024-01-01 00:00:00"), k, "view", k.toDouble))
    EventStreams.parquetUpsertSinkBucketed("event_id", dir, nBuckets = 4)(batch.toDF(), 0L)
    val table = spark.read.parquet(s"$dir/table").drop("__bucket").as[Event].collect().toSet
    assert(table == batch.toSet)
  }

  test("snapshot and table sinks on file:// dirs end equal to the same run on plain paths") {
    import graft.streaming.DocumentStreams
    val events = Seq(
      (0L until 8L).map(k =>
        Event(k, Timestamp.valueOf("2024-01-01 00:00:00"), k, "view", k.toDouble)),
      // key 3 updates and key 8 is new: both land in buckets that hold
      // batch 0's keys, which a table read as absent would drop
      Seq(Event(3L, Timestamp.valueOf("2024-01-01 00:01:00"), 3L, "purchase", 99.0),
        Event(8L, Timestamp.valueOf("2024-01-01 00:01:00"), 8L, "view", 8.0)))
    val docs = Tables.documents(spark, SfDir).select($"doc_id", $"text")
      .collect().sortBy(_.getLong(0)).map(r => (r.getLong(0), r.getString(1)))
    def run(scheme: String): (Set[Event], Set[Event], Set[(Long, Long)]) = {
      def dir(name: String) = scheme + java.nio.file.Files.createTempDirectory(name).toString
      val (upsert, bucketed, clusters) = (dir("upsert"), dir("upsert_b"), dir("clusters"))
      events.zipWithIndex.foreach { case (b, i) =>
        EventStreams.parquetUpsertSink("event_id", upsert)(b.toDF(), i.toLong)
        EventStreams.parquetUpsertSinkBucketed("event_id", bucketed, nBuckets = 4)(b.toDF(), i.toLong)
      }
      docs.grouped((docs.length + 1) / 2).zipWithIndex.foreach { case (chunk, i) =>
        DocumentStreams.clusterMaintenanceSink(clusters)(chunk.toSeq.toDF("doc_id", "text"), i.toLong)
      }
      (EventStreams.readCurrent(spark, upsert).as[Event].collect().toSet,
        spark.read.parquet(s"$bucketed/table").drop("__bucket").as[Event].collect().toSet,
        spark.read.parquet(s"${liveSnapshot(clusters).get}/labels")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    val plain = run("")
    assert(plain._1.size == 9 && plain._2 == plain._1 && plain._3.size == docs.length)
    assert(run("file://") == plain)
  }

  test("streaming sessionizeWithState emits each session exactly once on close") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val watermarked = stream.toDF()
      .withWatermark("ts", "0 seconds")
      .as[Event]
    val out = EventStreams.sessionizeWithState(spark, watermarked, emitOpen = false)
    val query = out.writeStream.format("memory").queryName("state_session_test")
      .outputMode("append").start()
    try {
      stream.addData(
        Event(1L, Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "view", 1.0),
        Event(2L, Timestamp.valueOf("2024-01-01 00:10:00"), 7L, "view", 1.0))
      query.processAllAvailable()
      // gap-breaking event for the same user -> closes session 0 inline
      stream.addData(Event(3L, Timestamp.valueOf("2024-01-01 01:00:00"), 7L, "view", 1.0))
      query.processAllAvailable()
      // watermark-advancing event on another user -> times out session 1
      stream.addData(Event(4L, Timestamp.valueOf("2024-06-01 00:00:00"), 999L, "view", 1.0))
      query.processAllAvailable()
      stream.addData(Event(5L, Timestamp.valueOf("2024-12-01 00:00:00"), 999L, "view", 1.0))
      query.processAllAvailable()

      val got = spark.table("state_session_test")
        .filter($"user_id" === 7L)
        .collect().map(r => (r.getAs[Long]("session_idx"), r.getAs[Long]("n_events"))).toSet
      assert(got == Set((0L, 2L), (1L, 1L)),
        s"user 7 must emit session 0 (2 events) once and session 1 (1 event) once, got $got")
    } finally query.stop()
  }

  test("sessionizeWithState splits a late event more than one gap before the open span") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    // watermark 3h > gap 30m: late events up to 3h old still reach the
    // state function — exactly the regime where the early-split matters
    val watermarked = stream.toDF()
      .withWatermark("ts", "3 hours")
      .as[Event]
    val out = EventStreams.sessionizeWithState(spark, watermarked, emitOpen = false)
    val query = out.writeStream.format("memory").queryName("early_split_test")
      .outputMode("append").start()
    try {
      // user 7: open a session at 10:00 ...
      stream.addData(Event(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view", 1.0))
      query.processAllAvailable()
      // ... then a late event at 08:00 (2h before — far outside the gap).
      // It must become its own already-closed session (idx 0), NOT pull
      // the open session's start back to 08:00.
      stream.addData(Event(2L, Timestamp.valueOf("2024-01-01 08:00:00"), 7L, "view", 1.0))
      query.processAllAvailable()
      // 12:00 closes the 10:00 session (gap exceeded) and opens idx 2
      stream.addData(Event(3L, Timestamp.valueOf("2024-01-01 12:00:00"), 7L, "view", 1.0))
      query.processAllAvailable()

      // user 8: open at 10:00; then one batch carries 09:10 (early: more
      // than a gap before 10:00) and 09:35 (in-gap: merges, pulling start
      // to 09:35). 09:10→09:35 is a 25m step ≤ gap, so exact semantics
      // chain all three into ONE session — the reconcile pass must
      // re-absorb the deferred early.
      stream.addData(Event(4L, Timestamp.valueOf("2024-01-01 10:00:00"), 8L, "view", 1.0))
      query.processAllAvailable()
      stream.addData(
        Event(5L, Timestamp.valueOf("2024-01-01 09:10:00"), 8L, "view", 1.0),
        Event(6L, Timestamp.valueOf("2024-01-01 09:35:00"), 8L, "view", 1.0))
      query.processAllAvailable()
      stream.addData(Event(7L, Timestamp.valueOf("2024-01-01 12:00:00"), 8L, "view", 1.0))
      query.processAllAvailable()

      // user 9: the in-batch close case — open at 10:00, then ONE batch
      // carries 09:15 (early), 09:40 (merges, start → 09:40; 09:15 is
      // now within one gap and must be absorbed EAGERLY) and 12:00
      // (closes the merged session). Exact semantics: one closed session
      // [09:15, 10:00] n=3 at idx 0, then idx 1 opens at 12:00.
      stream.addData(Event(10L, Timestamp.valueOf("2024-01-01 10:00:00"), 9L, "view", 1.0))
      query.processAllAvailable()
      stream.addData(
        Event(11L, Timestamp.valueOf("2024-01-01 09:15:00"), 9L, "view", 1.0),
        Event(12L, Timestamp.valueOf("2024-01-01 09:40:00"), 9L, "view", 1.0),
        Event(13L, Timestamp.valueOf("2024-01-01 12:00:00"), 9L, "view", 1.0))
      query.processAllAvailable()

      // watermark-advancing traffic on another user flushes the opens
      stream.addData(Event(8L, Timestamp.valueOf("2024-06-01 00:00:00"), 999L, "view", 1.0))
      query.processAllAvailable()
      stream.addData(Event(9L, Timestamp.valueOf("2024-12-01 00:00:00"), 999L, "view", 1.0))
      query.processAllAvailable()

      def sessionsOf(uid: Long) = spark.table("early_split_test")
        .filter($"user_id" === uid)
        .collect()
        .map(r => (r.getAs[Long]("session_idx"), r.getAs[Long]("n_events"),
          r.getAs[Timestamp]("start_ts")))
        .toSet
      assert(sessionsOf(7L) == Set(
        (0L, 1L, Timestamp.valueOf("2024-01-01 08:00:00")),
        (1L, 1L, Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, 1L, Timestamp.valueOf("2024-01-01 12:00:00"))),
        s"user 7 must split the far-late event, got ${sessionsOf(7L)}")
      assert(sessionsOf(8L) == Set(
        (0L, 3L, Timestamp.valueOf("2024-01-01 09:10:00")),
        (1L, 1L, Timestamp.valueOf("2024-01-01 12:00:00"))),
        s"user 8 must re-absorb the chained early, got ${sessionsOf(8L)}")
      assert(sessionsOf(9L) == Set(
        (0L, 3L, Timestamp.valueOf("2024-01-01 09:15:00")),
        (1L, 1L, Timestamp.valueOf("2024-01-01 12:00:00"))),
        s"user 9's early must absorb into the session CLOSED in the same batch, got ${sessionsOf(9L)}")
    } finally query.stop()
  }

  test("session_window streaming sessions match batch q21 session boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val events = loadEvents()
    val stream = MemoryStream[Event]
    val out = EventStreams.sessionWindows(stream.toDF())
    val query = out.writeStream.format("memory").queryName("session_test")
      .outputMode("append").start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      stream.addData(Event(-1L, Timestamp.valueOf("2025-06-01 00:00:00"), 999999L, "sentinel", 0.0))
      query.processAllAvailable()

      val streamed = spark.table("session_test")
        .filter($"user_id" =!= 999999L)
        .select($"user_id", $"start_ts", $"n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

      val batch = SparkEntry.queries("q21_session")(spark, SfDir)
        .select($"user_id", $"start_ts", $"n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

      assert(streamed == batch)
    } finally query.stop()
  }

  test("streaming corpus curation matches the batch gate->dedup->sample chain") {
    import graft.streaming.DocumentStreams
    import graft.streaming.DocumentStreams.Doc
    implicit val sqlCtx = spark.sqlContext

    // real corpus docs (planted dups included), streamed in doc_id order
    // so streaming's first-arrival dedup matches batch keep-min-doc_id
    val docs = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .collect().sortBy(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (r, i) =>
        Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
          r.getAs[String]("lang"), r.getAs[String]("source"),
          new Timestamp(1700000000000L + i * 1000L))
      }

    val stream = MemoryStream[Doc]
    val query = DocumentStreams.curateStream(stream.toDF())
      .writeStream.format("memory").queryName("curate_stream_test")
      .outputMode("append").start()
    try {
      val (first, second) = docs.splitAt(docs.length / 2)
      stream.addData(first.toSeq)
      query.processAllAvailable()
      stream.addData(second.toSeq)
      query.processAllAvailable()
      val streamed = spark.table("curate_stream_test")
        .select($"doc_id").collect().map(_.getLong(0)).toSet

      // batch replay of the same stages over the same rows
      import graft.operators.{Relational, Sampling, TextAnalysis}
      val batchIn = Tables.documents(spark, SfDir)
      val gated = batchIn
        .withColumn("quality", TextAnalysis.qualityScore(graft.functions.F.tokens($"text")))
        .filter($"quality" >= 0.3)
        .withColumn("text_hash", md5(trim(regexp_replace($"text", "\\s+", " "))))
      val deduped = Relational.dedupKeepFirstAgg(gated,
        keys = Seq($"text_hash"), order = Seq($"doc_id"))
      val batch = deduped
        .filter(Sampling.stratifiedKeep($"doc_id", $"lang"))
        .select($"doc_id").collect().map(_.getLong(0)).toSet

      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(5)}, batch-only: ${(batch -- streamed).take(5)}")
    } finally query.stop()
  }

  test("live cluster maintenance sink: 3-batch replay equals the full star recompute") {
    import graft.streaming.DocumentStreams
    import graft.streaming.DocumentStreams.Doc
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .collect().sortBy(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (r, i) =>
        Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
          r.getAs[String]("lang"), r.getAs[String]("source"),
          new Timestamp(1700000000000L + i * 1000L))
      }
    // the sink's CC calls and the full recompute run on the driver
    // union-find (default bound) and on the distributed contraction (0)
    for (bound <- Seq(None, Some("0"))) withCcDriverBound(bound) {
      val outDir = java.nio.file.Files.createTempDirectory("clusters").toString

      val stream = MemoryStream[Doc]
      val query = stream.toDF().writeStream
        .foreachBatch(DocumentStreams.clusterMaintenanceSink(outDir) _)
        .start()
      try {
        // consecutive-id chunks: the monotone-arrival contract
        docs.grouped((docs.length + 2) / 3).foreach { chunk =>
          stream.addData(chunk.toSeq)
          query.processAllAvailable()
        }
        def liveLabels() = spark.read
          .parquet(s"${liveSnapshot(outDir).get}/labels")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val streamed = liveLabels()
        val all = Tables.documents(spark, SfDir).select($"doc_id", $"text")
        val full = Dedup.connectedComponents(
          all.select($"doc_id".as("id")),
          Dedup.minhashDedupLinks(all, "doc_id", "text", threshold = 0.9)
            .select($"id_a", $"id_b"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(streamed == full,
          s"bound $bound: stream-only ${(streamed -- full).take(3)}, full-only ${(full -- streamed).take(3)}")

        // redelivery of an already-clustered chunk republishes identically
        stream.addData(docs.takeRight(docs.length / 3).toSeq)
        query.processAllAvailable()
        assert(liveLabels() == full, s"bound $bound: replayed rows must be idempotent")
      } finally query.stop()
    }
  }

  test("incremental passage-dedup sink: cumulative reports equal batch q166; replay idempotent") {
    import graft.streaming.DocumentStreams
    import graft.streaming.DocumentStreams.Doc
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .collect().sortBy(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (r, i) =>
        Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
          r.getAs[String]("lang"), r.getAs[String]("source"),
          new Timestamp(1700000000000L + i * 1000L))
      }
    val outDir = java.nio.file.Files.createTempDirectory("passages").toString

    val stream = MemoryStream[Doc]
    val query = stream.toDF().writeStream
      .foreachBatch(DocumentStreams.passageDedupSink(outDir) _)
      .start()
    try {
      // consecutive-id chunks: the monotone-arrival contract under which
      // streaming first-arrival == batch corpus-first
      docs.grouped((docs.length + 2) / 3).foreach { chunk =>
        stream.addData(chunk.toSeq)
        query.processAllAvailable()
      }
      def reports() = spark.read.parquet(s"$outDir/reports")
        .select($"id", $"n_tokens", $"dup_windows", $"dup_tokens",
          $"kept_tokens", $"dup_frac_1e4")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      val streamed = reports()
      val batchTwin = Dedup
        .duplicatePassages(Tables.documents(spark, SfDir), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(batchTwin.exists(_._3 > 0), "planted dups should flag docs")
      assert(streamed == batchTwin,
        s"stream-only ${(streamed -- batchTwin).take(3)}, " +
          s"batch-only ${(batchTwin -- streamed).take(3)}")

      // cross-batch marking actually happened: some doc outside the first
      // chunk was marked against an earlier chunk's store entry
      val firstChunkMax = docs((docs.length + 2) / 3 - 1).doc_id
      assert(streamed.exists(t => t._1 > firstChunkMax && t._3 > 0),
        "expected a later-batch doc marked against the hash store")

      // redelivery of a committed chunk drops at the docmax guard
      stream.addData(docs.takeRight(docs.length / 3).toSeq)
      query.processAllAvailable()
      assert(reports() == batchTwin, "replayed rows must be idempotent")

      // a crashed-checkpoint replay calls the closure again with the same
      // batch id — artifacts are already on disk, nothing may change
      DocumentStreams.passageDedupSink(outDir)(
        docs.takeRight(docs.length / 3).toSeq.toDF(), 2L)
      assert(reports() == batchTwin, "direct same-batch replay must no-op")
    } finally query.stop()
  }

  test("a re-run batch id counts only earlier batches' commit markers: the passage sink rewrites it whole") {
    import graft.streaming.DocumentStreams
    import graft.operators.Dedup
    val docs = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text").collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getString(1)))
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val outDir = java.nio.file.Files.createTempDirectory("passages_rerun").toString
    val sink = DocumentStreams.passageDedupSink(outDir) _
    sink(chunks(0).toSeq.toDF("doc_id", "text"), 0L)
    // batch id 1 commits over a prefix of its rows, then re-runs over all
    // of them: the batch id, not the row, is the replay unit. Were the
    // first attempt's own marker counted, the prefix would drop as
    // redelivered and the rewrite of batch 1's reports and hashes would
    // lose it.
    sink(chunks(1).take(chunks(1).length / 2).toSeq.toDF("doc_id", "text"), 1L)
    sink(chunks(1).toSeq.toDF("doc_id", "text"), 1L)
    sink(chunks(2).toSeq.toDF("doc_id", "text"), 2L)
    val streamed = spark.read.parquet(s"$outDir/reports")
      .select($"id", $"n_tokens", $"dup_windows", $"dup_tokens",
        $"kept_tokens", $"dup_frac_1e4")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val batchTwin = Dedup
      .duplicatePassages(Tables.documents(spark, SfDir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(streamed == batchTwin,
      s"stream-only ${(streamed -- batchTwin).take(3)}, " +
        s"batch-only ${(batchTwin -- streamed).take(3)}")
  }

  test("passage store compaction: a restarted stream continues on the swapped store; reuse fails loud") {
    import graft.streaming.DocumentStreams
    import graft.operators.Dedup
    val docs = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text").collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getString(1)))
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    val src = java.nio.file.Files.createTempDirectory("pstore_src").toString
    val dst = java.nio.file.Files.createTempDirectory("pstore").toString + "/compacted"

    // two committed micro-batches into the source store, then a CRASHED
    // third: its hashes/reports landed but its docmax (the commit marker,
    // written last) did not — compaction must not fold the orphans, or
    // the post-swap replay would see its own hashes as prior state
    val sinkSrc = DocumentStreams.passageDedupSink(src) _
    sinkSrc(chunks(0).toSeq.toDF("doc_id", "text"), 0L)
    sinkSrc(chunks(1).toSeq.toDF("doc_id", "text"), 1L)
    sinkSrc(chunks(2).toSeq.toDF("doc_id", "text"), 2L)
    def rmr(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    }
    rmr(s"$src/docmax/batch=2")
    DocumentStreams.compactPassageStore(spark, src, dst)
    assert(spark.read.parquet(s"$dst/reports").filter($"id".isin(
        chunks(2).map(_._1).take(5): _*)).count() == 0,
      "orphan uncommitted reports must not fold into the base")

    // a RESTARTED stream (fresh checkpoint, batch ids from 0) replays the
    // crashed chunk on the compacted store: the sentinel batch=-1
    // survives its batch<0 read, and the replay marks cleanly
    DocumentStreams.passageDedupSink(dst)(chunks(2).toSeq.toDF("doc_id", "text"), 0L)
    val streamed = spark.read.parquet(s"$dst/reports")
      .select($"id", $"n_tokens", $"dup_windows", $"dup_tokens",
        $"kept_tokens", $"dup_frac_1e4")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val batchTwin = Dedup
      .duplicatePassages(Tables.documents(spark, SfDir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(streamed == batchTwin,
      s"stream-only ${(streamed -- batchTwin).take(3)}, " +
        s"batch-only ${(batchTwin -- streamed).take(3)}")

    // a reused destination must fail loud, not serve duplicate hash rows
    val err = intercept[IllegalArgumentException] {
      DocumentStreams.compactPassageStore(spark, src, dst)
    }
    assert(err.getMessage.contains("FRESH store"))
    // and a non-store source must fail loud too
    val empty = java.nio.file.Files.createTempDirectory("notastore").toString
    val err2 = intercept[IllegalArgumentException] {
      DocumentStreams.compactPassageStore(spark, empty,
        java.nio.file.Files.createTempDirectory("pstore2").toString + "/x")
    }
    assert(err2.getMessage.contains("not a passage-dedup store"))
  }

  test("composed corpus pipeline: curate -> build sink over 3 batches equals batch q88") {
    import graft.streaming.DocumentStreams
    import graft.streaming.DocumentStreams.Doc
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext

    // ALL docs stream (holdout included — they participate in dedup so a
    // duplicate whose representative is a holdout doc must vanish), in
    // doc_id order so first-arrival dedup == batch keep-min-doc_id
    val docs = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .collect().sortBy(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (r, i) =>
        Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
          r.getAs[String]("lang"), r.getAs[String]("source"),
          new Timestamp(1700000000000L + i * 1000L))
      }
    // the STATIC benchmark shingle dim, exactly q88's eval side
    val evalShingles = Tables.documents(spark, SfDir)
      .filter($"doc_id" % 10 === 7)
      .select(explode(array_distinct(
        Dedup.shingles(graft.functions.F.tokens($"text"), 8))).as("sh"))
      .distinct().cache()
    val outDir = java.nio.file.Files.createTempDirectory("corpus_build").toString

    val stream = MemoryStream[Doc]
    val query = DocumentStreams.curateStream(stream.toDF(), carryText = true)
      .writeStream
      .foreachBatch(DocumentStreams.corpusBuildSink(evalShingles, outDir) _)
      .start()
    try {
      docs.grouped((docs.length + 2) / 3).foreach { chunk =>
        stream.addData(chunk.toSeq)
        query.processAllAvailable()
      }
      def packedRows() = spark.read.parquet(s"$outDir/shards")
        .select($"doc_id", $"lang", $"tokens", $"seq_id", $"seq_off", $"shard")
        .collect().map(_.toSeq).toSet
      val streamed = packedRows()
      val batch = SparkEntry.queries("q88_corpus_build")(spark, SfDir)
        .collect().map(_.toSeq).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"stream-only ${(streamed -- batch).take(3)}, batch-only ${(batch -- streamed).take(3)}")

      // lesson 45: each batch co-locates on shard before the write, so
      // every batch=*/shard=* dir holds exactly one data file
      val shardDirs = for {
        b <- new java.io.File(s"$outDir/shards").listFiles().toSeq
        if b.isDirectory && b.getName.startsWith("batch=")
        s <- b.listFiles().toSeq if s.isDirectory && s.getName.startsWith("shard=")
      } yield s"${b.getName}/${s.getName}" ->
        s.listFiles().count(_.getName.endsWith(".parquet"))
      assert(shardDirs.nonEmpty && shardDirs.forall(_._2 == 1),
        s"one file per (batch, shard): ${shardDirs.filter(_._2 != 1).take(5)}")

      // the live manifest equals a recompute over the written shard rows
      def manifest() = spark.read
        .parquet(s"${liveSnapshot(outDir).get}/manifest")
        .collect().map(_.toSeq).toSet
      val fromRows = spark.read.parquet(s"$outDir/shards")
        .groupBy($"shard".cast("long").as("shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum($"tokens").cast("long").as("n_tokens"),
          sum(graft.operators.Sampling.docHash32(concat($"doc_id".cast("string"),
            lit(":"), $"lang", lit(":"), $"tokens".cast("string"))))
            .cast("long").as("checksum"))
        .collect().map(_.toSeq).toSet
      assert(manifest() == fromRows, "manifest must equal a shard-row recompute")

      // redelivery of the last chunk is idempotent: rows AND manifest
      stream.addData(docs.takeRight(docs.length / 3).toSeq)
      query.processAllAvailable()
      assert(packedRows() == batch, "replayed rows must not change the corpus")
      assert(manifest() == fromRows, "replayed rows must not change the manifest")
    } finally { query.stop(); evalShingles.unpersist() }
  }

  test("full continuous pipeline: ONE curate stream drives corpus build AND cluster maintenance") {
    import graft.streaming.DocumentStreams
    import graft.streaming.DocumentStreams.Doc
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .collect().sortBy(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (r, i) =>
        Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
          r.getAs[String]("lang"), r.getAs[String]("source"),
          new Timestamp(1700000000000L + i * 1000L))
      }
    val evalShingles = Tables.documents(spark, SfDir)
      .filter($"doc_id" % 10 === 7)
      .select(explode(array_distinct(
        Dedup.shingles(graft.functions.F.tokens($"text"), 8))).as("sh"))
      .distinct().cache()
    // the sink's CC calls and the full recompute run on the driver
    // union-find (default bound) and on the distributed contraction (0)
    for (bound <- Seq(None, Some("0"))) withCcDriverBound(bound) {
      val buildDir = java.nio.file.Files.createTempDirectory("pipe_build").toString
      val clusterDir = java.nio.file.Files.createTempDirectory("pipe_clusters").toString

      val stream = MemoryStream[Doc]
      // one continuous pipeline: each curated micro-batch feeds BOTH the
      // corpus-build sink (decontaminate -> pack -> shard + manifest) and
      // the live cluster-maintenance sink — the two downstream artifacts a
      // training pipeline keeps beside each other
      val query = DocumentStreams.curateStream(stream.toDF(), carryText = true)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          DocumentStreams.corpusBuildSink(evalShingles, buildDir)(b.toDF(), id)
          DocumentStreams.clusterMaintenanceSink(clusterDir)(b.toDF(), id)
        }
        .start()
      try {
        docs.grouped((docs.length + 2) / 3).foreach { chunk =>
          stream.addData(chunk.toSeq)
          query.processAllAvailable()
        }
        // artifact 1: the packed corpus equals batch q88
        val packed = spark.read.parquet(s"$buildDir/shards")
          .select($"doc_id", $"lang", $"tokens", $"seq_id", $"seq_off", $"shard")
          .collect().map(_.toSeq).toSet
        val batch = SparkEntry.queries("q88_corpus_build")(spark, SfDir)
          .collect().map(_.toSeq).toSet
        assert(packed == batch,
          s"stream-only ${(packed -- batch).take(3)}, batch-only ${(batch -- packed).take(3)}")
        // artifact 2: the live labels equal the full star recompute over
        // the SAME curated corpus (gate -> dedup -> sample batch replay)
        import graft.operators.{Relational, Sampling, TextAnalysis}
        val gated = Tables.documents(spark, SfDir)
          .withColumn("quality", TextAnalysis.qualityScore(graft.functions.F.tokens($"text")))
          .filter($"quality" >= 0.3)
          .withColumn("text_hash", md5(trim(regexp_replace($"text", "\\s+", " "))))
        val curated = Relational.dedupKeepFirstAgg(gated,
            keys = Seq($"text_hash"), order = Seq($"doc_id"))
          .filter(Sampling.stratifiedKeep($"doc_id", $"lang"))
          .select($"doc_id", $"text").cache()
        val live = spark.read
          .parquet(s"${liveSnapshot(clusterDir).get}/labels")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val full = Dedup.connectedComponents(
          curated.select($"doc_id".as("id")),
          Dedup.minhashDedupLinks(curated, "doc_id", "text", threshold = 0.9)
            .select($"id_a", $"id_b"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        curated.unpersist()
        assert(live == full,
          s"bound $bound: live-only ${(live -- full).take(3)}, full-only ${(full -- live).take(3)}")
      } finally query.stop()
    }
    evalShingles.unpersist()
  }

  test("corpus build sink is split-invariant: random micro-batch cuts reproduce batch q88") {
    import graft.streaming.DocumentStreams
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val evalShingles = Tables.documents(spark, SfDir)
      .filter($"doc_id" % 10 === 7)
      .select(explode(array_distinct(
        Dedup.shingles(graft.functions.F.tokens($"text"), 8))).as("sh"))
      .distinct().cache()
    // curated rows in arrival order (the sink's input shape)
    val curated = {
      import graft.operators.{Relational, Sampling, TextAnalysis}
      val gated = Tables.documents(spark, SfDir)
        .withColumn("quality", TextAnalysis.qualityScore(graft.functions.F.tokens($"text")))
        .filter($"quality" >= 0.3)
        .withColumn("text_hash", md5(trim(regexp_replace($"text", "\\s+", " "))))
      Relational.dedupKeepFirstAgg(gated, keys = Seq($"text_hash"), order = Seq($"doc_id"))
        .filter(Sampling.stratifiedKeep($"doc_id", $"lang"))
        .select($"doc_id", $"lang", $"text").orderBy($"doc_id").collect()
    }
    val batch = SparkEntry.queries("q88_corpus_build")(spark, SfDir)
      .collect().map(_.toSeq).toSet
    val rng = new scala.util.Random(4242L) // seeded — reproducible splits
    try {
      for (trial <- 0 until 3) {
        // 1..6 random cut points, duplicates allowed (EMPTY batches
        // must be harmless: nothing written, manifest coverage holds)
        val cuts = Array.fill(rng.nextInt(6) + 1)(rng.nextInt(curated.length + 1)).sorted
        val chunks = (0 +: cuts.toSeq :+ curated.length).sliding(2)
          .map { case Seq(a, b) => curated.slice(a, b) }.toSeq
        val outDir = java.nio.file.Files.createTempDirectory(s"corpus_split$trial").toString
        val sink = DocumentStreams.corpusBuildSink(evalShingles, outDir) _
        chunks.zipWithIndex.foreach { case (rows, id) =>
          sink(rows.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
            .toDF("doc_id", "lang", "text"), id.toLong)
        }
        val streamed = spark.read.parquet(s"$outDir/shards")
          .select($"doc_id", $"lang", $"tokens", $"seq_id", $"seq_off", $"shard")
          .collect().map(_.toSeq).toSet
        assert(streamed == batch,
          s"trial $trial (cuts ${cuts.mkString(",")}): " +
            s"stream-only ${(streamed -- batch).take(3)}, batch-only ${(batch -- streamed).take(3)}")
      }
    } finally evalShingles.unpersist()
  }

  test("corpus build sink heals a crash between the batch artifacts and the publish") {
    import graft.streaming.DocumentStreams
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val evalShingles = Tables.documents(spark, SfDir)
      .filter($"doc_id" % 10 === 7)
      .select(explode(array_distinct(
        Dedup.shingles(graft.functions.F.tokens($"text"), 8))).as("sh"))
      .distinct()
    // curated batch rows (the sink's input shape), split 2/1
    val curated = {
      import graft.operators.{Relational, Sampling, TextAnalysis}
      val gated = Tables.documents(spark, SfDir)
        .withColumn("quality", TextAnalysis.qualityScore(graft.functions.F.tokens($"text")))
        .filter($"quality" >= 0.3)
        .withColumn("text_hash", md5(trim(regexp_replace($"text", "\\s+", " "))))
      Relational.dedupKeepFirstAgg(gated, keys = Seq($"text_hash"), order = Seq($"doc_id"))
        .filter(Sampling.stratifiedKeep($"doc_id", $"lang"))
        .select($"doc_id", $"lang", $"text").orderBy($"doc_id").collect()
    }
    val (first, rest) = curated.splitAt(curated.length * 2 / 3)
    def toDf(rows: Array[org.apache.spark.sql.Row]) =
      rows.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toDF("doc_id", "lang", "text")
    val outDir = java.nio.file.Files.createTempDirectory("corpus_crash").toString
    val sink = DocumentStreams.corpusBuildSink(evalShingles, outDir) _
    sink(toDf(first), 0L)
    val manifestAfter0 = spark.read
      .parquet(s"${liveSnapshot(outDir).get}/manifest")
      .collect().map(_.toSeq).toSet
    // CRASH SIMULATION: batch 1 lands its per-batch artifacts (the sink
    // writes docmax LAST, so simulate the worst survivable point — all
    // four written, publish missed) by running the sink and rolling the
    // manifest pointer back to batch 0's snapshot
    val snap0 = liveSnapshot(outDir).get
    sink(toDf(rest), 1L)
    // capture the full-coverage manifest BEFORE the rollback — the next
    // publish reclaims this snapshot's directory
    val expected = spark.read
      .parquet(s"${liveSnapshot(outDir).get}/manifest")
      .collect().map(_.toSeq).toSet
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "_current"),
      java.nio.file.Paths.get(snap0).getFileName.toString.getBytes("UTF-8"))
    assert(spark.read.parquet(s"${liveSnapshot(outDir).get}/manifest")
      .collect().map(_.toSeq).toSet == manifestAfter0, "rollback precondition")
    // same-batch replay: priorOnly excludes batch 1's own docmax, so the
    // rows re-enter as fresh and the heal is a full deterministic
    // rewrite of batch 1's partitions + a republish
    sink(toDf(rest), 1L)
    val relived = spark.read
      .parquet(s"${liveSnapshot(outDir).get}/manifest")
      .collect().map(_.toSeq).toSet
    assert(relived == expected, "replay must restore the full-coverage manifest")
    // the OTHER heal path — a LATER batch with zero fresh rows after a
    // missed publish: coverage alone must notice the stale manifest and
    // republish from the persisted deltas (no per-batch writes at all)
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "_current"),
      java.nio.file.Paths.get(snap0).getFileName.toString.getBytes("UTF-8"))
    sink(toDf(rest), 2L) // every row <= batch 1's docmax -> fresh empty
    val deltaHealed = spark.read
      .parquet(s"${liveSnapshot(outDir).get}/manifest")
      .collect().map(_.toSeq).toSet
    assert(deltaHealed == expected,
      "a zero-fresh later batch must republish the manifest from the deltas")
  }

  test("cluster sink recovers a crash between the docs append and the publish") {
    import graft.streaming.DocumentStreams
    import graft.operators.Dedup
    val docs = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text").orderBy($"doc_id").collect()
    val (first, rest) = docs.splitAt(docs.length * 2 / 3)
    def toDf(rows: Array[org.apache.spark.sql.Row]) =
      rows.toSeq.map(r => (r.getLong(0), r.getString(1))).toDF("doc_id", "text")
    val all = Tables.documents(spark, SfDir).select($"doc_id", $"text")
    // the sink's CC calls and the full recompute run on the driver
    // union-find (default bound) and on the distributed contraction (0)
    for (bound <- Seq(None, Some("0"))) withCcDriverBound(bound) {
      val outDir = java.nio.file.Files.createTempDirectory("clusters_crash").toString
      val sink = DocumentStreams.clusterMaintenanceSink(outDir) _
      def liveLabels() = spark.read
        .parquet(s"${liveSnapshot(outDir).get}/labels")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = Dedup.connectedComponents(
        all.select($"doc_id".as("id")),
        Dedup.minhashDedupLinks(all, "doc_id", "text", threshold = 0.9)
          .select($"id_a", $"id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      sink(toDf(first), 0L)
      val snap0 = liveSnapshot(outDir).get
      // CRASH SIMULATION: batch 1's docs + commit marker land, but the
      // process dies before the labels snapshot publishes
      toDf(rest).write.mode("overwrite").parquet(s"$outDir/docs/batch=1")
      Seq(rest.map(_.getLong(0)).max).toDF("max_id")
        .write.mode("overwrite").parquet(s"$outDir/docmax/batch=1")
      // the same-id REPLAY counts only earlier batches' markers, so it
      // re-ingests batch 1 whole and publishes the full clustering
      sink(toDf(rest), 1L)
      val live = liveLabels()
      assert(live == full,
        s"bound $bound: live-only ${(live -- full).take(3)}, full-only ${(full -- live).take(3)}")
      // the OTHER heal path — a LATER batch with zero fresh rows after a
      // missed publish: the coverage meta alone must notice the unlabeled
      // ids and re-cluster them (an early return here would lose batch
      // 1's links forever)
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "_current"),
        java.nio.file.Paths.get(snap0).getFileName.toString.getBytes("UTF-8"))
      assert(liveLabels().map(_._1).max < rest.map(_.getLong(0)).min, "rollback precondition")
      sink(toDf(rest), 2L) // every row <= batch 1's marker -> fresh empty
      val healed = liveLabels()
      assert(healed == full,
        s"bound $bound: healed-only ${(healed -- full).take(3)}, full-only ${(full -- healed).take(3)}")
    }
  }

  test("streaming incremental dedup (stream-static anti join) matches batch q81's keep set") {
    import graft.streaming.DocumentStreams
    import graft.streaming.DocumentStreams.Doc
    import graft.operators.Sampling
    implicit val sqlCtx = spark.sqlContext

    // same deterministic batch split as q81: incoming = hash % 4 == 0,
    // streamed in doc_id order so first-arrival matches q81's rn=1
    val all = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text", $"lang", $"source",
        (Sampling.docHash32($"doc_id") % 4 === 0).as("incoming"))
    val corpusHashes = all.filter(!$"incoming")
      .select(md5(trim(regexp_replace($"text", "\\s+", " "))).as("text_hash"))
      .distinct()
    val incomingDocs = all.filter($"incoming")
      .collect().sortBy(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (r, i) =>
        Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
          r.getAs[String]("lang"), r.getAs[String]("source"),
          new Timestamp(1700000000000L + i * 1000L))
      }

    val stream = MemoryStream[Doc]
    val query = DocumentStreams.dedupAgainstCorpus(stream.toDF(), corpusHashes)
      .writeStream.format("memory").queryName("inc_dedup_stream_test")
      .outputMode("append").start()
    try {
      val (first, second) = incomingDocs.splitAt(incomingDocs.length / 2)
      stream.addData(first.toSeq)
      query.processAllAvailable()
      stream.addData(second.toSeq)
      query.processAllAvailable()
      val streamed = spark.table("inc_dedup_stream_test")
        .select($"doc_id").collect().map(_.getLong(0)).toSet

      val batch = SparkEntry.queries("q81_incremental_dedup")(spark, SfDir)
        .filter($"keep" === 1)
        .select($"doc_id").collect().map(_.getLong(0)).toSet

      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(5)}, batch-only: ${(batch -- streamed).take(5)}")
    } finally query.stop()
  }

  test("streaming cardinality report matches batch q86 across micro-batches") {
    import graft.streaming.DocumentStreams
    import graft.streaming.DocumentStreams.Doc
    implicit val sqlCtx = spark.sqlContext

    // HLL++ is deterministic and merge-commutative: any micro-batch split
    // must produce the same sketch estimate as the one-shot batch
    val docs = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .collect().sortBy(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (r, i) =>
        Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
          r.getAs[String]("lang"), r.getAs[String]("source"),
          new Timestamp(1700000000000L + i * 1000L))
      }

    val stream = MemoryStream[Doc]
    val query = DocumentStreams.cardinalityStream(stream.toDF())
      .writeStream.format("memory").queryName("card_stream_test")
      .outputMode("complete").start()
    try {
      val thirds = docs.grouped((docs.length + 2) / 3).toSeq
      thirds.foreach { b => stream.addData(b.toSeq); query.processAllAvailable() }
      val streamed = spark.table("card_stream_test")
        .as[(String, Long, Long)].collect().toSet

      val batch = SparkEntry.queries("q86_cardinality_hll")(spark, SfDir)
        .as[(String, Long, Long)].collect().toSet

      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(5)}, batch-only: ${(batch -- streamed).take(5)}")
    } finally query.stop()
  }

  test("streaming fixed-k sample matches batch q103 across micro-batches") {
    import graft.streaming.DocumentStreams
    import graft.streaming.DocumentStreams.Doc
    implicit val sqlCtx = spark.sqlContext

    // BottomKSample state per language is the <= k-pair buffer; after all
    // data arrives the complete-mode table must EQUAL batch q103 (which
    // routes through the TopKPerKey plan node) for any micro-batch split
    val docs = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .collect().sortBy(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (r, i) =>
        Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
          r.getAs[String]("lang"), r.getAs[String]("source"),
          new Timestamp(1700000000000L + i * 1000L))
      }

    val stream = MemoryStream[Doc]
    val query = DocumentStreams.fixedKSampleStream(stream.toDF())
      .writeStream.format("memory").queryName("fixedk_stream_test")
      .outputMode("complete").start()
    try {
      val thirds = docs.grouped((docs.length + 2) / 3).toSeq
      thirds.foreach { b => stream.addData(b.toSeq); query.processAllAvailable() }
      val streamed = spark.table("fixedk_stream_test")
        .as[(Long, String, Long)].collect().toSet

      val batch = SparkEntry.queries("q103_sample_fixed_k")(spark, SfDir)
        .as[(Long, String, Long)].collect().toSet

      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(5)}, batch-only: ${(batch -- streamed).take(5)}")
    } finally query.stop()
  }

  test("streaming heavy-hitter profile matches batch q98 across micro-batches") {
    import graft.streaming.DocumentStreams
    import graft.streaming.DocumentStreams.Doc
    implicit val sqlCtx = spark.sqlContext

    // the Misra-Gries sketch state survives the state store between
    // micro-batches (serialized buffer per language, capacity-bounded);
    // in the exact regime (capacity 64 >= corpus vocab) the complete-mode
    // table must EQUAL batch q98 regardless of how the stream is split
    val docs = Tables.documents(spark, SfDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .collect().sortBy(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (r, i) =>
        Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
          r.getAs[String]("lang"), r.getAs[String]("source"),
          new Timestamp(1700000000000L + i * 1000L))
      }

    val stream = MemoryStream[Doc]
    val query = DocumentStreams.topTokensStream(stream.toDF())
      .writeStream.format("memory").queryName("toptok_stream_test")
      .outputMode("complete").start()
    try {
      val thirds = docs.grouped((docs.length + 2) / 3).toSeq
      thirds.foreach { b => stream.addData(b.toSeq); query.processAllAvailable() }
      val streamed = spark.table("toptok_stream_test")
        .as[(String, Long, String, Long)].collect().toSet

      val batch = SparkEntry.queries("q98_heavy_hitters")(spark, SfDir)
        .as[(String, Long, String, Long)].collect().toSet

      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(5)}, batch-only: ${(batch -- streamed).take(5)}")
    } finally query.stop()
  }

  test("SCD-2 sink accumulates correct version chains across batches") {
    val dir = java.nio.file.Files.createTempDirectory("scd2_sink_test").toString
    def sink = EventStreams.parquetScd2Sink("id", Seq("bal"), dir) _
    // batch 0: two keys; batch 1: key 1 changes, key 3 appears; batch 2:
    // key 1 changes again, key 2 unchanged (no new version)
    sink(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"), 0L)
    sink(Seq((1L, 11.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal"), 1L)
    sink(Seq((1L, 12.0), (2L, 20.0)).toDF("id", "bal"), 2L)

    val hist = EventStreams.readCurrent(spark, dir)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("bal"),
        r.getAs[Long]("valid_from"), Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
        r.getAs[Boolean]("is_current"))).toSet
    val expected = Set(
      (1L, 10.0, 0L, Some(1L), false),
      (1L, 11.0, 1L, Some(2L), false),
      (1L, 12.0, 2L, None, true),
      (2L, 20.0, 0L, None, true), // unchanged across all batches: ONE open version
      (3L, 30.0, 1L, None, true))
    assert(hist == expected,
      s"extra: ${(hist -- expected).take(5)}, missing: ${(expected -- hist).take(5)}")
    // exactly one open version per key, and chains are contiguous
    val open = hist.filter(_._5)
    assert(open.map(_._1).size == open.size)
    hist.groupBy(_._1).foreach { case (_, vs) =>
      val sorted = vs.toSeq.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._4.contains(b._3), s"gap in chain: $a -> $b")
        case _ => ()
      }
      assert(sorted.last._5 && sorted.init.forall(!_._5))
    }
    // absent key in a batch must NOT close its open version: key 3 was
    // absent from batch 2 and stays current
    assert(hist.exists(v => v._1 == 3L && v._5))

    // checkpoint-replay idempotence: re-running the SAME batch (the
    // foreachBatch crash-recovery contract) must not corrupt history or
    // crash on read-path/write-path overlap — unchanged values produce
    // no new versions, and a fresh snapshot publishes cleanly
    sink(Seq((1L, 12.0), (2L, 20.0)).toDF("id", "bal"), 2L)
    val replayed = EventStreams.readCurrent(spark, dir)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("bal"),
        r.getAs[Long]("valid_from"), Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
        r.getAs[Boolean]("is_current"))).toSet
    assert(replayed == expected, s"replay must be a no-op merge: ${replayed -- expected}")
  }

  test("SCD-2 sink: null-key history rows survive later batches intact") {
    val dir = java.nio.file.Files.createTempDirectory("scd2_null_test").toString
    def sink = EventStreams.parquetScd2Sink("id", Seq("bal"), dir) _
    sink(Seq((Some(7L), 70.0), (Option.empty[Long], 99.0)).toDF("id", "bal"), 0L)
    sink(Seq((Some(7L), 71.0)).toDF("id", "bal"), 1L) // no null-key rows
    val hist = EventStreams.readCurrent(spark, dir)
      .collect().map(r => (Option(r.getAs[java.lang.Long]("id")).map(_.toLong),
        r.getAs[Double]("bal"), r.getAs[Boolean]("is_current"))).toSet
    // a NULL key never equi-joins, so a key-null test would misread the
    // unmatched history row as brand-new and resurrect it from the batch
    // side's all-null columns; the match markers must keep it intact
    assert(hist.contains((None, 99.0, true)), s"null-key row corrupted: $hist")
    assert(hist.contains((Some(7L), 70.0, false)) && hist.contains((Some(7L), 71.0, true)))
    assert(hist.size == 3)
  }

  test("streaming retention matches batch q108 across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val events = loadEvents()
    val cohorts = Tables.events(spark, SfDir)
      .filter($"event_type" === "signup")
      .groupBy($"user_id")
      .agg(min((unix_millis($"ts") / lit(86400000L)).cast("long")).as("cohort_day"))

    val stream = MemoryStream[Event]
    val out = EventStreams.retentionStream(stream.toDF(), cohorts, watermark = "400 days")
    val query = out.writeStream.format("memory").queryName("retention_stream_test")
      .outputMode("update").start()
    try {
      events.grouped((events.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      // update mode re-emits touched cells: last emission per key wins
      val streamed = spark.table("retention_stream_test")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val batch = SparkEntry.queries("q108_retention")(spark, SfDir)
        .collect().map(r => ((r.getAs[Long]("cohort_day"), r.getAs[Long]("day_offset")),
          r.getAs[Long]("n_users"))).toMap
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"stream-only: ${(streamed.toSet -- batch.toSet).take(5)}, " +
          s"batch-only: ${(batch.toSet -- streamed.toSet).take(5)}")
    } finally query.stop()
  }

  test("streaming moving window matches batch q109 on every day batch emits") {
    implicit val sqlCtx = spark.sqlContext
    val events = loadEvents()

    val stream = MemoryStream[Event]
    val out = EventStreams.movingWindowStream(stream.toDF(), watermark = "400 days")
    val query = out.writeStream.format("memory").queryName("moving_window_test")
      .outputMode("update").start()
    try {
      events.grouped((events.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      // update mode re-emits touched cells: last emission per key wins
      val streamed = spark.table("moving_window_test")
        .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
      val batch = SparkEntry.queries("q109_moving_window")(spark, SfDir)
        .collect().map(r => ((r.getAs[String]("event_type"), r.getAs[Long]("day")),
          (r.getAs[Long]("trail_sum"), r.getAs[Long]("n")))).toMap
      assert(batch.nonEmpty && streamed.nonEmpty)
      // trail_sum identical wherever batch emits (days with >=1 event)
      batch.foreach { case (key, (trailSum, _)) =>
        assert(streamed.get(key).contains(trailSum),
          s"$key: stream=${streamed.get(key)} batch=$trailSum")
      }
      // stream-only rows are exactly the trail-off days: no same-day
      // events (absent from batch), within 2 days after activity, and
      // their sum equals the still-draining trailing volume
      val extras = streamed.keySet -- batch.keySet
      extras.foreach { case (tpe, day) =>
        assert((1L to 2L).exists(d => batch.contains((tpe, day - d))),
          s"unexplained stream-only row ($tpe, $day)")
        val expect = (0L to 2L).flatMap(d => batch.get((tpe, day - d)).map(_._2)).sum
        assert(streamed((tpe, day)) == expect,
          s"trail-off ($tpe, $day): stream=${streamed((tpe, day))} expect=$expect")
      }
    } finally query.stop()
  }

  test("streaming funnel matches batch q107 on an in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    // micros-precision in-order replay (getTime alone floors to ms and
    // could misorder same-ms events at a chunk boundary)
    val events = loadEvents()
      .sortBy(e => ((e.ts.getTime / 1000) * 1000000L + e.ts.getNanos / 1000, e.event_id))

    val stream = MemoryStream[Event]
    val out = EventStreams.funnelStream(spark, stream.toDS(),
      stages = Seq("view", "click", "purchase"))
    val query = out.writeStream.format("memory").queryName("funnel_stream_test")
      .outputMode("update").start()
    try {
      events.grouped((events.size + 3) / 4).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      // update mode re-emits a user's row per touched micro-batch: the
      // LAST emission per user is the live dashboard value
      val streamed = spark.table("funnel_stream_test")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.get(2), r.get(3), r.get(4))))
        .toMap // later emissions overwrite — memory sink appends in batch order
      val batch = SparkEntry.queries("q107_funnel")(spark, SfDir)
        .collect().map(r => (r.getAs[Long]("user_id"),
          (r.getAs[Long]("depth"), r.get(2), r.get(3), r.get(4)))).toMap
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"stream-only: ${(streamed.toSet -- batch.toSet).take(5)}, " +
          s"batch-only: ${(batch.toSet -- streamed.toSet).take(5)}")
    } finally query.stop()
  }

  test("streaming geocode cascade matches batch q140 across micro-batch boundaries") {
    // Every cascade step, the coordinate projection included, is a
    // broadcast lookup against a static frame — ZERO streaming state, and
    // the same code path as batch q140 — so results must be row-identical
    // under any micro-batch split.
    implicit val sqlCtx = spark.sqlContext
    val (rowsB, gm, goog) = graft.queries.ConnectorQueries.geocodeInputs(spark, SfDir)
    val all = rowsB.select($"custkey", $"addr_n", $"keyword", $"rev_cand",
      $"is_national", $"is_plus").as[GeoRow].collect().toSeq.sortBy(_.custkey)
    val stream = MemoryStream[GeoRow]
    val out = graft.operators.Geocode.cascade(stream.toDF(), gm, goog)
    val query = out.writeStream.format("memory").queryName("geocode_stream_test")
      .outputMode("append").start()
    try {
      all.grouped((all.size + 2) / 3).foreach { chunk =>
        stream.addData(chunk)
        query.processAllAvailable()
      }
      val streamed = spark.table("geocode_stream_test")
        .collect().map(_.toSeq).toSet
      val batch = SparkEntry.queries("q140_geocode_cascade")(spark, SfDir)
        .collect().map(_.toSeq).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(3)}, batch-only: ${(batch -- streamed).take(3)}")
    } finally query.stop()
  }

  test("status-sync sink: each staged batch's delta equals the batch reconcile; replay is idempotent") {
    import graft.operators.StatusSync
    import graft.streaming.SyncStreams
    implicit val sqlCtx = spark.sqlContext
    // stored snapshot with conflicting duplicate keys (last-wins matters)
    // and a null-status arm (None != 'INACTIVE' must deactivate)
    val stored = Seq(
      ("k1", "ACTIVE", 1L), ("k1", "INACTIVE", 2L),  // last-wins INACTIVE -> never emitted
      ("k2", "INACTIVE", 3L), ("k2", "ACTIVE", 4L),  // last-wins ACTIVE
      ("k3", null, 5L),                               // null status deactivates
      ("k4", "ACTIVE", 6L), ("k5", "ACTIVE", 7L))
      .toDF("key", "status", "ord")
    val outDir = java.nio.file.Files.createTempDirectory("status_sync").toString
    val stream = MemoryStream[String]
    val query = stream.toDS().toDF("key").writeStream
      .foreachBatch(SyncStreams.statusSyncSink(stored, outDir) _)
      .start()
    try {
      val batches = Seq(Seq("k2", "k4"), Seq("k5"), Seq("kX"))
      batches.foreach { b => stream.addData(b); query.processAllAvailable() }
      // MULTISET comparison (sorted Seq, not Set): a sink that silently
      // appended duplicate rows would collapse under a Set compare — the
      // exact failure mode the replay guarantee exists to prevent
      def readAll() = spark.read.parquet(outDir)
        .select($"batch", $"id", $"prior_status", $"status")
        .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
      val got = readAll()
      val want = batches.zipWithIndex.flatMap { case (b, i) =>
        StatusSync.reconcile(stored, b.toDF("key"))
          .collect().map(r => Seq(i.toString, r.getString(0),
            String.valueOf(r.getString(1)), r.getString(2)))
      }.sortBy(_.mkString("|"))
      assert(got == want,
        s"stream deltas diverge: got ${got.take(4)} want ${want.take(4)}")
      // the quirk arms fired: null-status deactivates, last-wins-INACTIVE never emits
      assert(want.exists(_(1) == "k3") && !want.exists(_(1) == "k1"),
        "null-status must deactivate and a last-wins-INACTIVE key must not")
      // replaying batch 1 (crash simulation) overwrites its partition, not appends
      SyncStreams.statusSyncSink(stored, outDir)(Seq("k5").toDF("key"), 1L)
      assert(readAll() == got, "batch replay must be idempotent")
      // a replay whose delta SHRANK TO EMPTY (downstream upsert already
      // deactivated everything) must truncate the stale partition too —
      // dynamic partition overwrite would leave the old rows on disk
      SyncStreams.statusSyncSink(stored.withColumn("status", lit("INACTIVE")),
        outDir)(Seq("k5").toDF("key"), 1L)
      val afterEmpty = readAll()
      assert(!afterEmpty.exists(_.head == "1"),
        s"empty replay left stale batch=1 rows: ${afterEmpty.filter(_.head == "1")}")
      assert(afterEmpty == got.filterNot(_.head == "1"),
        "empty replay must only remove batch 1's rows")
    } finally query.stop()
  }

  test("ANN ingest sink: delta visibility, batch-append parity, replay + crash heal, compaction fold") {
    import graft.operators.Similarity
    import graft.streaming.AnnStreams
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, SfDir)
    val base = emb.filter($"vec_id" < 450)
    val extra = emb.filter($"vec_id" >= 450)
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream").toString
    val twinDir = java.nio.file.Files.createTempDirectory("ivf_stream_twin").toString
    val idx = Similarity.ivfIndex(base, trainMod = 2)
    Similarity.saveIvfIndex(idx, dir)
    Similarity.saveIvfIndex(idx, twinDir)
    val rows = extra.select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val stream = MemoryStream[(Long, Seq[Float])]
    val query = stream.toDS().toDF("vec_id", "embedding").writeStream
      .foreachBatch(AnnStreams.annIngestSink(dir))
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      rows.grouped(20).foreach { chunk =>
        stream.addData(chunk.toSeq); query.processAllAvailable()
      }
      // every streamed vector landed in the delta zone; base untouched
      val delta = spark.read.parquet(s"$dir/delta")
      assert(delta.count() == rows.length, "delta zone is missing streamed rows")
      assert(delta.columns.contains("ingest_batch") && delta.columns.contains("cell"),
        s"delta must be partitioned (ingest_batch, cell): ${delta.columns.toSeq}")
      assert(spark.read.parquet(s"$dir/cells").count() == base.count(),
        "streaming ingest must never write into the base cells")
      // the streamed artifact probes EXACTLY like its batch-append twin
      val queries5 = emb.filter($"vec_id" >= 495)
      Similarity.appendToIvfIndex(spark, twinDir, extra)
      val streamed = Similarity.ivfTopKFromSaved(spark, dir, queries5, k = 5)
      val appended = Similarity.ivfTopKFromSaved(spark, twinDir, queries5, k = 5)
      assert(streamed.collect().map(_.toSeq).toSet ==
        appended.collect().map(_.toSeq).toSet,
        "delta-zone probe must equal the batch-append twin row-for-row")
      // the base scan keeps its DPP filter with a delta zone present:
      // each segment joins the broadcast probes BEFORE the union
      assert(streamed.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        "the delta zone must not cost the base scan its partition pruning")
      // the COMPOSED artifact takes the same sink: the closure detects
      // the codebook, delta rows carry the frozen-codebook code beside
      // the embedding, and the ADC + re-rank segments union cleanly
      val pqDir = java.nio.file.Files.createTempDirectory("ivfpq_stream").toString
      val pqTwin = java.nio.file.Files.createTempDirectory("ivfpq_stream_twin").toString
      Similarity.saveIvfPqIndex(base, pqDir, dim = 64, trainMod = 2)
      Similarity.saveIvfPqIndex(base, pqTwin, dim = 64, trainMod = 2)
      val pqSink = AnnStreams.annIngestSink(pqDir)
      rows.grouped(20).zipWithIndex.foreach { case (chunk, id) =>
        pqSink(chunk.toSeq.toDF("vec_id", "embedding"), id.toLong)
      }
      Similarity.appendToIvfPqIndex(spark, pqTwin, extra)
      val pqStreamed = Similarity.ivfPqTopKFromSaved(spark, pqDir, queries5, k = 5)
      assert(pqStreamed.collect().map(_.toSeq).toSet ==
        Similarity.ivfPqTopKFromSaved(spark, pqTwin, queries5, k = 5)
          .collect().map(_.toSeq).toSet,
        "composed delta-zone probe must equal the composed batch-append twin")
      assert(spark.read.parquet(s"$pqDir/delta")
        .select($"code").collect().forall(r => r.getAs[Array[Byte]](0).length == 16),
        "delta rows of a composed artifact must carry frozen-codebook codes")

      // crashed-batch replay overwrites its own partition — no duplicates
      val replay = rows.take(20).toSeq.toDF("vec_id", "embedding")
      AnnStreams.annIngestSink(dir)(replay, 0L)
      assert(spark.read.parquet(s"$dir/delta").count() == rows.length,
        "replaying a batch must overwrite its partition, not append")
      // the replay goes through stage-and-rename: the staged dir is
      // promoted (no dot-prefixed leftovers), so a concurrent probe's
      // exposure is the delete+rename instant, not the write duration
      assert(new java.io.File(s"$dir/delta").listFiles()
        .forall(!_.getName.startsWith(".staging")),
        "a completed replay must leave no staging dir behind")
      // a crash that left only write-orphans in a FRESH delta zone must
      // not wedge probes ('unable to infer schema'), and the replay heals
      val dir2 = java.nio.file.Files.createTempDirectory("ivf_stream_orphan").toString
      Similarity.saveIvfIndex(idx, dir2)
      val orphan = new java.io.File(s"$dir2/delta/ingest_batch=0/cell=0/_temporary")
      assert(orphan.mkdirs())
      java.nio.file.Files.write(orphan.toPath.resolve("part-junk.parquet"),
        Array[Byte](1, 2, 3))
      val healedBefore = Similarity.ivfTopKFromSaved(spark, dir2, queries5, k = 5)
      assert(healedBefore.count() == queries5.count() * 5,
        "an orphaned delta dir must read as absent, not wedge the probe")
      AnnStreams.annIngestSink(dir2)(replay, 0L)
      assert(spark.read.parquet(s"$dir2/delta").count() == 20,
        "the replayed batch must land over the orphaned partition")
      // a tombstoned id arriving on the stream is DROPPED, not failed —
      // the loud batch-append form would wedge a crashed-batch replay
      // whose ids were tombstoned after the crash; delete wins
      Similarity.deleteFromIndex(spark, dir2, Seq(rows.head._1).toDF("vec_id"))
      AnnStreams.annIngestSink(dir2)(replay, 1L)
      val d2 = spark.read.parquet(s"$dir2/delta")
      assert(d2.filter($"ingest_batch" === 1).count() == 19,
        "the tombstoned id must be dropped, its batchmates kept")
      assert(d2.filter($"ingest_batch" === 1 && $"vec_id" === rows.head._1).count() == 0,
        "a tombstoned id must never land in the delta zone")
      // compaction folds the delta into the base: one zone, same answers
      val cDir = java.nio.file.Files.createTempDirectory("ivf_stream_c").toString
      Similarity.compactIvfIndex(spark, dir, cDir)
      assert(!new java.io.File(s"$cDir/delta").exists(),
        "compaction must fold the delta zone away")
      assert(spark.read.parquet(s"$cDir/cells").count() == emb.count(),
        "compaction must carry base + delta rows into the new base")
      assert(Similarity.ivfTopKFromSaved(spark, cDir, queries5, k = 5)
        .collect().map(_.toSeq).toSet ==
        streamed.collect().map(_.toSeq).toSet,
        "the folded artifact must probe identically")
      // a REUSED compaction destination fails loud: cDir now carries
      // cells/, and the source's live delta would otherwise survive a
      // second compaction into it as resurrected duplicates
      assert(intercept[IllegalArgumentException] {
        Similarity.compactIvfIndex(spark, dir, cDir)
      }.getMessage.contains("FRESH"),
        "compacting into a dir that already carries an artifact must fail loud")
      // ... and leftover LSM state alone (delta/ or tombstones/ without
      // cells/) is just as disqualifying — that is the exact corruption
      // a ping-ponged pointer swap would serve
      val stale = java.nio.file.Files.createTempDirectory("ivf_stream_stale").toString
      spark.read.parquet(s"$dir/delta").limit(1)
        .write.parquet(s"$stale/delta/ingest_batch=9")
      assert(intercept[IllegalArgumentException] {
        Similarity.compactIvfIndex(spark, dir, stale)
      }.getMessage.contains("delta"),
        "a destination with stale delta state must fail loud")
    } finally query.stop()
  }

  test("ANN ingest is cut- and delete-invariant: random batches + deletes probe like a batch twin") {
    import graft.operators.Similarity
    import graft.streaming.AnnStreams
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, SfDir)
    val base = emb.filter($"vec_id" < 450)
    val idx = Similarity.ivfIndex(base, trainMod = 2)
    val extra = emb.filter($"vec_id" >= 450).select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val probes = emb.filter($"vec_id" < 6 || $"vec_id" >= 497)
    val rng = new scala.util.Random(4242L) // seeded — reproducible trials
    for (trial <- 0 until 3) {
      // 1..4 random cut points, duplicates allowed: EMPTY micro-batches
      // must be harmless; ~1/4 of the streamed ids get deleted after
      val cuts = Array.fill(rng.nextInt(4) + 1)(rng.nextInt(extra.length + 1)).sorted
      val chunks = (0 +: cuts.toSeq :+ extra.length).sliding(2)
        .map { case Seq(a, b) => extra.slice(a, b) }.toSeq
      val deleted = extra.map(_._1).filter(_ => rng.nextInt(4) == 0).toSet
      val dir = java.nio.file.Files.createTempDirectory(s"ann_cut$trial").toString
      val twin = java.nio.file.Files.createTempDirectory(s"ann_cut_twin$trial").toString
      Similarity.saveIvfIndex(idx, dir)
      Similarity.saveIvfIndex(idx, twin)
      chunks.zipWithIndex.foreach { case (rows, id) =>
        AnnStreams.annIngestSink(dir)(rows.toSeq.toDF("vec_id", "embedding"), id.toLong)
      }
      if (deleted.nonEmpty)
        Similarity.deleteFromIndex(spark, dir, deleted.toSeq.toDF("vec_id"))
      // the twin never saw the deleted ids at all: LSM view (delta zone
      // masked by tombstones) must equal plain base+append of the kept
      Similarity.appendToIvfIndex(spark, twin,
        extra.filter(r => !deleted(r._1)).toSeq.toDF("vec_id", "embedding"))
      val lsm = Similarity.ivfTopKFromSaved(spark, dir, probes, k = 5)
        .collect().map(_.toSeq).toSet
      val flat = Similarity.ivfTopKFromSaved(spark, twin, probes, k = 5)
        .collect().map(_.toSeq).toSet
      assert(lsm == flat,
        s"trial $trial (cuts ${cuts.mkString(",")}, ${deleted.size} deleted): " +
          s"lsm-only ${(lsm -- flat).take(3)}, twin-only ${(flat -- lsm).take(3)}")
      val cDir = java.nio.file.Files.createTempDirectory(s"ann_cut_c$trial").toString
      Similarity.compactIvfIndex(spark, dir, cDir)
      assert(Similarity.ivfTopKFromSaved(spark, cDir, probes, k = 5)
        .collect().map(_.toSeq).toSet == lsm,
        s"trial $trial: compaction changed the probe view")
    }
  }
}

object StreamingSpec {
  /** q140 row-stream shape for the geocode-cascade twin. */
  case class GeoRow(custkey: Long, addr_n: Long, keyword: String, rev_cand: String,
                    is_national: Boolean, is_plus: Boolean)
}
