package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.F
import graft.sources.Sources

/** Structured Streaming twins of the batch event queries (SURVEY.md §2.B).
  *
  * The same transforms run over `readStream` sources: watermarked
  * event-time windows for the rollup, built-in `session_window` for
  * gap-based sessions, and `flatMapGroupsWithState` for the custom-state
  * variant. Batch q20/q21 are the oracle-checked semantics; these are
  * their incremental forms (verified against the batch results in
  * `StreamingSpec`).
  */
object EventStreams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionSummary(user_id: Long, session_idx: Long, n_events: Long,
                            start_ts: Timestamp, end_ts: Timestamp)
  case class OpenSession(idx: Long, n: Long, start: Long, end: Long)

  /** Hourly tumbling rollup. Streaming-legal aggregates only: exact
    * count-distinct isn't incremental, so user counts use HLL
    * (`approx_count_distinct`) — the standard scale trade-off; batch q20
    * keeps the exact count. Watermark bounds state to 2h of windows. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("n_users_approx"),
        sum(F.money(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("n_events"),
        col("n_users_approx"), col("total_value"))

  /** Gap-based sessions via the built-in session_window (30-minute gap).
    * State is per (user, open window) and bounded by the watermark. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start_ts"),
        col("session_window.end").as("end_ts"), col("n_events"))

  /** foreachBatch upsert sink: maintains a keyed parquet table where each
    * micro-batch's rows overwrite existing rows with the same key — the
    * streaming twin of the q36 upsert semantics (update_table.py), and the
    * standard pattern for keeping a serving table current from a stream.
    *
    * Merge = union + keep-first with batch rows ranked above existing
    * (one window pass). Snapshot publication goes through a POINTER FILE
    * ([[graft.sources.Sources.publishSnapshot]]): each batch writes a
    * fresh `snapshot_N` directory, then swaps the `_current` pointer
    * naming the live snapshot. Readers resolve via [[readCurrent]], so
    * there is never a moment with no live table, and a crash mid-publish
    * leaves the previous snapshot live. The swap is one atomic rename on
    * a local disk and on HDFS; on an object store it is not, and the
    * pointer maps to a conditional put there.
    *
    * Note: each batch rewrites the FULL table — O(table) per batch. The
    * scale path is [[parquetUpsertSinkBucketed]], which rewrites only the
    * key-buckets the batch touches.
    */
  def parquetUpsertSink(keyCol: String, outDir: String)(batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = batch.sparkSession
    val incoming = batch.withColumn("__src", lit(1))
    val conf = spark.sparkContext.hadoopConfiguration
    val merged = Sources.currentSnapshotDir(outDir, conf) match {
      case Some(live) =>
        val existing = spark.read.parquet(live).withColumn("__src", lit(0))
        graft.operators.Relational.dedupKeepFirst(
          existing.unionByName(incoming),
          keys = Seq(col(keyCol)),
          order = Seq(col("__src").desc))
      case None => incoming
    }
    Sources.publishSnapshot(outDir, batchId, conf) { staged =>
      merged.drop("__src").write.mode("overwrite").parquet(staged)
    }
  }

  /** foreachBatch SCD TYPE-2 sink: maintains a VERSIONED dimension table
    * (key, values…, valid_from, valid_to, is_current) — the
    * auditable-history twin of [[parquetUpsertSink]]'s overwrite
    * semantics, applying q124's merge per micro-batch: a changed value
    * CLOSES the open version (valid_to = batchId) and opens a new one,
    * unchanged keys pass through untouched, new keys open at the batch
    * id. Version timestamps are BATCH IDS (monotone, replay-stable);
    * callers wanting event time pass it as a value column. Rows already
    * closed in history are immutable — they union through without
    * rereading their content. At most one row per key per batch is
    * honored (extra rows resolve deterministically by value order — put
    * `dropDuplicates` upstream for real streams). Publication reuses the
    * pointer-file snapshot protocol: readers never see a missing or
    * half-merged table, and a crash mid-publish leaves the old history
    * live. O(table) rewrite per batch, like the plain upsert sink — the
    * bucketed variant's partition-overwrite trick applies the same way
    * if history outgrows full rewrites.
    */
  def parquetScd2Sink(keyCol: String, valueCols: Seq[String], outDir: String)
                     (batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    require(valueCols.nonEmpty, "scd2 sink: need at least one value column")
    val spark = batch.sparkSession
    val incoming = graft.operators.Relational.dedupKeepFirst(
        batch.select((keyCol +: valueCols).map(col): _*),
        keys = Seq(col(keyCol)),
        order = valueCols.map(col(_).desc))
      .select(col(keyCol).as("__bk") +: valueCols.map(c => col(c).as(s"__b_$c")) :+
        lit(true).as("__b_hit"): _*)
    val conf = spark.sparkContext.hadoopConfiguration
    val merged = Sources.currentSnapshotDir(outDir, conf) match {
      case None =>
        incoming.select(
          col("__bk").as(keyCol) +: valueCols.map(c => col(s"__b_$c").as(c)) ++: Seq(
            lit(batchId).as("valid_from"),
            lit(null).cast("long").as("valid_to"),
            lit(true).as("is_current")): _*)
      case Some(live) =>
        val hist = spark.read.parquet(live)
        val closedHist = hist.filter(!col("is_current"))
        val open = hist.filter(col("is_current")).withColumn("__c_hit", lit(true))
        // NULL-SAFE equality: a plain === never matches NULL keys, so a
        // null-key batch row would open a NEW version every batch while
        // the old open one passes through — unboundedly many concurrent
        // open versions for the null key. With <=> the null key versions
        // like any other key (exactly one open row).
        val j = open.join(incoming, col(keyCol) <=> col("__bk"), "full_outer")
        val sameVal = struct(valueCols.map(col): _*) ===
          struct(valueCols.map(c => col(s"__b_$c")): _*)
        // match markers, NOT key-null checks: a NULL key never equi-joins,
        // so keyCol.isNull would misread an unmatched null-key history row
        // as "brand new" and resurrect it from the batch side's all-null
        // columns every batch. (Null-key rows simply version per side.)
        val changed = col("__c_hit").isNotNull && col("__b_hit").isNotNull && !sameVal
        val brandNew = col("__c_hit").isNull
        val nowClosed = j.filter(changed).select(
          col(keyCol) +: valueCols.map(col) ++: Seq(
            col("valid_from"), lit(batchId).as("valid_to"),
            lit(false).as("is_current")): _*)
        val stillOpen = j.filter(!changed && !brandNew).select(
          col(keyCol) +: valueCols.map(col) ++: Seq(
            col("valid_from"), col("valid_to"), col("is_current")): _*)
        val opened = j.filter(changed || brandNew).select(
          coalesce(col("__bk"), col(keyCol)).as(keyCol) +:
            valueCols.map(c => col(s"__b_$c").as(c)) ++: Seq(
            lit(batchId).as("valid_from"),
            lit(null).cast("long").as("valid_to"),
            lit(true).as("is_current")): _*)
        closedHist.unionByName(nowClosed).unionByName(stillOpen).unionByName(opened)
    }
    Sources.publishSnapshot(outDir, batchId, conf) { staged =>
      merged.write.mode("overwrite").parquet(staged)
    }
  }

  /** Streaming exact-dedup twin (of the q22 batch semantics): keep the
    * first row per key, with dedup state BOUNDED by the watermark horizon
    * (`dropDuplicatesWithinWatermark`) instead of growing with all
    * history — the only dedup shape that survives an unbounded stream.
    * Late duplicates beyond the watermark can reappear; that is the
    * documented trade-off vs the exact batch pass. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming as-of enrichment (twin of the q92 batch semantics): each
    * arriving probe event binds to the most recent build row at-or-before
    * its own event time, against a STATIC pre-aggregated history index
    * ([[graft.operators.AsOf.asofIndex]] — the dimension-snapshot
    * regime). A stream-static LEFT equi-join plus a per-row array lookup
    * is fully streaming-legal and needs ZERO streaming state: the result
    * for a probe row depends only on the static index and the row
    * itself, so output is exact regardless of micro-batch boundaries —
    * StreamingSpec asserts equality with the batch q92 plan across a
    * 3-batch replay. (For a build side too big/churny to index, run
    * [[graft.operators.AsOf.asofJoin]] per micro-batch via foreachBatch
    * instead; that trades the statelessness for unbounded build size.)
    */
  def asofEnrichStream(probe: DataFrame, index: DataFrame, key: String,
                       time: String, carryCols: Seq[String],
                       prefix: String = "asof_"): DataFrame =
    graft.operators.AsOf.asofLookup(probe, index, key, time, carryCols, prefix)

  /** Streaming retention twin (of batch q108): the live cohort dashboard —
    * per (cohort_day, day_offset) distinct-user counts as events arrive.
    * The cohort assignment (user → signup day) is the STATIC side (a
    * dimension snapshot, recomputed per deploy like the as-of index);
    * the stream side distincts (user, day) through
    * `dropDuplicatesWithinWatermark` BEFORE the join, so a user's
    * repeat activity within a day adds no state and no output — the
    * same pre-distinct that keeps the batch join linear. Counts then
    * aggregate in UPDATE mode keyed by (cohort_day, day_offset) —
    * state is one long per live report cell, not per user. Exactness
    * contract: per-day dedup state is watermark-bounded, so an activity
    * row arriving later than the watermark past its day re-counts (the
    * documented dedupStream trade-off); inside the horizon the final
    * update-mode table equals batch q108 under any micro-batch split
    * (StreamingSpec replay).
    */
  def retentionStream(events: DataFrame, cohorts: DataFrame,
                      watermark: String = "2 days"): DataFrame = {
    val day = (unix_millis(col("ts")) / lit(86400000L)).cast("long")
    events
      .withColumn("day", day)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("user_id", "day"))
      .join(cohorts, "user_id") // stream-static inner equi-join
      .filter(col("day") >= col("cohort_day"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).cast("long").as("n_users"))
  }

  /** Streaming range enrichment (twin of the q93 batch semantics): each
    * arriving point pairs with every containing interval of a STATIC
    * interval table, through the same binned encoding as the batch
    * operator ([[graft.operators.RangeJoin.pointInInterval]]): the
    * interval side explodes into its overlapped bins, the point's bin is
    * a stateless projection, and the stream-static INNER equi-join with
    * the containment residual is fully streaming-legal with ZERO
    * streaming state — each output row depends only on the static
    * intervals and the point row itself, so results are exact under any
    * micro-batch split (StreamingSpec replays q93 in 3 batches). The
    * binning matters MORE here than in batch: a raw inequality
    * stream-static join would nested-loop every micro-batch against the
    * whole interval table, while the binned form keeps per-batch work at
    * pairs-that-share-a-bin. (For intervals that themselves change,
    * re-resolve the static frame per trigger via foreachBatch — the
    * stream side's plan is unchanged.)
    */
  def rangeEnrichStream(points: DataFrame, t: String, intervals: DataFrame,
                        start: String, end: String, binWidth: Long): DataFrame =
    graft.operators.RangeJoin.pointInInterval(points, t, intervals, start, end, binWidth)

  /** Streaming moving-window twin (of batch q109's RANGE-frame trailing
    * 3-day volume): the live version of the report.
    *
    * A RANGE window frame is not streaming-legal (it reorders history),
    * but the trailing-k-day SUM is exactly an OVERLAPPING SLIDING window:
    * `window(ts, '3 days', '1 day')` assigns each event to the three
    * day-aligned windows whose trailing range contains it, and a plain
    * streaming count per (event_type, window) IS the trailing sum — state
    * bounded by watermark horizon × #types × 3, emitted in update mode as
    * days close. `day` = end-day − 1 matches the batch day numbering.
    *
    * Semantics note, pinned by StreamingSpec: on every (event_type, day)
    * the batch report emits (days with ≥1 event), the streaming trail_sum
    * is IDENTICAL; the stream additionally emits trail-off rows for
    * up-to-2 empty days after activity (a window containing only older
    * events) — rows batch q109's daily-rollup input never materializes.
    * Those are the live report's "volume draining to zero" rows; filter
    * on an `n > 0` join with the tumbling daily twin if batch-exact rows
    * are required. */
  def movingWindowStream(events: DataFrame, watermark: String = "4 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("event_type"), window(col("ts"), "3 days", "1 day"))
      .agg(count(lit(1)).cast("long").as("trail_sum"))
      .select(col("event_type"),
        (unix_millis(col("window.end")) / lit(86400000L) - 1L).cast("long").as("day"),
        col("trail_sum"))

  /** Read the live upsert table (resolves the `_current` manifest). */
  def readCurrent(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(Sources.currentSnapshotDir(outDir, spark.sparkContext.hadoopConfiguration)
      .getOrElse(throw new IllegalStateException(s"no published snapshot under $outDir")))

  /** Bucketed upsert sink — the 100 TB path: the table is hash-partitioned
    * on the key into `nBuckets` directories, and a micro-batch rewrites
    * ONLY the buckets its keys touch (dynamic partition overwrite). The
    * touched-bucket list is bounded by nBuckets, never by data volume.
    * Trade-off vs [[parquetUpsertSink]]: no snapshot atomicity across
    * buckets (readers can see bucket A new + bucket B old mid-publish);
    * per-key rows are still atomic per bucket directory.
    */
  def parquetUpsertSinkBucketed(keyCol: String, outDir: String, nBuckets: Int = 16)
                               (batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val spark = batch.sparkSession
    val dir = s"$outDir/table"
    val incoming = batch
      .withColumn("__bucket", pmod(hash(col(keyCol)), lit(nBuckets)))
      .withColumn("__src", lit(1))
    // presence through the path's own FileSystem, crash orphans read as
    // absent: a `file://` table is found, and a `_temporary`-only dir
    // left by a crashed first write does not wedge schema inference
    val merged = if (Sources.hasParquetData(dir, spark.sparkContext.hadoopConfiguration)) {
      // touched buckets: bounded by nBuckets (a driver-side list of ints,
      // NOT data-proportional)
      val touched = incoming.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      val existing = spark.read.parquet(dir)
        .filter(col("__bucket").isin(touched: _*)) // partition-pruned scan
        .withColumn("__src", lit(0))
      graft.operators.Relational.dedupKeepFirst(
        existing.unionByName(incoming),
        keys = Seq(col(keyCol)),
        order = Seq(col("__src").desc))
    } else incoming
    // per-WRITE option, not the session conf: flipping the global would
    // race any concurrently running query in the same session;
    // repartition on the bucket first (SURVEY lesson 45) so each
    // rewritten bucket is one file, not one per upstream partition
    merged.drop("__src").repartition(col("__bucket")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(dir)
  }

  /** Timestamp <-> microseconds, preserving full parquet precision
    * (java.sql.Timestamp.getTime alone floors to milliseconds). */
  private def toMicros(ts: Timestamp): Long =
    (ts.getTime / 1000) * 1000000L + ts.getNanos / 1000
  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  case class FunnelProgress(user_id: Long, depth: Long,
                            t1_us: Option[Long], t2_us: Option[Long], t3_us: Option[Long])

  /** Streaming funnel twin (of batch q107 / [[graft.operators.Funnel]]):
    * the live "how far has each user progressed" dashboard. Per-user
    * state is exactly `nStages` longs (the earliest greedy stage times —
    * HARD-bounded per key on an open stream, unlike the batch operator's
    * per-user event array), updated by folding each micro-batch's events
    * in event-time order and emitted in UPDATE mode.
    *
    * Streaming-legal contract: greedy funnel folds compose — greedy over
    * (prefix ++ suffix) = greedy-from-state over suffix — so on an
    * in-order replay the final per-user rows equal the batch operator
    * exactly (StreamingSpec). Out-of-order arrivals within one
    * micro-batch are handled by the in-batch sort; an event arriving
    * AFTER a later-stage event already consumed its slot is the one
    * divergence from batch (the batch form sees the global order), the
    * same contract the as-of twin documents.
    */
  def funnelStream(spark: SparkSession, events: Dataset[Event],
                   stages: Seq[String]): Dataset[FunnelProgress] = {
    import spark.implicits._
    require(stages.size == 3, "funnelStream: the typed output row carries 3 stages")
    val M = Long.MaxValue
    val stageOf: Map[String, Int] = stages.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[Array[Long], FunnelProgress](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[Array[Long]]) =>
          val st = state.getOption.getOrElse(Array.fill(stages.size)(M))
          val sorted = rows.toSeq
            .filter(_.ts != null) // same null-time rule as batch Funnel.greedy
            .map(e => (toMicros(e.ts), stageOf.getOrElse(e.event_type, -1)))
            .sortBy(x => (x._1, x._2))
          for ((t, k) <- sorted if k >= 0) {
            // strict-> ordering after the previous stage, first hit wins —
            // the same advance rule as Funnel.greedy
            if (k == 0) { if (st(0) == M) st(0) = t }
            else if (st(k) == M && st(k - 1) != M && t > st(k - 1)) st(k) = t
          }
          state.update(st)
          val depth = st.count(_ != M).toLong // stages fill in order
          FunnelProgress(uid, depth,
            if (st(0) == M) None else Some(st(0)),
            if (st(1) == M) None else Some(st(1)),
            if (st(2) == M) None else Some(st(2)))
      }
  }

  /** Custom-state sessionization with flatMapGroupsWithState — the shape
    * for session logic the built-in window can't express (per-session
    * ordinals, custom emission rules).
    *
    * Two modes:
    *  - `emitOpen = true` (batch): one pass per group, the still-open
    *    session is emitted at the end — this is what the spec cross-checks
    *    against oracle-verified q21.
    *  - `emitOpen = false` (streaming): a session is emitted EXACTLY ONCE,
    *    when it closes — either a later event exceeds the 30-minute gap,
    *    or the event-time watermark passes end+gap and the
    *    EventTimeTimeout fires (state is then removed, so state size is
    *    bounded by open sessions only). Callers must put
    *    `withWatermark("ts", ...)` on the stream before this operator.
    */
  def sessionizeWithState(spark: SparkSession, events: Dataset[Event],
                          emitOpen: Boolean = true): Dataset[SessionSummary] = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000000L
    val gapMs = gapUs / 1000L

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[OpenSession], SessionSummary](
        OutputMode.Append,
        if (emitOpen) GroupStateTimeout.NoTimeout() else GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[List[OpenSession]]) =>
          if (!emitOpen && state.hasTimedOut) {
            // Watermark passed end+gap: every open session is final. Emit
            // and clear — no state survives for an idle key.
            val finals = state.getOption.getOrElse(Nil).map(open =>
              SessionSummary(userId, open.idx, open.n, fromMicros(open.start), fromMicros(open.end)))
            state.remove()
            finals.iterator
          } else {
            // Sort this micro-batch's events; merge into the open session.
            // (null-time rows drop — same rule as funnelStream/batch q21;
            // a null ts would NPE the sort and poison-pill the query)
            val sorted = rows.filter(_.ts != null).toSeq
              .sortBy(e => (toMicros(e.ts), e.event_id))
            var sessions = state.getOption.getOrElse(Nil)
            var closed = List.empty[SessionSummary]
            // A late (within-watermark) event more than one gap BEFORE the
            // open session's span must NOT merge into it — exact gap
            // semantics give it its own earlier session. Set such events
            // aside (head = latest early), chain-merging earlies within a
            // gap of each other; `absorb` re-merges them into the open
            // session EAGERLY whenever its start moves down (an in-range
            // late event) and `flush` closes the leftovers as separate
            // sessions just before the open session itself emits or the
            // batch ends — so every within-batch composition is exact.
            // Residual approximation (can only fire when watermark > gap):
            // earlies split across DIFFERENT micro-batches that exact
            // semantics would merge emit as separate sessions.
            var earlies = List.empty[OpenSession]
            // chain-merge earlies whose span is within one gap of the
            // (possibly just-extended) open session
            def absorb(open0: OpenSession): OpenSession = {
              var open = open0
              while (earlies.nonEmpty && earlies.head.end >= open.start - gapUs) {
                val h = earlies.head
                open = open.copy(n = open.n + h.n,
                  start = math.min(open.start, h.start),
                  end = math.max(open.end, h.end))
                earlies = earlies.tail
              }
              open
            }
            // close the remaining earlies as their own sessions, taking
            // indices just below the open's (keeps indices unique and
            // chronological among the not-yet-emitted sessions)
            def flush(open0: OpenSession): OpenSession = {
              val sep = earlies.reverse // earliest-first
              earlies = Nil
              sep.zipWithIndex.foreach { case (s2, i2) =>
                closed ::= SessionSummary(userId, open0.idx + i2, s2.n,
                  fromMicros(s2.start), fromMicros(s2.end))
              }
              open0.copy(idx = open0.idx + sep.size)
            }
            for (e <- sorted) {
              val t = toMicros(e.ts)
              sessions match {
                case open :: _ if t < open.start - gapUs =>
                  earlies = earlies match {
                    case h :: tl if t - h.end <= gapUs =>
                      h.copy(n = h.n + 1, start = math.min(h.start, t),
                        end = math.max(h.end, t)) :: tl
                    case _ => OpenSession(0, 1, t, t) :: earlies
                  }
                case open :: rest if t - open.end <= gapUs =>
                  // a LATE (within-watermark) event within one gap of the
                  // span can merge with t below the open end — extend
                  // monotonically, never move the boundaries backward
                  // (end < its own last event, or end < start, would also
                  // split the session spuriously on the next batch); a
                  // downward-moving start may bring deferred earlies into
                  // range — absorb them now, BEFORE any later close fixes
                  // this session's membership
                  sessions = absorb(open.copy(n = open.n + 1,
                    start = math.min(open.start, t),
                    end = math.max(open.end, t))) :: rest
                case open0 :: rest =>
                  // gap exceeded: settle the earlies against the closing
                  // session first (absorb what reaches it, flush the rest
                  // BELOW its index), then emit it and open the next
                  val open = flush(absorb(open0))
                  closed ::= SessionSummary(userId, open.idx, open.n,
                    fromMicros(open.start), fromMicros(open.end))
                  sessions = OpenSession(open.idx + 1, 1, t, t) :: rest
                case Nil =>
                  sessions = OpenSession(0, 1, t, t) :: Nil
              }
            }
            // end of batch: reconcile whatever is still deferred
            sessions = sessions match {
              case open :: rest if earlies.nonEmpty => flush(absorb(open)) :: rest
              case other => other // no open head ⇒ nothing was ever early
            }
            state.update(sessions)
            if (emitOpen) {
              // Batch mode: also emit the still-open session (final by
              // definition — there is no next micro-batch).
              val openEmit = sessions.map(open =>
                SessionSummary(userId, open.idx, open.n, fromMicros(open.start), fromMicros(open.end)))
              (closed.reverse ++ openEmit).iterator
            } else {
              // Streaming: arm the timeout for the open session's close.
              sessions.headOption.foreach { open =>
                state.setTimeoutTimestamp(
                  math.max(open.end / 1000L + gapMs, state.getCurrentWatermarkMs() + 1))
              }
              closed.reverse.iterator
            }
          }
      }
  }
}
