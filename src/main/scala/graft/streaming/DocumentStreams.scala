package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.operators.{Sampling, TextAnalysis}

/** Streaming twin of the corpus-curation pipeline (q72): documents arrive
  * continuously (crawl output), and the gate → dedup → sample stages run
  * incrementally so curated shards are ready as data lands instead of in
  * a nightly batch.
  *
  * Stage mapping:
  *   - quality gate + stratified sample: STATELESS — the exact batch
  *     expressions (same codegen) applied per micro-batch row;
  *   - exact dedup: `dropDuplicatesWithinWatermark` on the content hash —
  *     state is bounded by the ingest-time watermark horizon, the only
  *     sound posture for an unbounded corpus (an unwatermarked
  *     dropDuplicates grows state forever);
  *   - the per-(lang, source) rollup stays a downstream batch/report
  *     query over the curated sink — streaming that final aggregate would
  *     hold one state row per group forever for no freshness benefit.
  *
  * Duplicate policy: the FIRST arrival inside the watermark horizon wins
  * (arrival order replaces the batch keep-min-doc_id tie-break; both are
  * "keep one representative per content hash").
  */
object DocumentStreams {

  case class Doc(doc_id: Long, text: String, lang: String, source: String,
                 ingest_ts: Timestamp)

  def curateStream(docs: DataFrame, minQuality: Double = 0.3,
                   watermark: String = "10 minutes",
                   carryText: Boolean = false): DataFrame = {
    val toks = F.tokens(col("text"))
    val out = Seq(col("doc_id"), col("lang"), col("source"), col("quality"),
      col("text_hash"), col("ingest_ts")) ++
      // downstream sinks that tokenize/shingle (corpusBuildSink) need the
      // body; the default report shape stays slim
      (if (carryText) Seq(col("text")) else Nil)
    docs
      .withColumn("quality", TextAnalysis.qualityScore(toks))
      .filter(col("quality") >= minQuality)
      .withColumn("text_hash",
        md5(trim(regexp_replace(col("text"), "\\s+", " "))))
      .withWatermark("ingest_ts", watermark)
      // dedup BEFORE sampling, matching batch q72: the sampling decision
      // belongs to unique content (its representative's key), not to each
      // copy — sampling first would let an unsampled representative's
      // copies leak through under a different key. The quality gate above
      // already shrinks what dedup state has to hold.
      .dropDuplicatesWithinWatermark("text_hash")
      .filter(Sampling.stratifiedKeep(col("doc_id"), col("lang")))
      .select(out: _*)
  }

  /** Streaming twin of q81 (incremental dedup): a crawl stream dedupes
    * against a STATIC existing-corpus hash index via a stream-static
    * LEFT ANTI join, then within itself via the watermark-bounded
    * dedup. The corpus side carries 16-byte hashes only (never bodies)
    * and needs NO streaming state — at scale it is a bucketed hash-index
    * table, re-snapshotted between runs, while the stream side's state
    * stays bounded by the watermark horizon. Within-stream policy
    * matches q81's rn=1: first arrival per content hash wins.
    */
  def dedupAgainstCorpus(incoming: DataFrame, corpusHashes: DataFrame,
                         watermark: String = "10 minutes"): DataFrame =
    incoming
      .withColumn("text_hash",
        md5(trim(regexp_replace(col("text"), "\\s+", " "))))
      .withWatermark("ingest_ts", watermark)
      // within-stream dedup FIRST: it shrinks what the anti join probes,
      // and the keep set is order-independent (both stages key on the
      // same hash).
      .dropDuplicatesWithinWatermark("text_hash")
      .join(corpusHashes.select(col("text_hash")), Seq("text_hash"), "left_anti")
      .select(col("doc_id"), col("text_hash"), col("lang"), col("source"),
        col("ingest_ts"))

  /** Streaming twin of q98 (heavy-hitter tokens): the Misra-Gries sketch
    * aggregate runs as a streaming aggregation in complete mode, so the
    * state-store entry per language is the SERIALIZED sketch buffer —
    * hard-bounded at `capacity` counters no matter how many distinct
    * tokens the stream has ever carried. That bound is what makes a
    * live frequency profile streaming-legal: the exact
    * `groupBy(lang, tok)` form's state grows with the observed
    * vocabulary, unbounded on an open stream. In the exact regime
    * (capacity ≥ live vocabulary) the complete-mode table equals batch
    * q98 after any micro-batch split (StreamingSpec replays 3 batches).
    */
  def topTokensStream(docs: DataFrame, capacity: Int = 64, k: Int = 10): DataFrame =
    docs
      .select(col("lang"), explode(F.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(graft.functions.expressions.FreqItemsSketch(col("tok"), capacity, k).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.tok").as("tok"), col("col.cnt").as("cnt"))

  /** LIVE per-language cardinality report (q86's streaming twin): HLL++
    * sketches are deterministic (hash-based, no randomness) and their
    * merge is commutative/associative, so the complete-mode table EQUALS
    * batch q86 under any micro-batch split — and state per language is
    * the ~KB sketch, constant on an open stream (exact COUNT(DISTINCT)
    * state grows with every new distinct hash forever). */
  def cardinalityStream(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("text_hash"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("docs"),
        approx_count_distinct(col("text_hash"), 0.02).as("approx_uniq"))

  /** LIVE fixed-size per-stratum sample (q103's streaming twin): maintain
    * "exactly k docs per language, uniform over everything seen so far"
    * as the stream grows. The mergeable [[graft.functions.expressions
    * .BottomKSample]] aggregate runs in complete mode, so state per
    * language is the serialized ≤ k-pair buffer — hard-bounded on an
    * open stream. Batch q103 routes through the TopKPerKey PLAN NODE,
    * which streaming cannot run; same semantics, realization chosen by
    * execution mode (the as-of join's batch/streaming split, again).
    * Bottom-k-by-hash makes the draw PREFIX-CONSISTENT: a doc once
    * evicted never returns, a doc kept is only ever displaced by a
    * smaller hash — so consecutive micro-batches agree with the batch
    * draw over the same prefix (StreamingSpec replays 3 batches).
    */
  def fixedKSampleStream(docs: DataFrame, k: Int = 20): DataFrame =
    docs
      .select(col("lang"), col("doc_id"),
        Sampling.saltedHash32(col("doc_id"), "smp").as("h"))
      .groupBy(col("lang"))
      .agg(graft.functions.expressions.BottomKSample(col("h"), col("doc_id"), k).as("smp"))
      .select(col("lang"), posexplode(col("smp")))
      .select(col("col.id").as("doc_id"), col("lang"),
        (col("pos") + 1).cast("long").as("smp_rank"))

  /** foreachBatch LIVE CLUSTER MAINTENANCE sink — q130's incremental
    * near-dup clustering applied per micro-batch: the published LABELS
    * snapshot is always a complete clustering of everything that has
    * arrived (corpus rows append ONCE under docs/batch=<id>, outside the
    * snapshots), maintained by [[graft.operators.Dedup.incrementalMinhashLabels]]
    * (old components enter as pointer edges; per-batch iterative work is
    * proportional to the batch's new links, never the corpus).
    *
    * Requires monotone doc ids across batches (q130's growing-corpus
    * contract) — and that same contract gives REPLAY SAFETY for free:
    * rows at-or-below the published max id are already clustered, so a
    * crashed batch's redelivery filters to nothing new and republishes
    * an identical snapshot. Publication uses the pointer-file snapshot
    * protocol (readers never see a half-written clustering; crash
    * mid-publish leaves the previous snapshot live).
    *
    * StreamingSpec pins the end state: after a 3-batch replay the live
    * labels equal the full star-composition recompute, label for label
    * (by induction on q130's per-step equality).
    */
  def clusterMaintenanceSink(outDir: String, threshold: Double = 0.9)
                            (batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    import spark.implicits._
    val b = batch.select(col("doc_id").cast("long"), col("text"))
    // Corpus rows live OUTSIDE the snapshots, appended ONCE per batch
    // under docs/batch=<id>; a one-row docmax/batch=<id> manifest rides
    // along so the replay guard reads #batches rows, not the corpus.
    // The snapshot protocol covers only the slim (doc_id, label)
    // artifact plus a one-row meta carrying the clustering's COVERAGE
    // boundary. (Signature recompute inside the operator is the
    // documented local-mode posture — Dedup.incrementalMinhashLabels'
    // scale path materializes the band index instead.)
    val docsRoot = s"$outDir/docs"
    val maxRoot = s"$outDir/docmax"
    def maxDocSoFar: Option[Long] =
      if (!EventStreams.hasParquetFile(maxRoot)) None
      else {
        val r = spark.read.parquet(maxRoot).agg(max(col("max_id"))).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    val maxOld = maxDocSoFar
    // monotone-id contract doubles as replay idempotence: redelivered
    // rows are <= maxOld and drop here
    val fresh = maxOld.map(m => b.filter(col("doc_id") > m)).getOrElse(b)
    val freshMax: Option[Long] = {
      val r = fresh.agg(max(col("doc_id"))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    freshMax.foreach { fm =>
      fresh.write.mode("overwrite").parquet(s"$docsRoot/batch=$batchId")
      Seq(fm).toDF("max_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$maxRoot/batch=$batchId")
    }
    val maxAll: Option[Long] = Seq(maxOld, freshMax).flatten.reduceOption(_ max _)
    if (maxAll.isEmpty) return // nothing has ever arrived
    // The clustering's coverage boundary lives in the snapshot's META
    // row, NOT inferred from the batch: a crash between the docs append
    // and the publish leaves docs ahead of labels, and on replay `fresh`
    // is empty — the boundary compare below still sees the gap and
    // re-clusters the appended-but-unlabeled ids (a fresh-empty early
    // return here would lose those links FOREVER, since later batches
    // would treat them as already-clustered).
    val live = EventStreams.currentSnapshotDir(outDir)
    val coverage: Option[Long] = live.map { dir =>
      spark.read.parquet(s"$dir/meta").head().getLong(0)
    }
    if (coverage == maxAll) return // snapshot already covers every doc
    val all = spark.read.parquet(docsRoot).select(col("doc_id"), col("text"))
    val labels = (live, coverage) match {
      case (Some(dir), Some(cov)) =>
        val labelsOld = spark.read.parquet(s"$dir/labels")
        Dedup.incrementalMinhashLabels(all, "doc_id", "text",
          isNew = col("doc_id") > cov, labelsOld, threshold = threshold)
      case _ => // first publish
        Dedup.connectedComponents(all.select(col("doc_id").as("id")),
          Dedup.minhashDedupLinks(all, "doc_id", "text", threshold = threshold)
            .select(col("id_a"), col("id_b")))
    }
    try EventStreams.stageAndPublish(outDir, batchId) { staged =>
      labels.write.mode("overwrite").parquet(s"$staged/labels")
      Seq(maxAll.get).toDF("coverage_max_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$staged/meta")
    } finally
      // the CC inside incrementalMinhashLabels releases its superseded
      // per-round checkpoints itself, but its RETURNED lineage still
      // reads the init + final label checkpoints — only THIS sink knows
      // when the last action over them has run; without the deep release
      // a long-lived stream accumulates two label-table checkpoints per
      // micro-batch until a driver GC (the passage-sink ADVICE shape)
      graft.CheckpointRegistry.release(labels)
  }

  /** foreachBatch CORPUS-BUILD sink — the streaming flagship closing the
    * q88 chain live: wired after [[curateStream]] (gate → watermark-
    * bounded dedup → stratified sample, `carryText = true`), each
    * micro-batch then (a) drops holdout docs — AFTER dedup, so a
    * duplicate whose representative is a holdout doc vanishes exactly as
    * in batch q88, (b) decontaminates against the STATIC benchmark
    * 8-shingle set (per-doc pure: a doc's own shingles vs a broadcast
    * dim — no cross-batch state), (c) counts tokens and PACKS sequences
    * continuing each language's running offset, and (d) assigns shards
    * and appends the packed rows under `shards/batch=<id>/shard=<n>`,
    * folding the batch's per-shard counts into a MANIFEST snapshot
    * (q100's validation artifact, maintained incrementally — the
    * manifest merge reads per-batch 16-row deltas, never the corpus).
    *
    * Packing is the one genuinely stateful stage: seq_id/seq_off need
    * each language's cumulative token total. Under the same monotone
    * doc-id arrival contract as [[clusterMaintenanceSink]], stored
    * per-lang base + within-batch cumsum EQUALS batch q88's global
    * cumulative window, and the contract again doubles as replay
    * safety: redelivered rows filter out at the docmax guard.
    *
    * Crash windows: per-batch artifacts (shard rows, langstate delta,
    * manifest delta) are deterministic overwrites of their own
    * `batch=` partition, and the docmax guard is written LAST — a crash
    * anywhere before it replays the whole batch into identical files; a
    * crash after it but before the manifest publish is healed by the
    * coverage check, which republishes from the persisted deltas. State
    * reads exclude the current batch's partitions so a crashed attempt's
    * partial writes can never double-count.
    */
  def corpusBuildSink(evalShingles: DataFrame, outDir: String,
                      holdout: org.apache.spark.sql.Column = col("doc_id") % 10 === 7,
                      seqLen: Int = 512, nShards: Int = 16)
                     (batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    import spark.implicits._
    val shardsRoot = s"$outDir/shards"
    val langRoot = s"$outDir/langstate"
    val deltaRoot = s"$outDir/manifestdelta"
    val maxRoot = s"$outDir/docmax"
    // prior-batches-only reads: a crashed attempt at THIS batch id may
    // have left partial partitions behind — they are overwritten below,
    // and must not leak into the bases we continue from. The
    // parquet-footer guard (not a bare exists()) keeps a crash-orphaned
    // _temporary-only dir from wedging every replay on schema inference.
    def priorOnly(root: String): Option[DataFrame] =
      if (!EventStreams.hasParquetFile(root)) None
      else Some(spark.read.parquet(root).filter(col("batch") < batchId))
    val maxOld: Option[Long] = priorOnly(maxRoot).flatMap { df =>
      val r = df.agg(max(col("max_id"))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    // cached: the max aggregate, the contamination branch and the
    // left-anti counted branch would otherwise each re-run the batch's
    // upstream (gate + tokenize) lineage
    val fresh = maxOld.map(m => batch.filter(col("doc_id") > m)).getOrElse(batch)
      .select(col("doc_id").cast("long"), col("lang"), col("text")).cache()
    try {
    val freshMax: Option[Long] = {
      val r = fresh.agg(max(col("doc_id"))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    val maxAll: Option[Long] = Seq(maxOld, freshMax).flatten.reduceOption(_ max _)
    if (maxAll.isEmpty) return // nothing has ever arrived
    if (freshMax.isDefined) {
      // q88 stage order on the curated rows: holdout drop, then the
      // per-doc decontamination probe (broadcast dim side)
      val kept = fresh.filter(!holdout)
      val contaminated = kept
        .select(col("doc_id"),
          explode(array_distinct(Dedup.shingles(F.tokens(col("text")), 8))).as("sh"))
        .join(org.apache.spark.sql.functions.broadcast(
          evalShingles.select(col("sh"))), "sh")
        .select(col("doc_id")).distinct()
      val counted = kept.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.bpeTokenCount(col("text")).as("tokens"))
      // continue each language's cumulative offset: stored base (tiny,
      // one row per lang per prior batch) + within-batch cumsum ==
      // q88's global doc_id-ordered window under monotone arrival.
      // The within-batch cumsum runs the SAME two-level prefix sum as
      // batch q70/q88 (r11): a steady-state micro-batch is small, but a
      // backlog REPLAY delivers a corpus-sized batch, and a per-lang
      // window would serialize its dominant language in one task at
      // exactly the moment the pipeline is trying to catch up (the
      // upstream `fresh` cache keeps the totals branch's re-read cheap).
      val bases = priorOnly(langRoot)
        .map(_.groupBy(col("lang")).agg(sum(col("delta")).as("base")))
        .getOrElse(Seq.empty[(String, Long)].toDF("lang", "base"))
      val packed = graft.operators.PrefixSum.runningSum(counted,
          Seq("lang"), expr("doc_id div 65536"), Seq(col("doc_id")),
          col("tokens"), "cum_in")
        .join(org.apache.spark.sql.functions.broadcast(bases), Seq("lang"), "left")
        .withColumn("start",
          coalesce(col("base"), lit(0L)) + col("cum_in") - col("tokens"))
        .select(col("doc_id"), col("lang"), col("tokens"),
          floor(col("start") / seqLen.toDouble).cast("long").as("seq_id"),
          (col("start") % seqLen).cast("long").as("seq_off"))
        .withColumn("shard",
          Sampling.docHash32(concat(col("lang"), lit(":"), col("seq_id").cast("string"))) % nShards)
        .cache()
      try {
        // co-locate by shard before the partitioned write (SURVEY
        // lesson 45): without it every batch fans out to
        // (#lang-partitions x nShards) files, compounding per batch —
        // with it each batch leaves at most one file per touched shard
        packed.repartition(col("shard")).write.mode("overwrite").partitionBy("shard")
          .parquet(s"$shardsRoot/batch=$batchId")
        // coalesce(1): these deltas are ≤ #langs / ≤ nShards rows, and a
        // single task guarantees a schema-bearing file even when empty
        packed.groupBy(col("lang")).agg(sum(col("tokens")).as("delta"))
          .coalesce(1).write.mode("overwrite").parquet(s"$langRoot/batch=$batchId")
        packed.groupBy(col("shard"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("tokens")).cast("long").as("n_tokens"),
            sum(Sampling.docHash32(concat(col("doc_id").cast("string"), lit(":"),
              col("lang"), lit(":"), col("tokens").cast("string"))))
              .cast("long").as("checksum"))
          .coalesce(1).write.mode("overwrite").parquet(s"$deltaRoot/batch=$batchId")
        Seq(freshMax.get).toDF("max_id").coalesce(1)
          .write.mode("overwrite").parquet(s"$maxRoot/batch=$batchId")
      } finally packed.unpersist()
    }
    // manifest publish (and the crash-heal republish): fold ALL persisted
    // per-batch deltas — #batches × ≤ nShards rows, corpus-free
    val live = EventStreams.currentSnapshotDir(outDir)
    val coverage: Option[Long] = live.map { dir =>
      spark.read.parquet(s"$dir/meta").head().getLong(0)
    }
    if (coverage == maxAll) return // snapshot already covers every doc
    val manifest =
      if (!EventStreams.hasParquetFile(deltaRoot))
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("shard", "n_docs", "n_tokens", "checksum")
      else spark.read.parquet(deltaRoot)
        .groupBy(col("shard"))
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          sum(col("checksum")).cast("long").as("checksum"))
    EventStreams.stageAndPublish(outDir, batchId) { staged =>
      manifest.coalesce(1).write.mode("overwrite").parquet(s"$staged/manifest")
      Seq(maxAll.get).toDF("coverage_max_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$staged/meta")
    }
    } finally fresh.unpersist()
  }

  /** foreachBatch INCREMENTAL passage-dedup sink — the streaming twin of
    * [[graft.operators.Dedup.duplicatePassages]] (q166). State is a
    * window-hash store of corpus-FIRST occurrences under
    * `<outDir>/hashes/batch=<id>` (the LSM-delta posture: a batch appends
    * only the hashes it saw first). Each micro-batch marks its window
    * occurrences against the store plus itself — an occurrence is a
    * duplicate iff its hash is in the store OR an earlier (id, pos) of
    * the same batch carries it — emits the FINAL per-doc report rows for
    * its docs under `reports/batch=<id>`, and appends its
    * first-occurrence hashes. Docs are never re-reported: the
    * first-arriving copy of a passage stays clean forever and later
    * copies arrive already knowing their coverage — the incremental
    * contract of the Dolma/CCNet dedup taggers.
    *
    * Under the monotone doc-id arrival contract (batches cut in
    * ascending id order — the [[clusterMaintenanceSink]] contract) the
    * union of `reports` EQUALS batch q166 over the union corpus
    * row-for-row: the global corpus-first (min (id, pos)) is then always
    * the first-arriving occurrence. The contract is a REQUIREMENT, not a
    * preference: the docmax guard that makes redelivery idempotent
    * cannot tell a replayed row from a never-seen row with a low id, so
    * an out-of-contract doc (backfill, out-of-order source) is DROPPED —
    * no report row, no store entry. Backfills go through the batch
    * operator (or a store rebuild), not this sink.
    *
    * Per-batch cost: the store join is batch-windows × store-hashes on
    * `h` — the read side grows with corpus hash cardinality (the same
    * growth a Bloom-filter tagger hides behind false positives; this
    * sink is exact). Store deltas accrue one dir per batch;
    * [[compactPassageStore]] folds them into a `batch=-1` sentinel base
    * in a fresh pointer-swapped store — operational, not correctness. Replay/crash: docmax is written
    * LAST; reports/hashes are deterministic overwrites of their own
    * `batch=` dir, so any crash before the docmax commit replays into
    * identical files; redelivered rows of a committed batch drop at the
    * docmax guard; all state reads take only `batch < batchId`
    * partitions, so a crashed attempt's partials never count. */
  def passageDedupSink(outDir: String, k: Int = 13)
                      (batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    import spark.implicits._
    val b = batch.select(col("doc_id").cast("long"), col("text"))
    val maxRoot = s"$outDir/docmax"
    val hashesRoot = s"$outDir/hashes"
    val reportsRoot = s"$outDir/reports"
    def priorOnly(root: String): Option[DataFrame] =
      if (!EventStreams.hasParquetFile(root)) None
      else Some(spark.read.parquet(root).filter(col("batch") < batchId))
    val maxOld: Option[Long] = priorOnly(maxRoot).flatMap { df =>
      val r = df.agg(max(col("max_id"))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    val fresh = maxOld.map(m => b.filter(col("doc_id") > m)).getOrElse(b)
    val freshMax: Option[Long] = {
      val r = fresh.agg(max(col("doc_id"))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    // nothing new: a fully-redelivered batch's artifacts are already on
    // disk (they land before its docmax), so returning re-commits nothing
    if (freshMax.isEmpty) return
    val wins = Dedup.passageWindows(fresh, "doc_id", "text", k)
    // Batch-first occurrence per hash via a map-side-combined min/count
    // aggregate + the skew-safe join back (Dedup.joinPerHash: boilerplate
    // mega-keys broadcast and never shuffle; cold keys are bounded per
    // key) — the batch Dedup.passageMarked posture: a row_number window
    // partitioned by `h` would serialize a mega-key's whole occurrence
    // list in one unsplittable task (AQE skew handling covers bare-
    // shuffle joins only, never windows). The per-hash frame (one row
    // per distinct batch hash) also carries the store membership flag, so
    // the store join happens once at hash granularity, not per
    // occurrence; it is checkpointed because the hot and cold branches
    // both read it.
    val firsts = wins.groupBy(col("h"))
      .agg(min(struct(col("id"), col("pos"))).as("first"),
        count(lit(1)).as("cnt"))
    val perHash = (priorOnly(hashesRoot) match {
      case Some(p) => firsts.join(
          p.select(col("h")).withColumn("in_prior", lit(true)), Seq("h"), "left")
        .withColumn("in_prior", coalesce(col("in_prior"), lit(false)))
      case None => firsts.withColumn("in_prior", lit(false))
    }).transform(graft.CheckpointRegistry.local(_, false))
    // flagged feeds both the marking and the store append — materialize
    // once (the corpusBuildSink cache posture; checkpoint also cuts the
    // store-join lineage out of both consumers), and release it once both
    // consumers have written: checkpoint blocks otherwise live until a
    // driver GC runs ContextCleaner, accumulating across micro-batches
    val flagged = Dedup.joinPerHash(wins, perHash, "cnt")
      .transform(graft.CheckpointRegistry.local(_, true))
    try {
      val marked = flagged.filter(
          col("in_prior") || struct(col("id"), col("pos")) =!= col("first"))
        .select(col("id"), col("pos"))
      Dedup.passageCoverage(marked, Dedup.passageBase(fresh, "doc_id", "text"), k)
        .write.mode("overwrite").parquet(s"$reportsRoot/batch=$batchId")
      // every first occurrence enters the store, singletons included — a
      // future batch must see them to mark ITS copy
      flagged.filter(
          !col("in_prior") && struct(col("id"), col("pos")) === col("first"))
        .select(col("h"), col("id"), col("pos"))
        .write.mode("overwrite").parquet(s"$hashesRoot/batch=$batchId")
      Seq(freshMax.get).toDF("max_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$maxRoot/batch=$batchId")
    } finally {
      graft.CheckpointRegistry.release(flagged)
      graft.CheckpointRegistry.release(perHash)
    }
  }

  /** Compact a [[passageDedupSink]] store: fold every per-batch delta
    * (hashes, reports, docmax) into one `batch=-1` sentinel partition in
    * a FRESH destination store. −1 sorts below every real micro-batch id,
    * so the sink's `batch < batchId` state reads keep the compacted rows
    * for every future batch — INCLUDING batch 0 of a stream restarted
    * with a fresh checkpoint, a read the uncompacted layout would miss
    * (its deltas sit at ids a restarted stream's `batch < 0` filter
    * excludes). Like [[graft.operators.Similarity.compactIvfIndex]], the
    * destination must be untouched and the caller pointer-swaps: an
    * in-place rewrite would open a crash window in which a half-written
    * base coexists with undeleted deltas and the store serves duplicate
    * hash rows. Loud on a source that is not a passage store. */
  def compactPassageStore(spark: org.apache.spark.sql.SparkSession,
                          srcDir: String, dstDir: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    require(EventStreams.hasParquetFile(s"$srcDir/hashes"),
      s"$srcDir is not a passage-dedup store (no hashes/ parquet)")
    Seq("hashes", "reports", "docmax").foreach { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$dstDir/$sub")
      require(!p.getFileSystem(hconf).exists(p),
        s"$dstDir already carries $sub/ — compactPassageStore writes a " +
          "FRESH store; compact into a new dir and pointer-swap")
    }
    // fold COMMITTED batches only: docmax is each batch's commit marker
    // (written last), so a store whose final batch crashed mid-write
    // carries orphan hashes/reports above the committed horizon — folding
    // those would erase their batch identity and the post-swap REPLAY of
    // that batch would see its own hashes as prior state (marking its
    // first occurrences as duplicates) and duplicate its report rows
    require(EventStreams.hasParquetFile(s"$srcDir/docmax"),
      s"$srcDir has no committed batch (docmax/ absent) — nothing to compact")
    val commit = spark.read.parquet(s"$srcDir/docmax")
      .agg(max(col("batch")).cast("long").as("b"),
        max(col("max_id")).cast("long").as("m")).head()
    val (bCommit, maxId) = (commit.getLong(0), commit.getLong(1))
    // `batch` arrives as the partition column of every component read and
    // must not ride into the sentinel partition as a data column
    spark.read.parquet(s"$srcDir/hashes").filter(col("batch") <= bCommit)
      .drop("batch")
      .write.mode("errorifexists").parquet(s"$dstDir/hashes/batch=-1")
    if (EventStreams.hasParquetFile(s"$srcDir/reports"))
      spark.read.parquet(s"$srcDir/reports").filter(col("batch") <= bCommit)
        .drop("batch")
        .write.mode("errorifexists").parquet(s"$dstDir/reports/batch=-1")
    import spark.implicits._
    Seq(maxId).toDF("max_id").coalesce(1)
      .write.mode("errorifexists").parquet(s"$dstDir/docmax/batch=-1")
  }
}