package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.F

/** Saved-index retrieval — the artifact lifecycle behind [[TextAnalysis
  * .bm25TopK]] (q167), mirroring the ANN artifact posture of
  * [[Similarity]]: build once, probe many, append deltas, compact into a
  * fresh dir and pointer-swap. The reference serves its search queries
  * from a STORED index (reference: operators/derive/to_es.py:169 — the ES
  * query path hits the index that to_es built, never the corpus), and at
  * 100 TB re-deriving postings per query — what q167 does as a
  * self-contained gate query — is exactly the cost an index exists to
  * amortize.
  *
  * Artifact layout under `dir` (all zones batch-partitioned; the q126
  * incremental-report law: per-batch DELTAS, folded on read, folded
  * physically by compaction):
  * {{{
  *   meta/                          (n_buckets)           — artifact marker
  *   postings/batch=<id>/bucket=<b> (tok, doc_id, tf)
  *   df/batch=<id>/bucket=<b>       (tok, df)              — per-batch delta
  *   doclen/batch=<id>              (doc_id, dl)
  *   stats/batch=<id>               (n_docs, sum_dl)       — per-batch delta
  *   <commit marker>/batch=<id>     (max_id, null)         — written LAST
  * }}}
  * The commit marker is the one every per-batch artifact shares
  * ([[graft.sources.Sources.commitBatch]]); BM25 replays on batch
  * identity, not a doc-id watermark, so its `max_id` is null.
  * `bucket = pmod(xxhash64(tok), n_buckets)` is the probe-pruning axis:
  * a query touches only its terms' buckets, so every other bucket's
  * files are dropped by STATIC partition pruning at the scan — the
  * [[Similarity.ivfTopKFromSaved]] posture applied to postings. df and
  * the corpus totals are ADDITIVE across doc batches (a new doc can only
  * add to a term's df, never change an old posting), which is what makes
  * append-as-delta exact, not approximate.
  *
  * Crash posture (lesson 48): every zone write is a deterministic
  * overwrite of its own `batch=` dir and the commit marker lands LAST,
  * so a replayed batch id rewrites identical files and a crashed attempt
  * is invisible — reads and compaction fold COMMITTED batches only
  * ([[graft.sources.Sources.committedBatches]]).
  */
object Retrieval {
  import graft.sources.Sources

  private def hasParquetData(spark: SparkSession, path: String): Boolean =
    Sources.hasParquetData(path, spark.sparkContext.hadoopConfiguration)

  private def requireArtifact(spark: SparkSession, dir: String): Int = {
    require(hasParquetData(spark, s"$dir/meta"),
      s"$dir is not a saved BM25 index (no meta/ parquet)")
    spark.read.parquet(s"$dir/meta").head().getAs[Int]("n_buckets")
  }

  /** Build a fresh BM25 index artifact from a corpus. The destination
    * must be untouched ([[graft.sources.Sources.requireFreshDestination]]
    * — stale zones would fold into every future read). */
  def saveBm25Index(docs: DataFrame, idCol: String, textCol: String,
                    dir: String, nBuckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    Sources.requireFreshDestination(dir, spark.sparkContext.hadoopConfiguration)
    ensureBm25Index(spark, dir, nBuckets)
    appendToBm25Index(spark, dir, docs, idCol, textCol, batchId = 0L)
  }

  /** Idempotent artifact bootstrap for streaming ingest
    * ([[graft.streaming.RetrievalStreams.bm25IngestSink]]): write the
    * meta marker if absent, no-op if present with the SAME bucket count,
    * fail loud on a mismatch — postings bucketed under a different
    * modulus would be silently invisible to probes of the wrong buckets. */
  def ensureBm25Index(spark: SparkSession, dir: String, nBuckets: Int): Unit = {
    import spark.implicits._
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    if (hasParquetData(spark, s"$dir/meta")) {
      val existing = spark.read.parquet(s"$dir/meta").head().getAs[Int]("n_buckets")
      require(existing == nBuckets,
        s"$dir is bucketed at $existing, ingest asked for $nBuckets — a mixed-" +
          "modulus posting layout would silently miss probes; rebuild instead")
    } else
      Seq(nBuckets).toDF("n_buckets").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** APPEND a batch of NEW documents into a saved index — the lifecycle's
    * ingest path. df and the corpus totals land as per-batch DELTAS
    * (additive, folded on read — the q126 incremental-report law applied
    * to df/sum_dl), so no existing zone is ever rewritten. Caller
    * contract: doc ids are new (a re-ingested doc would double its
    * postings, as in any add-with-ids index). Replay-idempotent per
    * `batchId`: every write deterministically overwrites its own
    * `batch=` dir and the commit marker is written LAST. */
  def appendToBm25Index(spark: SparkSession, dir: String, docs: DataFrame,
                        idCol: String, textCol: String, batchId: Long): Unit = {
    val nBuckets = requireArtifact(spark, dir)
    require(batchId >= 0, s"batchId must be >= 0 ($batchId); -1 is the compaction sentinel")
    // one tokenize pass feeds tf, dl and the totals — cache, then drop
    val t = docs.select(col(idCol).as("doc_id"), F.tokens(col(textCol)).as("toks"))
      .cache()
    try {
      val tf = t.select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).cast("long").as("tf"))
        .withColumn("bucket", pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).cast("int"))
        .cache()
      try {
        // co-locate by bucket first (the ProfAnnLifecycle lesson): each
        // append then leaves at most one file per touched bucket, not
        // (shuffle partitions × buckets) — file count is what lives forever
        tf.repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$dir/postings/batch=$batchId")
        tf.groupBy(col("tok"), col("bucket"))
          .agg(count(lit(1)).cast("long").as("df"))
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$dir/df/batch=$batchId")
      } finally tf.unpersist()
      t.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(s"$dir/doclen/batch=$batchId")
      t.agg(count(lit(1)).cast("long").as("n_docs"),
          sum(size(col("toks"))).cast("long").as("sum_dl"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats/batch=$batchId")
    } finally t.unpersist()
    // the commit marker lands LAST: a crash anywhere above leaves the
    // batch invisible to every read; a replay overwrites identical files
    Sources.commitBatch(spark, dir, batchId, maxId = None)
  }

  /** BM25 top-k per query against a SAVED index — the retrieval twin of
    * [[Similarity.ivfTopKFromSaved]]: no corpus read, no posting
    * recount. The query terms' buckets (and the committed batch ids)
    * arrive as STATIC partition filters, so every unprobed bucket's
    * files drop at planning time, and the `tok` equality pushes into the
    * surviving row groups. Per-term df and the corpus totals fold from
    * the committed deltas (sums over query-term rows / 1-row-per-batch
    * frames — probe-priced, not corpus-priced). Ranking goes through the
    * SAME expression kernel as the corpus-priced form
    * ([[TextAnalysis.bm25Rank]]), so results match q167 row-for-row
    * (TextAnalysisSpec pins it).
    *
    * `queries` carries (query_id, tok) and is broadcast-small by the
    * [[TextAnalysis.bm25TopK]] contract — its distinct terms are
    * collected to drive the partition pruning. */
  def bm25TopKFromSaved(spark: SparkSession, dir: String, queries: DataFrame,
                        topK: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val nBuckets = requireArtifact(spark, dir)
    val committed = Sources.committedBatches(spark, dir).map(_.batch)
    require(committed.nonEmpty, s"$dir has no committed batches — nothing to probe")
    val qTerms = queries.select(col("query_id"), col("tok"))
    // the SAME expression the write path bucketed with — a drifted
    // driver-side reimplementation would silently prune the wrong buckets
    val termBuckets = queries
      .select(col("tok"),
        pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).cast("int").as("bucket"))
      .distinct().collect()
    val terms = termBuckets.map(_.getString(0)).toSeq.distinct
    val buckets = termBuckets.map(_.getInt(1)).toSeq.distinct
    val postings = spark.read.parquet(s"$dir/postings")
      .filter(col("batch").isin(committed: _*)
        && col("bucket").isin(buckets: _*) && col("tok").isin(terms: _*))
      .select(col("tok"), col("doc_id"), col("tf"))
    val dfAgg = spark.read.parquet(s"$dir/df")
      .filter(col("batch").isin(committed: _*)
        && col("bucket").isin(buckets: _*) && col("tok").isin(terms: _*))
      .groupBy(col("tok")).agg(sum(col("df")).cast("long").as("df"))
    val dl = spark.read.parquet(s"$dir/doclen")
      .filter(col("batch").isin(committed: _*))
      .select(col("doc_id"), col("dl"))
    val stats = spark.read.parquet(s"$dir/stats")
      .filter(col("batch").isin(committed: _*))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_dl")).cast("long").as("sum_dl"))
    TextAnalysis.bm25Rank(postings.join(dfAgg, "tok"), dl, stats, qTerms,
      topK, k1, b)
  }

  /** COMPACT a saved index into `dstDir`: fold every COMMITTED batch's
    * zones into one `batch=-1` sentinel ([[graft.sources.Sources
    * .foldCommitted]]; df summed per token, totals summed, postings/doclen
    * co-located one file per bucket) in a FRESH destination the caller
    * pointer-swaps — the
    * [[graft.streaming.DocumentStreams.compactPassageStore]] posture.
    * Uncommitted (crash-orphaned) batches are left behind by
    * construction: folding them would let a future replay of that batch
    * double-count itself (lesson 48). */
  def compactBm25Index(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    val nBuckets = requireArtifact(spark, srcDir)
    Sources.foldCommitted(spark, srcDir, dstDir)(
      ("postings", (rows, path) => rows.repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(path)),
      ("df", (rows, path) => rows.groupBy(col("tok"), col("bucket"))
        .agg(sum(col("df")).cast("long").as("df"))
        .repartition(col("bucket")).write.partitionBy("bucket").parquet(path)),
      ("doclen", (rows, path) => rows.write.parquet(path)),
      ("stats", (rows, path) => rows
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("sum_dl")).cast("long").as("sum_dl"))
        .coalesce(1).write.parquet(path)))
    ensureBm25Index(spark, dstDir, nBuckets)
  }
}
