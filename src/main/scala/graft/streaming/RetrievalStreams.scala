package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** Streaming ingest for the saved BM25 index artifact
  * ([[graft.operators.Retrieval]]) — the retrieval twin of
  * [[AnnStreams]]' delta ingest: documents stream in, each micro-batch
  * lands as a committed per-batch delta (postings + df + doclen + stats,
  * commit marker last), and probes see it immediately through the same
  * committed-batches-only fold. */
object RetrievalStreams {

  /** foreachBatch sink: bootstrap the artifact on first contact
    * (idempotent meta write), then append the micro-batch under its own
    * batch id. Replay safety comes from batch identity, not a watermark:
    * every zone write deterministically overwrites its own `batch=` dir
    * and the commit marker lands last, so a redelivered batch rewrites
    * identical files and a crashed attempt stays invisible. Caller
    * contract (the [[DocumentStreams.passageDedupSink]] arrival
    * contract): doc ids are NEW across batches — a doc re-delivered
    * under a DIFFERENT batch id would double its postings, exactly as in
    * any add-with-ids index. Compaction/pointer-swap is
    * [[Retrieval.compactBm25Index]]. */
  def bm25IngestSink(dir: String, nBuckets: Int = 64)
                    (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    Retrieval.ensureBm25Index(spark, dir, nBuckets)
    Retrieval.appendToBm25Index(spark, dir,
      batch.select(col("doc_id"), col("text")), "doc_id", "text", batchId)
  }
}
