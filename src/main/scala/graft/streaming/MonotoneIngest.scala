package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** The exactly-once ingest protocol of the document sinks
  * ([[DocumentStreams.clusterMaintenanceSink]],
  * [[DocumentStreams.corpusBuildSink]],
  * [[DocumentStreams.passageDedupSink]]), stated once:
  *
  *   - Arrival contract: doc ids are monotone across micro-batches
  *     (batches are cut in ascending `doc_id` order).
  *   - Commit marker: [[graft.sources.Sources.commitBatch]] with the
  *     batch's largest fresh doc id. [[writeFresh]] commits LAST, after
  *     the sink's per-batch artifacts, and only when the batch has fresh
  *     rows. A crash anywhere before it replays the batch into identical
  *     files: every artifact is a deterministic overwrite of its own
  *     `batch=<id>` dir.
  *   - Watermark: the max `max_id` over the markers with
  *     `batch < batchId`. A crashed attempt's own marker never counts, so
  *     a re-run of a batch id re-ingests all its rows and rewrites its
  *     artifacts whole; a compacted `batch=-1` sentinel always counts.
  *   - Fresh rows: the rows with `doc_id` above the watermark. Redelivered
  *     rows of a committed batch drop here. The filter cannot tell a
  *     replayed row from a never-seen row with a low id, so an
  *     out-of-contract doc (backfill, out-of-order source) is DROPPED:
  *     backfills go through the batch operator, not a sink.
  *   - Prior-only state: [[priorOnly]] reads a per-batch root's
  *     `batch < batchId` partitions, so a crashed attempt's partial
  *     writes never leak into the state a batch continues from.
  *   - Snapshot republish: a sink's snapshot carries a one-row meta,
  *     `coverage_max_id`. [[republishIfBehind]] republishes whenever that
  *     lags the ingest horizon (the watermark or the fresh max, whichever
  *     is larger). That heals a crash between the commit marker and the
  *     publish, whether the next call is a same-id replay or a later
  *     batch with no fresh rows.
  *
  * State presence, the markers and the snapshot pointer all go through
  * [[graft.sources.Sources]]: a crash-orphaned `_temporary`-only dir must
  * not wedge every replay on schema inference, and a `file://` or
  * `hdfs://` outDir must find its live snapshot.
  */
private[streaming] final class MonotoneIngest private (outDir: String, batchId: Long,
                                                       rows: DataFrame) {
  import MonotoneIngest._

  private val spark = rows.sparkSession
  private val conf = spark.sparkContext.hadoopConfiguration

  /** Every partition under `<outDir>/<sub>`, or None before the first write. */
  def all(sub: String): Option[DataFrame] = {
    val root = s"$outDir/$sub"
    if (Sources.hasParquetData(root, conf))
      Some(spark.read.parquet(root))
    else None
  }

  /** The partitions of `<outDir>/<sub>` written by earlier batches. */
  def priorOnly(sub: String): Option[DataFrame] =
    all(sub).map(_.filter(col("batch") < batchId))

  /** This batch's own partition dir under `<outDir>/<sub>`. */
  def batchPath(sub: String): String = s"$outDir/$sub/batch=$batchId"

  private val watermark: Option[Long] =
    Sources.committedBatches(spark, outDir).filter(_.batch < batchId).flatMap(_.maxId).maxOption

  // cached: the fresh max and every artifact the sink derives read it
  private val fresh: DataFrame =
    watermark.fold(rows)(m => rows.filter(col("doc_id") > m)).cache()

  private lazy val freshMax: Option[Long] = {
    val r = fresh.agg(max(col("doc_id"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Run the sink's per-batch artifact writes over the fresh rows, then
    * commit the batch; a batch without fresh rows writes nothing. */
  def writeFresh(artifacts: DataFrame => Unit): Unit = freshMax.foreach { m =>
    artifacts(fresh)
    Sources.commitBatch(spark, outDir, batchId, Some(m))
  }

  /** Publish a new snapshot when the live one does not cover every
    * ingested doc: `write(live, staged)` fills the staged dir from the
    * live snapshot (None on the first publish), and the meta row is added
    * here. */
  def republishIfBehind(write: (Option[Snapshot], String) => Unit): Unit = {
    val horizon = (watermark ++ freshMax).reduceOption(_ max _)
    horizon.foreach { h =>
      val live = Sources.currentSnapshotDir(outDir, conf).map { dir =>
        Snapshot(dir, spark.read.parquet(s"$dir/meta").head().getLong(0))
      }
      if (!live.exists(_.coverage == h))
        Sources.publishSnapshot(outDir, batchId, conf) { staged =>
          write(live, staged)
          import spark.implicits._
          Seq(h).toDF("coverage_max_id").coalesce(1)
            .write.mode("overwrite").parquet(s"$staged/meta")
        }
    }
  }
}

private[streaming] object MonotoneIngest {

  /** A live snapshot dir and the largest doc id it covers. */
  final case class Snapshot(dir: String, coverage: Long)

  /** Run one micro-batch of a document sink over `rows` (a `doc_id`
    * long column plus what the sink reads). */
  def apply(outDir: String, batchId: Long, rows: DataFrame)
           (body: MonotoneIngest => Unit): Unit = {
    val ingest = new MonotoneIngest(outDir, batchId, rows)
    try body(ingest) finally ingest.fresh.unpersist()
  }
}
