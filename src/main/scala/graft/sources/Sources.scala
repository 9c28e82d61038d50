package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Source/sink surface (SURVEY.md §2.D).
  *
  * The reference's I/O endpoints (Airtable, CKAN, S3, Elasticsearch, SQL
  * dumps — zero-egress here) reduce to: columnar/delimited/JSON datasets
  * in, datasets + derived documents out. These helpers standardize the
  * options so every pipeline reads/writes the same way, and keep writes
  * partition-parallel (no single-file coalesce unless asked).
  *
  * It is also the one durable-state layer: every answer to "is this
  * written, committed, fresh, live?" goes through the Hadoop FileSystem
  * of the path here — state presence ([[hasParquetData]]), per-batch
  * commit markers ([[commitBatch]], [[committedBatches]]), the fold of
  * committed batches into a compaction sentinel ([[foldCommitted]]),
  * fresh destinations ([[requireFreshDestination]]), dir swaps
  * ([[stageAndSwapDir]]) and the `_current` snapshot pointer
  * ([[publishSnapshot]], [[currentSnapshotDir]]). A scheme-qualified
  * path (`file://`, `hdfs://`) therefore means the same as a plain one.
  */
object Sources {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** True iff `path` holds at least one REAL parquet data file,
    * recursing past partition dirs and skipping `_temporary`/dot
    * entries (Spark's own listing rule: an `_`-prefixed name is skipped
    * unless it is a `col=value` partition dir such as `__bucket=3`)
    * — the ONE shared guard behind every optional-state read:
    * a crash mid-write leaves a dir with only write-orphans inside,
    * and a bare exists() check would then send spark.read.parquet
    * into an unrecoverable 'unable to infer schema'. Goes through the
    * Hadoop FileSystem of the path (HDFS/object-store dirs answer
    * correctly) and recurses on the listing's own FileStatus entries —
    * no per-child re-stat round trips. */
  def hasParquetData(path: String, conf: Configuration): Boolean = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // A child deleted between listStatus and the recursive descent (a
    // concurrent replay swapping its batch dir) means "absent", not an
    // exception — the guard answers a presence question, and a vanished
    // subtree is by definition not presence. Caught per child so a
    // vanished sibling can't hide data elsewhere in the tree.
    def scan(st: FileStatus): Boolean =
      if (st.isFile) st.getPath.getName.endsWith(".parquet")
      else (try fs.listStatus(st.getPath)
            catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
        .filterNot { c =>
          val name = c.getPath.getName
          (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
        }
        .exists(scan)
    try fs.exists(root) && scan(fs.getFileStatus(root))
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** Replace a directory via STAGE-AND-RENAME: `write` fills a
    * dot-prefixed sibling staging dir (invisible to parquet partition
    * discovery and to [[hasParquetData]] while in flight), then any live
    * target is deleted and the staged dir promoted with an FS rename.
    * For a writer that must replace a directory concurrent readers may
    * be scanning — a crashed-batch replay overwriting its own per-batch
    * partition — this narrows the visible race from the whole write
    * duration to the delete+rename instant.
    *
    * Atomicity contract, stated precisely: the promotion is two FS calls
    * (delete, then rename), and the rename itself is atomic ONLY on
    * HDFS/local filesystems — on an object store (S3A without a rename
    * layer) rename is a non-atomic copy, so deployments there put a
    * committer or a manifest pointer in front of this. Completeness of a
    * staged dir is carried by an explicit MARKER file written after
    * `write` returns ("target absent ⇒ write completed" would be wrong
    * for a FIRST-EVER write to the target, where a crash mid-`write`
    * also leaves the target absent): a crash between the delete and the
    * rename leaves the target absent with complete, marker-bearing
    * content in `.staging_`, which [[recoverStagedDir]] promotes; a
    * crash during `write` leaves a marker-less staging dir that recovery
    * refuses and the next attempt wipes. The marker is dot-free but
    * underscore-prefixed, so parquet discovery and [[hasParquetData]]
    * ignore it if a crash strands it inside a promoted target. */
  private val StagedCompleteMarker = "_GRAFT_STAGED_COMPLETE"

  def stageAndSwapDir(path: String, conf: Configuration)(write: String => Unit): Unit = {
    val target = new Path(path)
    val staging = new Path(target.getParent, s".staging_${target.getName}")
    val fs = target.getFileSystem(conf)
    // wipe any crashed prior attempt: its stale marker must not vouch
    // for this attempt's partial write
    if (fs.exists(staging)) fs.delete(staging, true)
    write(staging.toString)
    fs.create(new Path(staging, StagedCompleteMarker), true).close()
    if (fs.exists(target)) fs.delete(target, true)
    require(fs.rename(staging, target),
      s"failed to promote staged dir $staging -> $target")
    fs.delete(new Path(target, StagedCompleteMarker), false)
  }

  /** Recovery for [[stageAndSwapDir]]'s one crash window: if the target
    * is absent and its staging sibling carries the completion marker,
    * the writer died between its delete and its rename — promote the
    * staged content and return true. Any other state is not promotable:
    * a marker-LESS staging dir is a crashed partial `write` (whether or
    * not the target exists — a first-ever write has no target either),
    * and a staging dir beside a live target stays invisible until the
    * next swap reclaims it. Call from a reader/owner recovery path
    * before trusting target absence. */
  def recoverStagedDir(path: String, conf: Configuration): Boolean = {
    val target = new Path(path)
    val staging = new Path(target.getParent, s".staging_${target.getName}")
    val fs = target.getFileSystem(conf)
    val complete = fs.exists(new Path(staging, StagedCompleteMarker))
    if (!fs.exists(target) && complete) {
      require(fs.rename(staging, target),
        s"failed to promote orphaned staged dir $staging -> $target")
      fs.delete(new Path(target, StagedCompleteMarker), false)
      true
    } else false
  }

  /** Fail loud unless `dir` is a FRESH destination: absent, or an empty
    * dir. Every writer of a whole new artifact (a save, a compaction into
    * a dir the caller pointer-swaps to) starts here: leftover state in a
    * reused dir — stale zones, delta rows, tombstones, a codebook that
    * would re-classify the artifact family — would fold into every later
    * read of the new artifact. */
  def requireFreshDestination(dir: String, conf: Configuration): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val held = if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).sorted else Array.empty[String]
    require(held.isEmpty, s"$dir already holds ${held.mkString(", ")} — the destination " +
      "must be a FRESH store: write into a new dir and pointer-swap")
  }

  /** Delete `dir` and everything under it, so it is a fresh destination
    * again (a scratch slot rebuilt once per process). */
  def clearDestination(dir: String, conf: Configuration): Unit = {
    val p = new Path(dir)
    p.getFileSystem(conf).delete(p, true)
  }

  /** Per-batch commit marker root under an artifact dir:
    * `<dir>/docmax/batch=<id>` holds one row, `max_id`, the largest doc id
    * the batch committed (null for a writer that replays on batch
    * identity alone, as the saved BM25 index does). A writer commits a
    * batch LAST, after every per-batch zone of it: a crash anywhere before
    * leaves the batch uncommitted, invisible to every read that folds
    * [[committedBatches]] only, and its replay rewrites the same dirs. */
  private val MarkerDir = "docmax"

  /** One committed batch: its id and the largest doc id it committed. */
  final case class Commit(batch: Long, maxId: Option[Long])

  def commitBatch(spark: SparkSession, dir: String, batchId: Long, maxId: Option[Long]): Unit = {
    import spark.implicits._
    Seq(maxId).toDF("max_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$MarkerDir/batch=$batchId")
  }

  /** Every batch committed under `dir` (one small collect; empty before
    * the first commit). */
  def committedBatches(spark: SparkSession, dir: String): Seq[Commit] = {
    val root = s"$dir/$MarkerDir"
    if (!hasParquetData(root, spark.sparkContext.hadoopConfiguration)) Nil
    // `batch` is a discovered partition column, inferred INT for small ids
    else spark.read.parquet(root).select(col("batch").cast("long"), col("max_id").cast("long"))
      .collect().map(r => Commit(r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSeq
  }

  /** Fold the committed batches of `srcDir`'s per-batch `zones` into one
    * `batch=-1` sentinel partition under a FRESH `dstDir`
    * ([[requireFreshDestination]]), then commit the
    * sentinel with the largest `max_id` folded. −1 sorts below every real
    * batch id, so the folded rows stay visible to every later
    * `batch < id` read — including batch 0 of a stream restarted with a
    * fresh checkpoint. Only committed batches fold: a crashed batch's
    * orphans would lose their batch identity in the sentinel, and its
    * replay after the swap would read them as prior state and
    * double-count itself. Each zone's `write(rows, path)` writes its
    * committed rows (the `batch` column dropped) to the sentinel dir; a
    * zone with no data is skipped. The caller pointer-swaps after. */
  def foldCommitted(spark: SparkSession, srcDir: String, dstDir: String)
                   (zones: (String, (DataFrame, String) => Unit)*): Unit = {
    requireFreshDestination(dstDir, spark.sparkContext.hadoopConfiguration)
    val committed = committedBatches(spark, srcDir)
    require(committed.nonEmpty, s"$srcDir has no committed batch — nothing to compact")
    val ids = committed.map(_.batch)
    zones.foreach { case (zone, write) =>
      if (hasParquetData(s"$srcDir/$zone", spark.sparkContext.hadoopConfiguration))
        write(spark.read.parquet(s"$srcDir/$zone").filter(col("batch").isin(ids: _*))
          .drop("batch"), s"$dstDir/$zone/batch=-1")
    }
    commitBatch(spark, dstDir, -1L, committed.flatMap(_.maxId).maxOption)
  }

  private val Pointer = "_current"

  /** The live snapshot dir the `_current` pointer under `dir` names. */
  def currentSnapshotDir(dir: String, conf: Configuration): Option[String] =
    currentSnapshotName(new Path(dir), conf).map(new Path(dir, _).toString)

  private def currentSnapshotName(root: Path, conf: Configuration): Option[String] = {
    val fs = pointerFs(root, conf)
    val ptr = new Path(root, Pointer)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try Some(new String(in.readAllBytes(), UTF_8).trim) finally in.close()
    }
  }

  /** The pointer-file snapshot protocol of the upsert, SCD2 and document
    * sinks. `write` fills a new `snapshot_<tag>_<nanos>` dir under `dir`
    * — unique per ATTEMPT, not per tag: a batch replayed after the swap
    * but before its streaming checkpoint commits must not read and
    * overwrite the live snapshot in one plan — then the `_current`
    * pointer swaps to it, and every older snapshot dir but the one just
    * retired is deleted. The retired one stays one more generation, so a
    * reader that resolved the pointer just before the swap finishes its
    * scan; crashed attempts' staged dirs go now. A crash before the swap
    * leaves the previous snapshot live.
    *
    * The swap writes `_current.tmp` and renames it over `_current`. On a
    * local disk that rename is one rename(2): an atomic replace. HDFS
    * refuses to rename onto an existing file, so there the swap is
    * FileContext's overwrite rename, also one atomic NameNode operation.
    * On an object store a rename is a copy plus a delete and is not
    * atomic: a deployment there puts a conditional put or a committer in
    * front of the pointer. */
  def publishSnapshot(dir: String, tag: Long, conf: Configuration)
                     (write: String => Unit): Unit = {
    val root = new Path(dir)
    val staged = new Path(root, s"snapshot_${tag}_${System.nanoTime()}")
    write(staged.toString)
    val keep = currentSnapshotName(root, conf).toSet + staged.getName
    val fs = pointerFs(root, conf)
    val tmp = new Path(root, s"$Pointer.tmp")
    val out = fs.create(tmp, true)
    try out.write(staged.getName.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, new Path(root, Pointer)))
      FileContext.getFileContext(conf).rename(fs.makeQualified(tmp),
        fs.makeQualified(new Path(root, Pointer)), Options.Rename.OVERWRITE)
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("snapshot_") &&
        !keep(s.getPath.getName))
      .foreach(s => fs.delete(s.getPath, true))
  }

  // The pointer goes through the raw FS under a checksummed local one:
  // there the pointer and its .crc sidecar would swap in two renames, and
  // a crash between them would leave a pointer that fails its checksum.
  private def pointerFs(root: Path, conf: Configuration): FileSystem =
    root.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** CSV with header + explicit schema inference off the first file only.
    * (At 100 TB you pass an explicit schema; inference is a dev nicety.) */
  def readCsv(spark: SparkSession, path: String, inferSchema: Boolean = true): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", inferSchema.toString)
      .option("mode", "PERMISSIVE")
      .csv(path)

  def readJsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Parquet dump — the engine's `dump_to_path`. Writers stay parallel;
    * pass partitionCols to produce partition-pruned layouts for readers. */
  def writeParquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Register a DataFrame as a SQL view — the lightweight end of the
    * to_sql.py publish surface. */
  def registerView(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  /** SQL dump (to_sql.py:26 `dump_to_sql`): persist a parquet-backed
    * TABLE in the session catalog (CREATE TABLE AS semantics — real DDL +
    * data, queryable by name from any spark.sql client on the catalog).
    *
    * The reference's `indexes_fields` map to BUCKETING on those columns:
    * Spark's storage-level analog of a secondary index — equality lookups
    * prune to one bucket file-set, and two tables bucketed the same way
    * join WITHOUT a shuffle (see SourcesSpec's co-located join plan
    * assertion). `sortBy` within buckets gives index-like ordered scans.
    */
  def dumpToTable(df: DataFrame, name: String,
                  indexFields: Seq[String] = Nil, nBuckets: Int = 16): Unit = {
    val spark = df.sparkSession
    // Idempotent DDL: drop any previous table, and clear an orphaned
    // local managed location (the in-memory catalog forgets tables across
    // sessions while their warehouse directories survive).
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    if (warehouse.getScheme == null || warehouse.getScheme == "file") {
      // Spark lowercases managed-table directory names: check the path the
      // table ACTUALLY uses or a mixed-case name skips cleanup and then
      // fails saveAsTable on the surviving non-empty location
      val loc = java.nio.file.Paths.get(warehouse.getPath, name.toLowerCase).toFile
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
    val bucketed =
      if (indexFields.nonEmpty)
        w.bucketBy(nBuckets, indexFields.head, indexFields.tail: _*)
          .sortBy(indexFields.head, indexFields.tail: _*)
      else w
    bucketed.saveAsTable(name)
  }

  /** Training-shard publish: write documents as `shard=N/` parquet
    * partitions in the deterministic (hash, doc_id) order q82 defines, so
    * re-runs produce identically-ordered shards and a training job reads
    * its shard with one partition-pruned sequential scan. The companion
    * manifest (q100) is the validation artifact: per-shard row/token/byte
    * totals plus an ORDER-INSENSITIVE content checksum (sum of per-doc
    * 32-bit content hashes), so a restored or re-published shard can be
    * checked without comparing bodies. `repartition(shard)` before the
    * sort keeps one writer task per shard (no tiny-file spray);
    * `partitionBy` makes the shard column a directory, prunable at read.
    */
  def writeTrainingShards(docs: DataFrame, path: String, nShards: Int = 16): Unit = {
    val h = graft.operators.Sampling.saltedHash32(col("doc_id"), "shard")
    docs
      .withColumn("h", h)
      .withColumn("shard", col("h") % nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("h"), col("doc_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(path)
  }
}
