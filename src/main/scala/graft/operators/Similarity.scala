package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.F

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.C). Brute-force cosine is the correctness baseline; the
  * scale path is LSH bucketing: at 100 TB the full cross product is
  * impossible, while per-bucket top-k keeps every join key-partitioned.
  */
object Similarity {

  /** L2-unit normalization of the `embedding` column — ONE definition
    * shared by the IVF cell geometry and the PQ codec so the two can
    * never drift (the PQ codes are documented to share the IVF's
    * normalized space). A zero vector yields NaN elements; both
    * consumers treat the row as unmatchable rather than crash. */
  private def unitEmbedding: org.apache.spark.sql.Column =
    transform(col("embedding"), x => x.cast("double") / F.l2Norm(col("embedding")))

  /** Bounded build-once index memo: FIFO eviction at `max`, releasing
    * the evicted entry's cached frame. Shared scaffolding for the IVF
    * and PQ indexes (one lifecycle, not two hand-rolled copies). */
  private final class BoundedMemo[K, V](max: Int, release: V => Unit) {
    private val map = scala.collection.mutable.LinkedHashMap.empty[K, V]
    def getOrElseUpdate(key: K)(build: => V): V = map.get(key) match {
      case Some(v) => v
      case None =>
        val v = build
        if (map.size >= max) {
          val (oldKey, old) = map.head
          release(old)
          map.remove(oldKey)
        }
        map.put(key, v)
        v
    }
  }

  /** Memo key half: the corpus' analyzed-plan identity within a session. */
  private def planKey(corpus: DataFrame): (Int, Int) = {
    val planHash = corpus match {
      case d: org.apache.spark.sql.classic.Dataset[_] => d.queryExecution.analyzed.semanticHash()
      case d => d.schema.hashCode()
    }
    (System.identityHashCode(corpus.sparkSession), planHash)
  }

  /** Brute-force cosine top-k: for each query vector, the k most similar
    * corpus vectors. The query side is broadcast (queries are few by
    * construction); similarity is double-precision and the ranking uses
    * the rounded score so results are reproducible bit-for-bit.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(F.cosine(col("q_emb"), col("c_emb")), 4))
    // TopKPerKey node, not the window encoding: the window would shuffle
    // and sort EVERY scored candidate to keep k per query; the node's
    // partial heaps trim each scan partition to ≤ k rows per query before
    // the exchange, and the rank window then sorts only the survivors.
    TopK.topKWithRank(scored, col("query_id"),
      Seq(col("cos").desc, col("neighbor_id")), k, "rk")
      .select(col("query_id"), col("rk").cast("long").as("rk"), col("neighbor_id"), col("cos"))
  }

  /** Deterministic random-hyperplane LSH buckets: sign bits of the dot
    * product with `nPlanes` fixed pseudo-random planes (seeded — identical
    * on every run and cluster layout). Vectors sharing a bucket are
    * near-duplicate candidates; per-bucket top-k approximates ANN with a
    * shuffle bounded by bucket size instead of a cross join.
    */
  /** The seeded pseudo-random hyperplanes themselves — exposed so oracle
    * SQL can interpolate the same literals (the RNG is deterministic). */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rng.nextGaussian())
  }

  def hyperplaneBucket(emb: org.apache.spark.sql.Column, dim: Int, nPlanes: Int, seed: Long = 42L): org.apache.spark.sql.Column = {
    val bits = hyperplanes(dim, nPlanes, seed).zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(v => lit(v)): _*)
      when(F.dot(emb, planeCol) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** An IVF index: the fitted coarse quantizer plus the cell-assigned
    * (cached) corpus — the in-memory inverted file. */
  final case class IvfIndex(
      model: org.apache.spark.ml.clustering.KMeansModel,
      assigned: DataFrame)

  // Index memo: an ANN index is long-lived state — built once, serving
  // many query batches. Keyed by the corpus' analyzed plan + parameters;
  // bounded (oldest entry unpersisted + evicted) so repeated builds with
  // changing corpora can't accumulate executor storage.
  private val ivfMemo =
    new BoundedMemo[(Int, Int, Int, Long, Int), IvfIndex](4, _.assigned.unpersist())

  /** Build (or fetch the memoized) IVF index over `corpus`.
    *
    * The quantizer trains on a deterministic hash-sample (1/`trainMod` of
    * the corpus) — at billion scale you never k-means the full corpus;
    * only the small sample is cached during the fit (and released after),
    * and cell assignment is a single full pass, cached as the inverted
    * file. Deterministic via the fixed k-means seed.
    */
  def ivfIndex(corpus: DataFrame, nLists: Int = 8, seed: Long = 42L,
               trainMod: Int = 4): IvfIndex = synchronized {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val (sess, planHash) = planKey(corpus)
    ivfMemo.getOrElseUpdate((sess, planHash, nLists, seed, trainMod)) {
      // L2-normalize for clustering/probing so euclidean cell geometry
      // matches cosine ranking; raw embeddings still score candidates.
      val corpusVec = corpus.select(
        col("vec_id"), col("embedding"),
        array_to_vector(unitEmbedding).as("features"))
      val trainVec = corpusVec
        .filter(pmod(xxhash64(col("vec_id")), lit(trainMod.toLong)) === 0)
        .select(col("features")).cache()
      val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(5).fit(trainVec)
      trainVec.unpersist()
      val assigned = model.transform(corpusVec)
        .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
        .cache()
      IvfIndex(model, assigned)
    }
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
    * corpus into `nLists` cells; each query probes its `nProbe` nearest
    * centroids and ranks only those cells' vectors. The standard
    * billion-scale layout: the corpus is stored partitioned by cell, so a
    * query touches nProbe/nLists of the data. The index build is amortized
    * across query batches via [[ivfIndex]].
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nLists: Int = 8, nProbe: Int = 3, seed: Long = 42L,
              trainMod: Int = 4): DataFrame = {
    val idx = ivfIndex(corpus, nLists, seed, trainMod)
    probeIvf(idx.model.clusterCenters.toSeq.map(_.toArray).zipWithIndex.map(_.swap),
      Seq(idx.assigned), queries, k, nProbe)
  }

  /** nProbe nearest cells per query — fully distributed: centroids
    * (nLists of them, at most a few thousand in a real deployment) ride
    * as a broadcast-sized literal array; each query explodes against it
    * and the TopKPerKey node keeps the nProbe closest. No driver
    * collect. Works off (cell, centroid-array) PAIRS — the only part of
    * the fitted model a probe ever needs, which is what makes the index
    * a PERSISTABLE artifact ([[saveIvfIndex]]/[[loadIvfIndex]]): no
    * KMeansModel round trip, just arrays + the inverted file. Shared by
    * the exact IVF probe and the IVF-PQ composition.
    * Returns (query_id, cell, q_emb). */
  private def probeCells(centroids: Seq[(Int, Array[Double])],
                         queries: DataFrame, nProbe: Int): DataFrame = {
    val centLit = array(centroids.map {
      case (i, c) => struct(lit(i).as("cell"), array(c.map(lit(_)): _*).as("cvec"))
    }: _*)
    TopK.topKPerKey(
      queries
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          unitEmbedding.as("q_unit"))
        .select(col("query_id"), col("q_emb"), col("q_unit"), explode(centLit).as("c"))
        .withColumn("dist",
          aggregate(
            zip_with(col("c.cvec"), col("q_unit"), (a, b) => { val d = a - b; d * d }),
            lit(0.0), (acc, x) => acc + x))
        .withColumn("cell", col("c.cell")),
      keys = Seq(col("query_id")), order = Seq(col("dist"), col("cell")), k = nProbe)
      .select(col("query_id"), col("cell"), col("q_emb"))
  }

  /** Exact-cosine scoring over the probed cells' inverted-file rows —
    * the closing half of [[ivfTopK]] and [[ivfTopKFromSaved]], over the
    * inverted file as SEGMENTS (base [+ streaming delta]) and the
    * optional tombstone set ([[probeSegments]]). */
  private def probeIvf(centroids: Seq[(Int, Array[Double])], segments: Seq[DataFrame],
                       queries: DataFrame, k: Int, nProbe: Int,
                       tombstones: Option[DataFrame] = None): DataFrame = {
    val scored = probeSegments(segments, probeCells(centroids, queries, nProbe), tombstones)
      .withColumn("cos", round(F.cosine(col("q_emb"), col("embedding")), 4))
    TopK.topKWithRank(scored, col("query_id"),
      Seq(col("cos").desc, col("vec_id")), k, "rk")
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** The probed rows of an inverted file held as `segments`: each
    * segment joins the broadcast (query_id, cell, …) `probes` itself, so
    * every segment scan keeps its own partition-pruning filter through
    * the union; a query never matches itself; and tombstoned ids are
    * anti-joined out here, before any ranking, so a deleted vector can
    * never occupy a rank or a shortlist slot. */
  private def probeSegments(segments: Seq[DataFrame], probes: DataFrame,
                            tombstones: Option[DataFrame]): DataFrame =
    segments.map { seg =>
      val j = seg.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("query_id"))
      tombstones.fold(j)(t => j.join(broadcast(t), Seq("vec_id"), "left_anti"))
    }.reduce(_.unionByName(_))

  /** Persist the fitted IVF index as a reusable on-disk ARTIFACT:
    * centroids as a tiny parquet (cell, centroid) and the inverted file
    * PARTITIONED BY cell — the physical layout the probe prunes on.
    * Build once per corpus version, probe from any later session: at
    * billion scale re-training (and re-assigning) per job is the cost
    * this artifact exists to amortize. */
  // Shared centroid (de)serialization — saveIvfIndex and saveIvfPqIndex
  // write the SAME tiny artifact, and both loaders must stay in lockstep
  // with it (a format change in one place only would silently diverge
  // the two index families).
  private def writeCentroids(model: org.apache.spark.ml.clustering.KMeansModel,
                             spark: org.apache.spark.sql.SparkSession,
                             dir: String): Unit = {
    import spark.implicits._
    model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Seq[(Int, Array[Double])] =
    spark.read.parquet(s"$dir/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq.sortBy(_._1)

  def saveIvfIndex(idx: IvfIndex, dir: String): Unit = {
    writeCentroids(idx.model, idx.assigned.sparkSession, dir)
    idx.assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Probe queries against a SAVED index — no re-training, no k-means
    * model reconstruction (probing needs only the centroid arrays), and
    * the cell-partitioned inverted file lets Spark's DYNAMIC PARTITION
    * PRUNING drop every unprobed cell's files at the broadcast join
    * (SimilaritySpec pins result equality with the in-memory index and
    * the dynamicpruning subquery in the scan). */
  def ivfTopKFromSaved(spark: org.apache.spark.sql.SparkSession, dir: String,
                       queries: DataFrame, k: Int, nProbe: Int = 3): DataFrame =
    probeIvf(loadCentroids(spark, dir), segmentsOf(spark, dir), queries, k, nProbe,
      tombstonesOf(spark, dir))

  /** APPEND new vectors to a saved IVF artifact without re-training —
    * the index lifecycle's missing middle: build-once amortizes the
    * quantizer, and this gives the ingest path between rebuilds. The
    * coarse quantizer is FROZEN at build time (standard IVF practice):
    * each new vector assigns map-side to its nearest saved centroid
    * (broadcast-sized literal array, no driver loop, no k-means), and
    * the rows append into the cell partitions — probes see them
    * immediately through the same DPP-pruned path. Recall degrades only
    * as the data distribution drifts from the frozen quantizer; the
    * rebuild cadence is an operational choice, not a correctness one.
    * Caller contract: vec_ids are new (duplicate ids would shadow, as
    * in any add-with-ids index).
    */
  /** FS-agnostic codebook presence — the marker distinguishing a
    * composed IVFADC artifact from a plain IVF one. Goes through the
    * Hadoop FileSystem of the path, so HDFS/object-store artifact dirs
    * answer correctly (a local-disk check would always say absent
    * there). */
  private def hasCodebook(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Boolean =
    // crash-orphan-aware like the sibling optional-state reads (delta,
    // tombstones): a save that died mid-codebook leaves a _temporary-only
    // dir, and a bare exists() would misclassify the artifact family and
    // die later on schema inference instead of the intended loud guard
    hasParquetData(spark, s"$dir/codebook")

  /** The shared crash-orphan-safe parquet-presence guard, against this
    * artifact's filesystem (see [[graft.sources.Sources.hasParquetData]]). */
  private def hasParquetData(spark: org.apache.spark.sql.SparkSession,
                             path: String): Boolean =
    graft.sources.Sources.hasParquetData(path, spark.sparkContext.hadoopConfiguration)

  /** The saved inverted file as SEGMENTS: the base `cells` table plus,
    * when a streaming ingest has landed rows, the `delta` zone — the
    * LSM posture (base + delta, folded by compaction). Probe pipelines
    * join EACH segment with the broadcast probes and union the joined
    * results, so every segment scan keeps its own partition-pruning
    * filter (a pre-join union would sit between the scan and the probe
    * join and block DPP on both legs). With no delta this collapses to
    * exactly the single-scan plan the earlier rounds pinned. */
  private def segmentsOf(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Seq[DataFrame] = {
    val base = spark.read.parquet(s"$dir/cells")
    if (hasParquetData(spark, s"$dir/delta"))
      Seq(base, spark.read.parquet(s"$dir/delta").drop("ingest_batch"))
    else Seq(base)
  }

  /** The artifact's deleted-id set, if any deletes have landed. Kept
    * tiny by construction (ids only, coalesced single file per delete
    * call) and broadcast at every use. */
  private def tombstonesOf(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Option[DataFrame] =
    if (hasParquetData(spark, s"$dir/tombstones"))
      Some(spark.read.parquet(s"$dir/tombstones").select(col("vec_id")))
    else None

  /** DELETE ids from a saved IVF or IVFADC artifact — the lifecycle's
    * remove path. At 100 TB a physical rewrite per delete is the cost
    * this method exists to avoid: the ids land in a tiny append-only
    * `tombstones` parquet, every probe masks them with one broadcast
    * anti-join BEFORE ranking (a deleted vector can never displace a
    * live one, in the shortlist or the final top-k), and
    * [[compactIvfIndex]] purges the rows physically and clears the set.
    * A tombstoned id stays deleted until that compaction: re-appending
    * it fails loud (see [[appendToIvfIndex]]) because the stale
    * physical rows would come back to life beside the new one. Works on
    * both artifact families — deletion is code-agnostic. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      ids: DataFrame): Unit = {
    // fail loud on a non-artifact dir: a typo'd (or already-swapped)
    // path would otherwise grow a tombstone file nothing reads while
    // the real index keeps serving the "deleted" vectors
    // and a save that crashed mid-centroids (a `_temporary`-only dir) is
    // no artifact either: tombstones beside it would outlive its rebuild
    require(hasParquetData(spark, s"$dir/centroids"),
      s"$dir is not a saved ANN artifact (no centroids) — nothing to delete from")
    ids.select(col("vec_id")).distinct()
      .coalesce(1).write.mode("append").parquet(s"$dir/tombstones")
  }

  /** The frozen halves of a saved artifact, loaded ONCE and reusable
    * across micro-batches: the coarse centroids plus (for a composed
    * artifact) the PQ codebook. Both are frozen by the artifact's own
    * contract, so a long-lived ingest sink must not re-read + re-collect
    * them per batch (object-store listing/GET latency would dominate
    * small batches). */
  private[graft] final case class FrozenQuantizer(
      centroids: Seq[(Int, Array[Double])],
      codebook: Option[Array[Array[Array[Float]]]])

  private[graft] def loadFrozenQuantizer(spark: org.apache.spark.sql.SparkSession,
                                         dir: String): FrozenQuantizer =
    FrozenQuantizer(loadCentroids(spark, dir),
      if (hasCodebook(spark, dir)) Some(loadCodebook(spark, dir)) else None)

  /** Assign `vecs` against a saved artifact's FROZEN quantizer(s):
    * nearest saved centroid map-side, plus the frozen-codebook PQ code
    * when the artifact is composed — the one ingest shape shared by the
    * batch appends and the streaming delta sink.
    *
    * Tombstoned incoming ids: with `dropTombstoned`=false (the batch
    * appends) the call fails loud — the stale rows are still physical
    * until compaction, so a silent "re-add" would resurrect them beside
    * the new row (callers upsert as delete -> compact -> append). With
    * `dropTombstoned`=true (the streaming sink) the ids are FILTERED
    * OUT instead: delete wins over in-flight ingest, and — decisively —
    * a crashed-then-replayed micro-batch whose ids were tombstoned
    * after the crash can still replay (the loud form would wedge the
    * stream on an id the replay's own overwrite is about to drop). */
  private[graft] def assignForIngest(spark: org.apache.spark.sql.SparkSession,
                                     dir: String, vecs: DataFrame,
                                     frozen: FrozenQuantizer,
                                     dropTombstoned: Boolean): DataFrame = {
    import graft.functions.expressions.PqEncode
    val masked = tombstonesOf(spark, dir) match {
      case None => vecs
      case Some(ts) if dropTombstoned =>
        vecs.join(broadcast(ts), Seq("vec_id"), "left_anti")
      case Some(ts) =>
        // one job: head(3) is empty exactly when there is no clash
        val clash = ts.join(vecs.select(col("vec_id")), Seq("vec_id"), "left_semi").head(3)
        require(clash.isEmpty,
          s"appending tombstoned vec_ids to $dir (e.g. " +
            s"${clash.map(_.get(0)).mkString(", ")}) — they stay deleted until " +
            "a compaction rewrites the artifact; compact first, then re-add")
        vecs
    }
    val assigned = probeCells(frozen.centroids, masked, nProbe = 1)
      .select(col("query_id").as("vec_id"), col("q_emb").as("embedding"), col("cell"))
    val coded = frozen.codebook.fold(assigned)(cb =>
      assigned.select(col("vec_id"), col("embedding"), col("cell"),
        PqEncode(unitEmbedding, cb).as("code")))
    // Co-locate the batch by cell BEFORE the partitioned write: without
    // this every ingest fans out to (shuffle partitions x touched cells)
    // files — ProfAnnLifecycle measured 40 micro-batches leaving 20k
    // delta files and an 8x probe slowdown; with it each ingest writes
    // at most one file per touched cell. The shuffle is batch-sized
    // (the corpus never moves), the artifact's file count is what lives
    // forever.
    coded.repartition(col("cell"))
  }

  /** One-shot form for the batch appends: load the frozen state, fail
    * loud on tombstoned ids. */
  private[graft] def assignForIngest(spark: org.apache.spark.sql.SparkSession,
                                     dir: String, vecs: DataFrame): DataFrame =
    assignForIngest(spark, dir, vecs, loadFrozenQuantizer(spark, dir),
      dropTombstoned = false)

  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       vecs: DataFrame): Unit = {
    // fail loud on the composed artifact: appending code-less rows there
    // would make the new vectors invisible to ADC probes (null codes
    // sink below every scored candidate) or break schema inference
    require(!hasCodebook(spark, dir),
      s"$dir is a composed IVFADC artifact (has a codebook) — use appendToIvfPqIndex")
    assignForIngest(spark, dir, vecs)
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** COMPACT an appended artifact into `dstDir`: every append adds a
    * file per touched cell, and after enough ingest a probe opens
    * many small files per probed cell — compaction rewrites the
    * inverted file with each cell's rows co-located in one file
    * (repartition on the partition column), restoring the one-open-
    * per-probed-cell scan the layout was designed for. Writes a NEW
    * artifact (centroids/codebook copied verbatim) rather than
    * rewriting in place: the artifact dir is the reader's unit of
    * atomicity, so the switch is the caller's pointer swap — exactly
    * the snapshot-publish posture of the streaming sinks. The
    * destination must be FRESH
    * ([[graft.sources.Sources.requireFreshDestination]]): compaction
    * writes no delta/ and no tombstones/, so a reused artifact dir (the
    * pointer-swap ping-pong an A/B layout invites) would keep its
    * leftover LSM state — the compacted view would resurrect
    * already-folded delta rows, mask live ids with stale tombstones, or
    * read a stale codebook/ as the family marker — fail loud instead. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      srcDir: String, dstDir: String): Unit = {
    graft.sources.Sources.requireFreshDestination(dstDir, spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$srcDir/centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$dstDir/centroids")
    if (hasCodebook(spark, srcDir))
      spark.read.parquet(s"$srcDir/codebook")
        .coalesce(1).write.mode("overwrite").parquet(s"$dstDir/codebook")
    // Fold the whole LSM view into the base of the NEW artifact: the
    // streaming delta zone merges into the cells, tombstoned rows are
    // physically dropped, and the destination carries NO delta and NO
    // tombstones — after the caller's pointer swap, deleted ids are
    // free for re-append and probes are back to one pruned scan.
    val folded = segmentsOf(spark, srcDir).reduce(_.unionByName(_))
    val visible = tombstonesOf(spark, srcDir)
      .fold(folded)(t => folded.join(broadcast(t), Seq("vec_id"), "left_anti"))
    visible.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dstDir/cells")
    // An all-tombstoned (or otherwise empty) view writes ZERO parquet
    // files under a partitioned write — and the next probe's unguarded
    // base read would die on schema inference. Guarantee one
    // schema-bearing empty file, INSIDE a partition dir (a root-level
    // file beside later cell= dirs would corrupt partition discovery
    // for any post-compaction append): an empty cell=-1 partition is
    // never probed and holds zero rows.
    if (!hasParquetData(spark, s"$dstDir/cells"))
      visible.limit(0).drop("cell").coalesce(1)
        .write.mode("overwrite").parquet(s"$dstDir/cells/cell=-1")
  }

  /** LSH-bucketed ANN: candidates come only from the query's bucket.
    * Output shape matches cosineTopK (rows-only checked: approximate). */
  def lshAnnTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                 nPlanes: Int = 8): DataFrame = {
    val bucketed = corpus.select(
      col("vec_id"), col("embedding"),
      hyperplaneBucket(col("embedding"), dim, nPlanes).as("bucket"))
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      hyperplaneBucket(col("embedding"), dim, nPlanes).as("bucket"))
    val scored = bucketed.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(F.cosine(col("q_emb"), col("embedding")), 4))
    TopK.topKWithRank(scored, col("query_id"),
      Seq(col("cos").desc, col("vec_id")), k, "rk")
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id").as("neighbor_id"), col("cos"))
  }

  // ---------------------------------------------------------------- PQ

  /** A trained product quantizer: per-subspace codebooks + the encoded
    * corpus (`vec_id`, `code` binary — m bytes per vector, the 32×
    * memory layout that makes billion-scale ANN fit in RAM). */
  final case class PqIndex(codebook: Array[Array[Array[Float]]], codes: DataFrame)

  private val pqMemo =
    new BoundedMemo[(Int, Int, Int, Int, Int, Long, Int), PqIndex](4, _.codes.unpersist())

  /** Train (or fetch the memoized) product quantizer: `m` independent
    * per-subspace k-means fits on the SAME deterministic hash-sample the
    * IVF quantizer trains on, then ONE corpus pass through the codegen'd
    * [[graft.functions.expressions.PqEncode]] builds the code column.
    * Embeddings are L2-normalized first so the quantized L2 ordering
    * equals the cosine ordering (‖a−b‖² = 2−2cos on unit vectors). */
  def pqIndex(corpus: DataFrame, dim: Int, m: Int = 8, ks: Int = 16,
              seed: Long = 42L, trainMod: Int = 4): PqIndex = synchronized {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import graft.functions.expressions.PqEncode
    require(dim % m == 0, s"pq: dim $dim must split into m=$m subspaces")
    val subDim = dim / m
    val (sess, planHash) = planKey(corpus)
    pqMemo.getOrElseUpdate((sess, planHash, dim, m, ks, seed, trainMod)) {
      val sample = corpus
        .filter(pmod(xxhash64(col("vec_id")), lit(trainMod.toLong)) === 0)
        .select(unitEmbedding.as("u")).cache()
      val codebook = Array.tabulate(m) { j =>
        val sub = sample.select(
          array_to_vector(slice(col("u"), j * subDim + 1, subDim)).as("features"))
        val centers = new KMeans().setK(ks).setSeed(seed + j).setMaxIter(5)
          .fit(sub).clusterCenters.map(_.toArray.map(_.toFloat))
        // k-means can return < ks centers on degenerate subspaces; pad
        // by repeating the last (strict-< argmin never picks a repeat,
        // so codes stay dense and the ks-stride ADC table stays valid)
        centers ++ Array.fill(ks - centers.length)(centers.last)
      }
      sample.unpersist()
      val codes = corpus
        .select(col("vec_id"), PqEncode(unitEmbedding, codebook).as("code")).cache()
      PqIndex(codebook, codes)
    }
  }

  /** PQ-ADC shortlist: score every candidate with m table LOOKUPS
    * against the query's precomputed distance table (no float math per
    * candidate — the asymmetric distance computation of Jégou et al.),
    * rank ascending through the TopKPerKey node. Output shape matches
    * cosineTopK with `adist` (approx squared L2 on unit vectors) in
    * place of `cos`. The scan reads only the code column — 32× less
    * memory traffic than raw floats, which IS the point. */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                m: Int = 8, ks: Int = 16, seed: Long = 42L, trainMod: Int = 4): DataFrame = {
    import graft.functions.expressions.{PqAdcScore, PqDistTable}
    val idx = pqIndex(corpus, dim, m, ks, seed, trainMod)
    val q = queries.select(col("vec_id").as("query_id"),
      PqDistTable(unitEmbedding, idx.codebook).as("tbl"))
    val scored = idx.codes
      .select(col("vec_id").as("neighbor_id"), col("code"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", round(PqAdcScore(col("code"), col("tbl"), ks), 4))
    // nulls LAST: a null code (malformed embedding) must sink, not rank
    // #1 for every query — ascending order defaults to NullsFirst
    TopK.topKWithRank(scored, col("query_id"),
      Seq(col("adist").asc_nulls_last, col("neighbor_id")), k, "rk")
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("neighbor_id"), col("adist"))
  }

  /** PQ ANN with exact RE-RANK — the production composition: the ADC
    * pass shortlists `k·rerank` candidates per query off the 8-byte
    * codes (the corpus-sized work, float-free), then ONLY the shortlist
    * rows fetch their raw embeddings for an exact cosine re-rank. Same
    * output shape as cosineTopK (`cos`). Quantization error then costs
    * recall only when a true neighbor misses the shortlist entirely,
    * not whenever codes reorder the top-k. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
             m: Int = 8, ks: Int = 16, rerank: Int = 8,
             seed: Long = 42L, trainMod: Int = 4): DataFrame = {
    val shortlist = pqAdcTopK(corpus, queries, dim, k * rerank, m, ks, seed, trainMod)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(Seq(corpus), queries, shortlist, k)
  }

  /** Exact-cosine re-rank of a shortlist — the closing stage shared by
    * [[pqTopK]], [[ivfPqTopK]] and [[ivfPqTopKFromSaved]]: only the
    * shortlist rows (k·rerank per query) ever fetch raw embeddings.
    *
    * Join keys are every shortlist column except query_id:
    * (neighbor_id) for the in-memory paths, (cell, neighbor_id) for the
    * saved artifact — there `cell` is the table's PARTITION column, so
    * the broadcast join's dynamic-partition-pruning filter drops every
    * unprobed cell's files from the re-rank read exactly like the ADC
    * code read. A vec_id lives in exactly one cell, so the extra key
    * changes which FILES are opened, never which rows match. */
  private def rerankExact(corpusSegs: Seq[DataFrame], queries: DataFrame,
                          shortlist: DataFrame, k: Int): DataFrame = {
    val qEmb = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val keys = shortlist.columns.toSeq.filterNot(_ == "query_id")
    val carried = keys.filterNot(_ == "neighbor_id").map(col)
    // join each segment with the shortlist BEFORE the union (as in the
    // probe pass) so the base scan's DPP filter survives a delta zone
    val rescored = corpusSegs.map { corpus =>
      corpus
        .select(carried :+ col("vec_id").as("neighbor_id") :+ col("embedding").as("c_emb"): _*)
        .join(broadcast(shortlist), keys)
    }.reduce(_.unionByName(_))
      .join(broadcast(qEmb), Seq("query_id"))
      .withColumn("cos", round(F.cosine(col("q_emb"), col("c_emb")), 4))
    TopK.topKWithRank(rescored, col("query_id"),
      Seq(col("cos").desc, col("neighbor_id")), k, "rk")
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("neighbor_id"), col("cos"))
  }

  /** IVFADC — the full composition of Jégou et al.: the coarse
    * quantizer's nProbe cells prune the candidate set FIRST (a query
    * touches nProbe/nLists of the codes, not all of them), the ADC
    * kernel scores only the probed cells' 16-byte codes, and the exact
    * re-rank closes. At a billion vectors this is the layout that fits:
    * cells bound the scan, codes bound the memory, and the re-rank
    * bounds the float work to k·rerank rows per query. Both indexes are
    * the SAME memoized build-once artifacts q40/q152 use — one coarse
    * quantizer + one PQ codebook serve every composition. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                nLists: Int = 8, nProbe: Int = 3, m: Int = 16, ks: Int = 64,
                rerank: Int = 8, seed: Long = 42L, trainMod: Int = 4): DataFrame = {
    import graft.functions.expressions.{PqAdcScore, PqDistTable}
    val ivf = ivfIndex(corpus, nLists, seed, trainMod)
    val pq = pqIndex(corpus, dim, m, ks, seed, trainMod)
    val centroids = ivf.model.clusterCenters.toSeq.map(_.toArray).zipWithIndex.map(_.swap)
    val probes = probeCells(centroids, queries, nProbe)
      .select(col("query_id"), col("cell"))
    val qTbl = queries.select(col("vec_id").as("query_id"),
      PqDistTable(unitEmbedding, pq.codebook).as("tbl"))
    val cellCodes = ivfPqCodes(corpus, ivf, pq, nLists, dim, m, ks, seed, trainMod)
    // Two separate broadcasts: the (query_id, cell) probe pairs prune the
    // scan, and each query's m*ks distance table ships ONCE in its own
    // broadcast — attaching tbl to the probe pairs first would copy it
    // nProbe times, and the probes-to-qTbl join (two tiny query-derived
    // frames) would plan an unhinted shuffle join on its own.
    val scored = probeSegments(Seq(cellCodes), probes, tombstones = None)
      .join(broadcast(qTbl), "query_id")
      .withColumn("adist", round(PqAdcScore(col("code"), col("tbl"), ks), 4))
    val shortlist = TopK.topKPerKey(scored, Seq(col("query_id")),
      Seq(col("adist").asc_nulls_last, col("vec_id")), k * rerank)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    rerankExact(Seq(corpus), queries, shortlist, k)
  }

  // The combined (vec_id, cell, code) inverted file — the composed
  // index IS one artifact (lesson 44): built once per corpus+params and
  // cached like its siblings, so repeat probes pay zero encode work.
  private val ivfPqMemo =
    new BoundedMemo[(Int, Int, Int, Int, Int, Int, Long, Int), DataFrame](4, _.unpersist())

  /** Codes derived MAP-SIDE on the cached inverted file (assigned
    * already carries the embedding) rather than joining pq.codes: a
    * codegen'd encode pass over cached rows is a narrow map, while the
    * join would shuffle two corpus-sized frames by vec_id. In a stored
    * deployment the inverted file simply carries the code column
    * (saveIvfIndex's cells + 16 bytes), the same zero-join posture. */
  private def ivfPqCodes(corpus: DataFrame, ivf: IvfIndex, pq: PqIndex,
                         nLists: Int, dim: Int, m: Int, ks: Int,
                         seed: Long, trainMod: Int): DataFrame = synchronized {
    import graft.functions.expressions.PqEncode
    val (sess, planHash) = planKey(corpus)
    ivfPqMemo.getOrElseUpdate((sess, planHash, nLists, dim, m, ks, seed, trainMod)) {
      ivf.assigned.select(col("vec_id"), col("cell"),
        PqEncode(unitEmbedding, pq.codebook).as("code")).cache()
    }
  }

  /** Persist the COMPOSED IVFADC index as ONE on-disk artifact (lesson
    * 44's composition rule made physical): the coarse centroids and the
    * per-subspace codebook as tiny parquets, and the inverted file
    * carrying the m-byte code BESIDE the raw embedding, PARTITIONED BY
    * cell. A probe then scans only the probed cells' files (dynamic
    * partition pruning, as [[ivfTopKFromSaved]]), ADC-scores their
    * codes, and re-ranks off the SAME rows — no sibling-index join, no
    * second table, no re-training in any later session. */
  def saveIvfPqIndex(corpus: DataFrame, dir: String, dim: Int,
                     nLists: Int = 8, m: Int = 16, ks: Int = 64,
                     seed: Long = 42L, trainMod: Int = 4): Unit = {
    import graft.functions.expressions.PqEncode
    val ivf = ivfIndex(corpus, nLists, seed, trainMod)
    val pq = pqIndex(corpus, dim, m, ks, seed, trainMod)
    val spark = corpus.sparkSession
    import spark.implicits._
    writeCentroids(ivf.model, spark, dir)
    pq.codebook.zipWithIndex.flatMap { case (sub, j) =>
      sub.zipWithIndex.map { case (center, c) => (j, c, center) }
    }.toSeq.toDF("sub", "code", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
    ivf.assigned.select(col("vec_id"), col("embedding"), col("cell"),
        PqEncode(unitEmbedding, pq.codebook).as("code"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** IVFADC over a SAVED artifact — no quantizer training, no k-means
    * model reconstruction: centroids and codebook load as plain arrays
    * (driver-bounded: nLists + m·ks rows), and the cell-partitioned
    * inverted file lets dynamic partition pruning drop every unprobed
    * cell's files at the broadcast probe join. m/ks derive from the
    * saved codebook's shape, so a probe cannot drift from its build. */
  /** The saved per-subspace codebook as plain arrays (driver-bounded:
    * m·ks rows); density-checked so a probe or append cannot silently
    * drift from its build. */
  private def loadCodebook(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Array[Array[Array[Float]]] = {
    val cbRows = spark.read.parquet(s"$dir/codebook")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Float](2).toArray))
    val byCell = cbRows.toMap
    val m = cbRows.map(_._1._1).max + 1
    val ks = cbRows.map(_._1._2).max + 1
    require(cbRows.length == m * ks && byCell.size == cbRows.length,
      s"saved codebook is not dense: ${cbRows.length} rows for m=$m ks=$ks")
    Array.tabulate(m, ks) { (j, c) =>
      byCell.getOrElse((j, c),
        sys.error(s"saved codebook missing subspace $j code $c"))
    }
  }

  /** [[appendToIvfIndex]]'s composed-artifact sibling: assign map-side
    * against the frozen coarse centroids AND encode with the frozen
    * per-subspace codebook, so appended rows carry the m-byte code
    * beside the raw embedding exactly like the build wrote them — the
    * ADC scan and the exact re-rank both see the new vectors with no
    * re-training and no second table. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                         vecs: DataFrame): Unit = {
    require(hasCodebook(spark, dir),
      s"$dir has no codebook — a plain IVF artifact appends via appendToIvfIndex")
    assignForIngest(spark, dir, vecs)
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
  }

  def ivfPqTopKFromSaved(spark: org.apache.spark.sql.SparkSession, dir: String,
                         queries: DataFrame, k: Int, nProbe: Int = 3,
                         rerank: Int = 8): DataFrame = {
    import graft.functions.expressions.{PqAdcScore, PqDistTable}
    val centroids = loadCentroids(spark, dir)
    val codebook = loadCodebook(spark, dir)
    val ks = codebook(0).length
    val segs = segmentsOf(spark, dir)
    val probes = probeCells(centroids, queries, nProbe)
      .select(col("query_id"), col("cell"))
    val qTbl = queries.select(col("vec_id").as("query_id"),
      PqDistTable(unitEmbedding, codebook).as("tbl"))
    // tombstoned ids leave the race before the shortlist, so the re-rank
    // never needs the mask
    val scored = probeSegments(segs, probes, tombstonesOf(spark, dir))
      .join(broadcast(qTbl), "query_id")
      .withColumn("adist", round(PqAdcScore(col("code"), col("tbl"), ks), 4))
    // The shortlist CARRIES cell so the re-rank joins on (cell, vec_id):
    // the re-rank's second scan of the cell-partitioned table then gets
    // its own DPP filter and opens only the shortlist's cells' files —
    // without it the exact re-rank reads every partition of the
    // embeddings right after the ADC pass pruned to nProbe cells.
    val shortlist = TopK.topKPerKey(scored, Seq(col("query_id")),
      Seq(col("adist").asc_nulls_last, col("vec_id")), k * rerank)
      .select(col("query_id"), col("cell"), col("vec_id").as("neighbor_id"))
    rerankExact(segs, queries, shortlist, k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup of an
    * embedded corpus. Pairs are discovered ONLY within a semantic cluster
    * (the paper's k-means cells — the argument that makes the quadratic
    * tractable: cluster count scales with the corpus, so per-cluster
    * membership stays bounded and the pair join is key-partitioned on
    * `cluster`, never an all-pairs product). Within a cluster, members at
    * cosine >= `tau` chain into duplicate GROUPS (connected components —
    * the pair relation is not transitive, same posture as q66), and each
    * group keeps the member with the LOWEST cosine to its cluster
    * centroid — the paper's keep-the-outlier rule, which preserves
    * diversity where keep-any would collapse toward cluster cores.
    *
    * Input: (id, cluster, embedding). Output one row per input id:
    * (id, cluster, grp, n_dup, keep). Assignment-agnostic: the oracle
    * gate runs it over the given `label` column, the scale path over
    * [[ivfIndex]] cells — SemDedupSpec pins both.
    *
    * Determinism: centroid coordinates round to 4dp (the q77-pinned
    * round(avg) agreement), pair and centroid cosines round to 4dp, and
    * the keep rule orders by (cos_to_centroid, id) — a total order.
    * Scale: centroids are one bounded row per cluster (broadcast back);
    * the CC runs over pair ids only; the keep pass is one slim window
    * exchange on `grp`.
    */
  def semDedup(assigned: DataFrame, tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = assigned.select(col("id"), col("cluster"), col("embedding"),
      F.dot(col("embedding"), col("embedding")).as("n2"))
    val cent = base
      .select(col("cluster"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("cluster"), col("pos"))
      .agg((round(avg(col("v")) * 10000, 0) / 10000).as("c"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("centroid"))
      .withColumn("c2", F.dot(col("centroid"), col("centroid")))
    // NOTE (r11 optimization round, measured): do NOT materialize `scored`
    // here. A lazy localCheckpoint of this frame (embedding payload
    // included) measured 4.3 s -> 6.7 s on q161: the multi-arm recompute
    // it would save is already mostly deduplicated by AQE exchange reuse,
    // and storing the array column costs more than the re-runs.
    val scored = base.join(broadcast(cent), "cluster")
      .withColumn("cos_c", round(F.dot(col("embedding"), col("centroid")) /
        (sqrt(col("n2")) * sqrt(col("c2"))), 4))
      .select(col("id"), col("cluster"), col("embedding"), col("n2"), col("cos_c"))
    val a = scored.select(col("cluster"), col("id").as("id_a"),
      col("embedding").as("emb_a"), col("n2").as("n2_a"))
    val b = scored.select(col("cluster").as("cluster_b"), col("id").as("id_b"),
      col("embedding").as("emb_b"), col("n2").as("n2_b"))
    val pairs = a.join(b,
        col("cluster") === col("cluster_b") && col("id_a") < col("id_b"))
      .withColumn("cos", round(F.dot(col("emb_a"), col("emb_b")) /
        (sqrt(col("n2_a")) * sqrt(col("n2_b"))), 4))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"))
    val cc = Dedup.connectedComponents(scored.select(col("id")), pairs)
      .withColumnRenamed("label", "grp")
    // group stats as ONE partial-combined aggregate joined back (q78's
    // min_by-struct pattern) — the former count/row_number windows
    // partitioned by grp sorted a mega dup-group's whole membership in
    // one task (lesson 49's class; boilerplate embeddings chain huge
    // groups), and AQE splits skewed joins, never windows. keep = the
    // (cos_c, id)-minimum member — farthest from the centroid, the
    // paper's diversity rule — identical to the window's row 1 because
    // (cos_c, id) is total within a group.
    val withGrp = scored.join(cc, "id")
    val stats = withGrp.groupBy(col("grp"))
      .agg(count(lit(1)).cast("long").as("n_dup"),
        min_by(col("id"), struct(col("cos_c"), col("id"))).as("__keep_id"))
    withGrp.join(stats, Seq("grp"))
      .withColumn("keep", col("id") === col("__keep_id"))
      .select(col("id"), col("cluster"), col("grp"), col("n_dup"), col("keep"))
  }
}
