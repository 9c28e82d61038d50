package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one checkpoint lifecycle: every checkpoint that cuts
  * lineage (the dedup CC ladder, the BPE vocab loop, shared signature and
  * label tables, the streaming dedup sinks) is made by [[local]] and
  * released by [[release]] or [[releaseAll]]. No other code calls
  * `localCheckpoint` or `Dataset.checkpoint` (CheckpointRegistrySpec
  * guards this).
  *
  * MAKING. [[local]] checkpoints locally (executor block storage) unless
  * the SparkContext has a checkpoint directory — set by Spark's own
  * `spark.checkpoint.dir` or by `SparkContext.setCheckpointDir` — in which
  * case it checkpoints reliably to that directory. Both are a LogicalRDD
  * barrier with the same plan; a reliable checkpoint is recomputable after
  * executor loss, a local one fails the job instead. Each checkpoint's
  * backing RDD is tracked by a WEAK reference, so an entry never delays
  * normal GC.
  *
  * RELEASING. `Dataset.unpersist` is a no-op on a checkpointed frame (it
  * only uncaches via the CacheManager, while the checkpoint persists its
  * RDD directly). [[release]] instead unpersists every checkpoint RDD in a
  * frame's analyzed plan — the frame's own checkpoint, or every one its
  * lineage reads — and deletes a reliable checkpoint's files, which Spark
  * keeps otherwise (`spark.cleaner.referenceTracking.cleanCheckpoints` is
  * off by default). Iterative operators release each superseded round;
  * sinks release their frames after the last write. [[releaseAll]] does
  * the same for every tracked checkpoint still alive; runners (Bench,
  * Verify, the benchmark harness) call it after each query's action, so
  * the blocks and files go the moment the query is done instead of
  * pinning storage until a driver GC. A runner that never calls it
  * (interactive use) behaves as plain Spark. A checkpoint whose RDD was
  * garbage-collected before release keeps its reliable files unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
  *
  * ONE ACTION PER QUERY. Releasing is only safe after the LAST action on
  * every frame that reads the checkpoint: a local checkpoint cannot be
  * recomputed once its blocks are gone, so a second action on a frame
  * built over a released checkpoint fails. A runner that calls
  * [[releaseAll]] runs exactly one action per built query.
  */
object CheckpointRegistry {

  private val tracked = new ConcurrentLinkedQueue[WeakReference[RDD[_]]]()

  /** Checkpoint `ds` (reliably when the SparkContext has a checkpoint
    * directory, locally otherwise) and track the backing RDD for release
    * at the end of the consuming query. */
  def local[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
    val out =
      if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint(eager)
      else ds.localCheckpoint(eager)
    checkpointRdds(out).foreach(rdd => tracked.add(new WeakReference(rdd)))
    out
  }

  /** Release every checkpoint RDD in `ds`'s analyzed plan. Only safe
    * after the last action on `ds` and on every other frame reading those
    * checkpoints. Returns the number of checkpoint RDDs released. */
  def release(ds: Dataset[_], blocking: Boolean = false): Int = {
    val rdds = checkpointRdds(ds)
    rdds.foreach(releaseRdd(_, blocking))
    rdds.size
  }

  /** Release every tracked checkpoint RDD still alive. Called by the
    * runners after a query's terminal action; safe at any time for
    * per-invocation checkpoints (each query run builds fresh ones). */
  def releaseAll(blocking: Boolean = false): Int = {
    var released = 0
    var ref = tracked.poll()
    while (ref != null) {
      val rdd = ref.get()
      if (rdd != null) {
        releaseRdd(rdd, blocking)
        released += 1
      }
      ref = tracked.poll()
    }
    released
  }

  private def checkpointRdds(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }.distinct

  /** Unpersist is idempotent, and deleting an already-deleted reliable
    * checkpoint is a no-op, so releasing twice is harmless. */
  private def releaseRdd(rdd: RDD[_], blocking: Boolean): Unit = {
    rdd.unpersist(blocking)
    rdd.getCheckpointFile.foreach { file =>
      val path = new Path(file)
      path.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(path, true)
    }
  }
}
