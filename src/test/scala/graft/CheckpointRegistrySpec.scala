package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.operators.Dedup

/** The one checkpoint lifecycle: [[CheckpointRegistry.local]] makes every
  * checkpoint, [[CheckpointRegistry.release]] / `releaseAll` drop it. */
class CheckpointRegistrySpec extends SpecBase {
  import spark.implicits._

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  test("release drops a checkpoint's blocks (Dataset.unpersist does not)") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "no checkpoint dir is set, so checkpoints are local")
    val df = CheckpointRegistry.local(spark.range(1000).toDF("v"), eager = true)
    val id = rddId(df)
    assert(persisted(id), "a local checkpoint must persist its RDD")
    // the trap the streaming sinks hit: Dataset.unpersist only uncaches
    // via the CacheManager and leaves the checkpoint blocks alive
    df.unpersist(true)
    assert(persisted(id), "Dataset.unpersist must be the documented no-op on checkpoints")
    assert(CheckpointRegistry.release(df, blocking = true) == 1)
    assert(!persisted(id), "release must drop the checkpoint's storage blocks")
  }

  test("release on a frame composed from two checkpoints drops both") {
    val a = CheckpointRegistry.local(spark.range(100).toDF("id"), eager = true)
    val b = CheckpointRegistry.local(spark.range(50).select(($"id" * 2).as("id")), eager = true)
    val ids = Seq(rddId(a), rddId(b))
    val both = a.join(b, "id")
    assert(both.count() == 50)
    assert(ids.forall(persisted))
    assert(CheckpointRegistry.release(both, blocking = true) == 2)
    assert(!ids.exists(persisted), "both checkpoints in the lineage must be released")
  }

  test("one action per query: a second action after releaseAll fails, never returns rows") {
    val q = CheckpointRegistry.local(spark.range(1000).toDF("v"), eager = true)
      .filter($"v" % 7 === 0)
    assert(q.count() == 143)
    assert(CheckpointRegistry.releaseAll(blocking = true) >= 1)
    val e = intercept[org.apache.spark.SparkException](q.count())
    assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
  }

  test("reliable mode: CC labels match local mode and release deletes the checkpoint files") {
    val ids = spark.range(1, 21).toDF("id")
    // a 6-node chain, a 5-node clique, and singletons
    val chain = (1L until 6L).map(i => (i, i + 1))
    val clique = for (a <- 10L to 14L; b <- a + 1 to 14L) yield (a, b)
    val links = (chain ++ clique).toDF("id_a", "id_b")
    def labels(cc: DataFrame): Map[Long, Long] =
      cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def rddDirs(root: Path): Seq[Path] = Using.resource(Files.walk(root)) {
      _.iterator().asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-")).toList
    }
    val expected = labels(Dedup.connectedComponents(ids, links))
    assert(expected(6L) == 1L && expected(14L) == 10L && expected(20L) == 20L)
    CheckpointRegistry.releaseAll()

    val sc = spark.sparkContext
    val tmp = Files.createTempDirectory("graft_ckpt")
    sc.setCheckpointDir(tmp.toString)
    try {
      // the driver-side residue solve, then the distributed BSP loop
      for (maxDriverResidue <- Seq("1000000", "0")) {
        spark.conf.set("spark.graft.cc.maxDriverResidueEdges", maxDriverResidue)
        val cc = Dedup.connectedComponents(ids, links)
        assert(labels(cc) == expected, s"maxDriverResidueEdges=$maxDriverResidue")
        assert(rddDirs(tmp).nonEmpty, "reliable checkpoints must write under the checkpoint dir")
        CheckpointRegistry.releaseAll(blocking = true)
        assert(rddDirs(tmp).isEmpty, s"release left checkpoint files: ${rddDirs(tmp)}")
      }
    } finally {
      spark.conf.unset("spark.graft.cc.maxDriverResidueEdges")
      sc.setCheckpointDir(null)
    }
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("no file under src/main makes a checkpoint outside CheckpointRegistry") {
    val checkpointCall = """\.(localCheckpoint|checkpoint)\(""".r
    val sources = Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    assert(sources.nonEmpty, "the guard must see the sources")
    val offenders = for {
      f <- sources if f.getFileName.toString != "CheckpointRegistry.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if checkpointCall.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"checkpoint calls must go through CheckpointRegistry.local:\n${offenders.mkString("\n")}")
  }
}
