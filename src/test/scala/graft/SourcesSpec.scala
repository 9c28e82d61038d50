package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.Sources

class SourcesSpec extends SpecBase {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_$name").resolve("out").toString

  test("parquet round-trip preserves schema and rows") {
    val df = Tables.customer(spark, SfDir)
    val path = tmp("pq")
    Sources.writeParquet(df, path)
    val back = Sources.readParquet(spark, path)
    assert(back.schema == df.schema)
    assert(back.count() == df.count())
  }

  test("partitioned parquet layout enables partition pruning") {
    val df = Tables.customer(spark, SfDir)
    val path = tmp("pqpart")
    Sources.writeParquet(df, path, partitionCols = Seq("c_mktsegment"))
    val pruned = Sources.readParquet(spark, path).filter(col("c_mktsegment") === "BUILDING")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == df.filter(col("c_mktsegment") === "BUILDING").count())
    assert(plan.contains("PartitionFilters") || !plan.contains("c_mktsegment)"),
      "segment filter should prune partitions, not scan+filter")
  }

  test("hasParquetData: presence answers, crash orphans and vanished paths read as absent") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("graft_presence").toString
    // nonexistent path → absent (and never an exception)
    assert(!Sources.hasParquetData(s"$root/nope", conf))
    // a dir holding only write orphans (_temporary / dot-dirs) → absent
    val orphan = new java.io.File(s"$root/orphan/_temporary")
    assert(orphan.mkdirs())
    Files.write(orphan.toPath.resolve("part-0.parquet"), Array[Byte](1))
    val staging = new java.io.File(s"$root/orphan/.staging_x")
    assert(staging.mkdirs())
    Files.write(staging.toPath.resolve("part-1.parquet"), Array[Byte](1))
    assert(!Sources.hasParquetData(s"$root/orphan", conf))
    // real data nested under partition dirs → present
    val df = Tables.nation(spark, SfDir)
    Sources.writeParquet(df, s"$root/real", partitionCols = Seq("n_regionkey"))
    assert(Sources.hasParquetData(s"$root/real", conf))
    // ... also under a partition column whose name starts with `_`
    Sources.writeParquet(df.withColumn("__bucket", col("n_regionkey") % 2), s"$root/under",
      partitionCols = Seq("__bucket"))
    assert(Sources.hasParquetData(s"$root/under", conf))
  }

  test("recoverStagedDir promotes only the marker-complete delete-then-crash orphan") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("graft_swap").toString
    val target = s"$root/snap"
    // a FIRST-EVER write that crashed mid-write: target absent, staging
    // present, NO completion marker — recovery must refuse (promoting
    // would commit truncated data; this is why target absence alone can
    // never prove the write completed)
    val staged = new java.io.File(s"$root/.staging_snap")
    assert(staged.mkdirs())
    Files.write(staged.toPath.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    assert(!Sources.recoverStagedDir(target, conf),
      "a marker-less staging dir is a partial write and must not promote")
    // the one promotable state: writer died BETWEEN its delete and its
    // rename — target absent, staging carries the completion marker
    Files.write(staged.toPath.resolve("_GRAFT_STAGED_COMPLETE"), Array[Byte]())
    assert(Sources.recoverStagedDir(target, conf), "marker-complete orphan must promote")
    assert(new java.io.File(s"$target/part-0.parquet").exists())
    assert(!new java.io.File(s"$target/_GRAFT_STAGED_COMPLETE").exists(),
      "the marker must not linger in the promoted target")
    assert(!staged.exists())
    // idempotent: nothing left to recover
    assert(!Sources.recoverStagedDir(target, conf))
    // a staging dir BESIDE a live target is a crashed partial write —
    // recovery must refuse (the next swap's wipe reclaims it)
    val staged2 = new java.io.File(s"$root/.staging_snap")
    assert(staged2.mkdirs())
    Files.write(staged2.toPath.resolve("part-9.parquet"), Array[Byte](9))
    Files.write(staged2.toPath.resolve("_GRAFT_STAGED_COMPLETE"), Array[Byte]())
    assert(!Sources.recoverStagedDir(target, conf))
    assert(new java.io.File(s"$target/part-0.parquet").exists(),
      "the live target must be untouched")
    // a real swap over the crashed staging leftovers works (wipe-first)
    Sources.stageAndSwapDir(target, conf) { dir =>
      val d = new java.io.File(dir)
      d.mkdirs()
      Files.write(d.toPath.resolve("part-1.parquet"), Array[Byte](4, 5))
    }
    assert(new java.io.File(s"$target/part-1.parquet").exists())
    assert(!new java.io.File(s"$target/part-9.parquet").exists(),
      "the stale partial staging content must not survive the swap")
    assert(!new java.io.File(s"$target/_GRAFT_STAGED_COMPLETE").exists())
  }

  test("publishSnapshot swaps the pointer in one rename and keeps one retired generation") {
    val conf = spark.sparkContext.hadoopConfiguration
    val local = Files.createTempDirectory("graft_snap")
    val dir = "file://" + local.toString
    assert(Sources.currentSnapshotDir(dir, conf).isEmpty)
    val live = (1 to 3).map { n =>
      Sources.publishSnapshot(dir, n.toLong, conf)(spark.range(n).write.parquet(_))
      Sources.currentSnapshotDir(dir, conf).get
    }
    assert(spark.read.parquet(live.last).count() == 3)
    val names = local.toFile.list().toSet
    assert(names.filter(_.startsWith("snapshot_")) ==
      live.takeRight(2).map(new org.apache.hadoop.fs.Path(_).getName).toSet,
      s"the live and the just-retired snapshot must survive, no older one: $names")
    // no `_current.tmp` left over, and no `.crc` sidecar: a checksummed
    // pointer would swap in a second rename after the first
    assert(names.filter(_.contains("_current")) == Set("_current"), names)
  }

  test("filesystem calls and the commit-marker name live in Sources alone") {
    import scala.jdk.CollectionConverters._
    def scalaFiles(dir: String): List[java.nio.file.Path] = scala.util.Using.resource(
        Files.walk(java.nio.file.Paths.get(dir))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    def hits(files: Seq[java.nio.file.Path], pattern: scala.util.matching.Regex) = for {
      f <- files
      text = Files.readString(f)
      m <- pattern.findAllMatchIn(text)
    } yield s"$f:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
    // durable state (presence, markers, folds, fresh destinations,
    // pointers) is answered through Sources, on the path's own Hadoop
    // FileSystem; a local-disk or raw FileSystem call in these packages
    // is a second copy of it
    val guarded = Seq("operators", "pipelines", "queries", "streaming")
      .flatMap(d => scalaFiles(s"src/main/scala/graft/$d"))
    assert(guarded.size > 40, "the guard must see the sources")
    val fsCalls = hits(guarded,
      "java\\.nio\\.file|java\\.io\\.File|org\\.apache\\.commons\\.io|org\\.apache\\.hadoop\\.fs".r)
    assert(fsCalls.isEmpty, s"filesystem calls outside Sources:\n${fsCalls.mkString("\n")}")
    // one commit-marker format: its dir is named in Sources only
    val marker = hits(scalaFiles("src/main/scala"), "docmax".r)
    assert(marker.nonEmpty && marker.forall(_.contains("/sources/Sources.scala:")),
      s"the commit-marker dir must be named in Sources alone:\n${marker.mkString("\n")}")
  }

  test("csv round-trip and json-lines round-trip") {
    val df = Tables.nation(spark, SfDir)
    val csvPath = tmp("csv")
    Sources.writeCsv(df, csvPath)
    assert(Sources.readCsv(spark, csvPath).count() == df.count())
    val jsonPath = tmp("json")
    Sources.writeJsonLines(df, jsonPath)
    assert(Sources.readJsonLines(spark, jsonPath).count() == df.count())
  }

  test("registerView exposes a DataFrame to spark.sql") {
    Sources.registerView(Tables.region(spark, SfDir), "region_view")
    assert(spark.sql("SELECT count(*) AS c FROM region_view").head().getLong(0) == 5)
  }

  test("dumpToTable creates a catalog table queryable by SQL") {
    Sources.dumpToTable(Tables.nation(spark, SfDir), "dump_nation")
    assert(spark.sql("SELECT count(*) FROM dump_nation").head().getLong(0) == 25)
    assert(spark.catalog.tableExists("dump_nation"))
  }

  test("tables bucketed on the join key join WITHOUT a shuffle (co-located join)") {
    Sources.dumpToTable(
      Tables.customer(spark, SfDir), "bt_customer", indexFields = Seq("c_custkey"), nBuckets = 8)
    Sources.dumpToTable(
      Tables.orders(spark, SfDir).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "bt_orders", indexFields = Seq("o_custkey"), nBuckets = 8)
    // merge hint: at test scale Spark would broadcast instead; the point
    // here is the big-big case, where co-located buckets avoid the shuffle
    val joined = spark.table("bt_customer").hint("merge")
      .join(spark.table("bt_orders"), col("c_custkey") === col("o_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join; plan:\n$plan")
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"bucketed-by-key tables must sort-merge join with zero shuffle; plan:\n$plan")
    assert(joined.count() ==
      Tables.customer(spark, SfDir)
        .join(Tables.orders(spark, SfDir), col("c_custkey") === col("o_custkey")).count())
  }

  test("training-shard publish: written shards reproduce the q100 manifest") {
    import graft.operators.Sampling
    val path = tmp("shards")
    Sources.writeTrainingShards(
      Tables.documents(spark, SfDir).select(col("doc_id"), col("text")), path)

    // shard is a real directory column (one dir per shard, prunable)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.length == 16, s"expected 16 shard dirs, got ${dirs.toSeq}")
    val one = Sources.readParquet(spark, path).filter(col("shard") === 3)
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"))

    // the manifest recomputed FROM THE FILES must equal q100 over the
    // source table — file order, task order, and split boundaries must
    // not matter (that is the checksum's whole point)
    val fromFiles = Sources.readParquet(spark, path)
      .select(col("shard").cast("long").as("shard"), col("text"),
        Sampling.docHash32(concat(col("doc_id").cast("string"), lit(":"), col("text")))
          .as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(size(graft.functions.F.tokens(col("text")))).cast("long").as("n_tokens"),
        sum(length(col("text"))).cast("long").as("n_bytes"),
        sum(col("h")).cast("long").as("checksum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val fromQuery = SparkEntry.queries("q100_shard_manifest")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(fromFiles == fromQuery,
      s"files-only: ${(fromFiles -- fromQuery).take(2)}, query-only: ${(fromQuery -- fromFiles).take(2)}")
  }
}
