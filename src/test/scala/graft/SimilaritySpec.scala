package graft

import org.apache.spark.sql.functions._
import graft.functions.F
import graft.operators.Similarity

class SimilaritySpec extends SpecBase {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, SfDir).cache()

  test("cosineTopK returns k ordered neighbors with correct scores") {
    val out = Similarity.cosineTopK(emb, emb.filter($"vec_id" < 3), k = 5)
      .orderBy("query_id", "rk").collect()
    assert(out.length == 15)
    // scores non-increasing within each query
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val scores = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cos"))
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    }
    // spot-check one score against a local computation
    val r0 = out.head
    val vecs = emb.filter($"vec_id" === 0 || $"vec_id" === r0.getAs[Long]("neighbor_id"))
      .orderBy($"vec_id" =!= 0) // query first
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val dot = vecs(0).zip(vecs(1)).map { case (x, y) => x * y }.sum
    val expected = dot / (math.sqrt(vecs(0).map(x => x * x).sum) * math.sqrt(vecs(1).map(x => x * x).sum))
    assert(math.abs(r0.getAs[Double]("cos") - expected) < 1e-3)
  }

  test("lshAnnTopK returns only true-cosine-scored candidates and nonzero recall") {
    val brute = Similarity.cosineTopK(emb, emb.filter($"vec_id" < 10), k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshAnnTopK(emb, emb.filter($"vec_id" < 10), dim = 64, k = 5)
      .collect()
    assert(approx.nonEmpty)
    val approxPairs = approx.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.count(approxPairs.contains).toDouble / brute.size
    assert(recall > 0.0, s"ANN should recover some true neighbors (recall $recall)")
  }

  test("ivfTopK achieves high recall against the brute-force baseline") {
    val brute = Similarity.cosineTopK(emb, emb.filter($"vec_id" < 10), k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(emb, emb.filter($"vec_id" < 10), k = 5)
      .collect()
    assert(ivf.nonEmpty)
    val ivfPairs = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.count(ivfPairs.contains).toDouble / brute.size
    // clustered synthetic embeddings: probing 2/16 cells should recover most
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  test("pqTopK: code shape, ADC arithmetic vs an exact replay, recall, determinism") {
    val idx = Similarity.pqIndex(emb, dim = 64)
    // code column: exactly m bytes per vector, every byte a valid centroid id
    val codes = idx.codes.collect().map(r => r.getAs[Array[Byte]]("code"))
    assert(codes.forall(c => c != null && c.length == 8))
    assert(codes.forall(_.forall(b => (b & 0xFF) < 16)))
    // ADC score replay: for one (query, candidate) pair recompute the
    // quantized distance from the codebook + code directly in Scala and
    // match the expression's output (pins both PqDistTable and
    // PqAdcScore arithmetic, including the flat-table stride). Uses the
    // pure-ADC shortlist form — q152 itself re-ranks exactly.
    val adc = Similarity.pqAdcTopK(emb, emb.filter($"vec_id" < 10), dim = 64, k = 5)
      .orderBy("query_id", "rk").collect()
    assert(adc.length == 50)
    val r0 = adc.head
    val codeOf = idx.codes.filter($"vec_id" === r0.getAs[Long]("neighbor_id"))
      .head().getAs[Array[Byte]]("code")
    def unitOf(id: Long): Array[Double] = {
      val v = emb.filter($"vec_id" === id).head().getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val qu = unitOf(r0.getAs[Long]("query_id"))
    // replay the kernel's EXACT float semantics: each table cell
    // accumulates diff² in DOUBLE and casts to float ONCE (PqDistTable),
    // then ADC sums the float cells in double (PqAdcScore), and the
    // query rounds to 4dp — a per-term float accumulation here would
    // hide a real ordering/precision regression behind a loose tolerance
    val expect = (0 until 8).map { j =>
      val c = codeOf(j) & 0xFF
      val cell = (0 until 8).map { i =>
        val d = qu(j * 8 + i) - idx.codebook(j)(c)(i)
        d * d
      }.sum // double accumulation inside the cell
      cell.toFloat.toDouble // one float cast per cell
    }.sum
    val expectRounded =
      BigDecimal(expect).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r0.getAs[Double]("adist") - expectRounded) < 1e-9,
      s"adist ${r0.getAs[Double]("adist")} vs replay $expectRounded")
    // recall vs the exact baseline: the ADC shortlist alone is the weak
    // form (measured 0.2 recall@5 here — 16 centroids on near-random
    // subspaces quantize coarsely); q152's exact re-rank recovers every
    // true neighbor whose shortlist survives
    val out = SparkEntry.queries("q152_pq_ann")(spark, SfDir)
      .orderBy("query_id", "rk").collect()
    assert(out.length == 50)
    val brute = Similarity.cosineTopK(emb, emb.filter($"vec_id" < 10), k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val pqPairs = out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.count(pqPairs.contains).toDouble / brute.size
    assert(recall >= 0.8, s"PQ+rerank recall $recall (q152 config measured 0.98)")
    // rerun determinism (memoized index + seeded trainers)
    val again = SparkEntry.queries("q152_pq_ann")(spark, SfDir)
      .orderBy("query_id", "rk").collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q153 IVFADC: recall, cell containment, determinism") {
    val out = SparkEntry.queries("q153_ivfpq_ann")(spark, SfDir)
      .orderBy("query_id", "rk").collect()
    assert(out.length == 50)
    // recall vs exact: cell pruning costs recall only when a true
    // neighbor lives in an unprobed cell (3/8 cells probed)
    val brute = Similarity.cosineTopK(emb, emb.filter($"vec_id" < 10), k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val pairs = out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.count(pairs.contains).toDouble / brute.size
    assert(recall >= 0.5, s"IVFADC recall $recall")
    // composition property: every emitted neighbor must sit in one of
    // its query's probed cells — if not, the cell pruning is fictional
    // the SAME index build q153 uses (trainMod=2) — a differently-
    // sampled quantizer assigns different cells
    val cellOf = Similarity.ivfIndex(emb, nLists = 8, seed = 42L, trainMod = 2).assigned
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    // a query's probed cells are at most nProbe=3 distinct values; the
    // emitted neighbors per query must use ≤ 3 distinct cells
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val cells = rows.map(r => cellOf(r.getAs[Long]("neighbor_id"))).toSet
      assert(cells.size <= 3, s"query $q neighbors span ${cells.size} > nProbe cells")
    }
    val again = SparkEntry.queries("q153_ivfpq_ann")(spark, SfDir)
      .orderBy("query_id", "rk").collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q119 cluster-balanced draw: cover, cap arithmetic, membership, determinism") {
    val q = SparkEntry.queries("q119_cluster_balance")
    val out = q(spark, SfDir).collect()
    val nVecs = emb.count()
    // every vector lands in exactly one cluster
    assert(out.map(_.getAs[Long]("n_members")).sum == nVecs)
    // cap arithmetic + kept ids: n_kept == min(n_members, 16) and the CSV
    // carries exactly n_kept distinct member ids
    val assigned = Similarity.ivfIndex(emb).assigned
      .select($"vec_id", $"cell").as[(Long, Int)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    out.foreach { r =>
      val cluster = r.getAs[Long]("cluster").toInt
      val kept = r.getAs[String]("kept_ids").split(',').map(_.toLong)
      assert(r.getAs[Long]("n_kept") == math.min(r.getAs[Long]("n_members"), 16L))
      assert(kept.length == r.getAs[Long]("n_kept"))
      assert(kept.distinct.length == kept.length)
      assert(kept.forall(assigned(cluster).contains))
    }
    // rerun-deterministic (the draw is salted-hash, never rand())
    val again = q(spark, SfDir).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("hyperplane buckets are deterministic across invocations") {
    val b1 = emb.select(Similarity.hyperplaneBucket($"embedding", 64, 8).as("b")).collect().map(_.getLong(0))
    val b2 = emb.select(Similarity.hyperplaneBucket($"embedding", 64, 8).as("b")).collect().map(_.getLong(0))
    assert(b1.sameElements(b2))
  }

  test("saved IVF index probes identically to the in-memory one, with partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val queries = emb.filter($"vec_id" < 6)
    val inMem = Similarity.ivfTopK(emb, queries, k = 5)
      .collect().map(_.toSeq).toSet
    Similarity.saveIvfIndex(Similarity.ivfIndex(emb), dir)
    val loaded = Similarity.ivfTopKFromSaved(spark, dir, queries, k = 5)
    assert(loaded.collect().map(_.toSeq).toSet == inMem,
      "probing the artifact must reproduce the in-memory index row-for-row")
    // the cell-partitioned layout + broadcast probe join => dynamic
    // partition pruning drops unprobed cells' files at the scan
    val plan = loaded.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"cells scan must carry a DPP filter:\n${plan.take(1200)}")
  }

  test("append to saved IVF/IVFADC: frozen-quantizer assignment, retrievability, DPP intact") {
    import org.apache.spark.sql.DataFrame
    // build on the corpus MINUS a held-back tail, then append the tail
    val base = emb.filter($"vec_id" < 450)
    val extra = emb.filter($"vec_id" >= 450)
    val ivfDir = java.nio.file.Files.createTempDirectory("ivf_app").toString
    val pqDir = java.nio.file.Files.createTempDirectory("ivfpq_app").toString
    val idx = Similarity.ivfIndex(base, nLists = 8, seed = 42L, trainMod = 2)
    Similarity.saveIvfIndex(idx, ivfDir)
    Similarity.saveIvfPqIndex(base, pqDir, dim = 64,
      nLists = 8, m = 16, ks = 64, trainMod = 2)
    Similarity.appendToIvfIndex(spark, ivfDir, extra)
    Similarity.appendToIvfPqIndex(spark, pqDir, extra)
    // cross-artifact guards fail LOUD: code-less rows in a composed
    // artifact would be silently invisible to ADC probes
    assert(intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, pqDir, extra)
    }.getMessage.contains("appendToIvfPqIndex"))
    assert(intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(spark, ivfDir, extra)
    }.getMessage.contains("appendToIvfIndex"))
    // family detection is crash-orphan-aware: a _temporary-only codebook
    // dir (a save that died mid-write) must read as "no codebook", so the
    // plain-IVF append path stays open instead of dying on schema
    // inference or a misdirected cross-artifact guard
    val orphanDir = java.nio.file.Files.createTempDirectory("ivf_app_orphan").toString
    Similarity.saveIvfIndex(idx, orphanDir)
    val orphanCb = new java.io.File(s"$orphanDir/codebook/_temporary")
    assert(orphanCb.mkdirs())
    java.nio.file.Files.write(orphanCb.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    Similarity.appendToIvfIndex(spark, orphanDir, extra) // must not throw
    // assignment equality vs a frozen-quantizer replay: each appended
    // vector's cell is its nearest SAVED centroid (local argmin)
    val centroids = idx.model.clusterCenters.map(_.toArray)
    def unit(v: Seq[Float]): Array[Double] = {
      val d = v.map(_.toDouble).toArray
      val n = math.sqrt(d.map(x => x * x).sum)
      d.map(_ / n)
    }
    val expectedCell = extra.collect().map { r =>
      val u = unit(r.getSeq[Float](1))
      val cell = centroids.zipWithIndex.map { case (c, i) =>
        (c.zip(u).map { case (a, b) => val d = a - b; d * d }.sum, i)
      }.min._2
      (r.getLong(0), cell)
    }.toMap
    for (dir <- Seq(ivfDir, pqDir)) {
      val cells = spark.read.parquet(s"$dir/cells")
      assert(cells.count() == emb.count(), s"$dir: appended rows missing")
      val appended = cells.filter($"vec_id" >= 450)
        .select($"vec_id", $"cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(appended == expectedCell,
        s"$dir: appended cells diverge from the frozen quantizer's argmin")
    }
    // appended codes follow the frozen codebook shape (m bytes each)
    val codes = spark.read.parquet(s"$pqDir/cells").filter($"vec_id" >= 450)
      .select($"code").collect().map(_.getAs[Array[Byte]](0))
    assert(codes.forall(c => c != null && c.length == 16))
    // retrievability through the normal probe path, DPP intact: querying
    // WITH an appended vector must return its true near neighbors from
    // the full (base + appended) corpus
    val queries = emb.filter($"vec_id" >= 495)
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivfGot = Similarity.ivfTopKFromSaved(spark, ivfDir, queries, k = 5)
    val brute = pairs(Similarity.cosineTopK(emb, queries, k = 5))
    val ivfRecall = brute.count(pairs(ivfGot).contains).toDouble / brute.size
    assert(ivfRecall >= 0.5, s"appended-index IVF recall $ivfRecall")
    assert(pairs(ivfGot).exists(p => p._2 >= 450),
      "no appended vector was ever retrieved — the append is invisible to probes")
    assert(ivfGot.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "append must not break the DPP probe path")
    val pqGot = Similarity.ivfPqTopKFromSaved(spark, pqDir, queries, k = 5)
    val pqRecall = brute.count(pairs(pqGot).contains).toDouble / brute.size
    assert(pqRecall >= 0.5, s"appended-index IVFADC recall $pqRecall")
    // compaction: appends fragment cells into multiple files; the
    // compacted artifact holds ONE file per cell and probes identically
    def filesPerCell(dir: String): Map[String, Int] =
      new java.io.File(s"$dir/cells").listFiles().filter(_.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap
    assert(filesPerCell(pqDir).values.exists(_ > 1),
      "fixture failed to fragment — the compaction test would be vacuous")
    val compactDir = java.nio.file.Files.createTempDirectory("ivfpq_compact").toString
    Similarity.compactIvfIndex(spark, pqDir, compactDir)
    assert(filesPerCell(compactDir).values.forall(_ == 1),
      s"compaction must leave one file per cell: ${filesPerCell(compactDir)}")
    val before = Similarity.ivfPqTopKFromSaved(spark, pqDir, queries, k = 5)
      .collect().map(_.toSeq).toSet
    val after = Similarity.ivfPqTopKFromSaved(spark, compactDir, queries, k = 5)
      .collect().map(_.toSeq).toSet
    assert(after == before, "compacted artifact must probe identically")
  }

  test("saved IVFADC artifact probes identically to the in-memory composition, with DPP") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    val queries = emb.filter($"vec_id" < 10)
    val inMem = Similarity.ivfPqTopK(emb, queries, dim = 64, k = 5,
      nLists = 8, nProbe = 3, m = 16, ks = 64, rerank = 8, trainMod = 2)
      .collect().map(_.toSeq).toSet
    Similarity.saveIvfPqIndex(emb, dir, dim = 64,
      nLists = 8, m = 16, ks = 64, trainMod = 2)
    val loaded = Similarity.ivfPqTopKFromSaved(spark, dir, queries, k = 5,
      nProbe = 3, rerank = 8)
    assert(loaded.collect().map(_.toSeq).toSet == inMem,
      "probing the saved composed artifact must reproduce the in-memory result row-for-row")
    // one artifact, both bounds: the probed-cell ADC scan AND the exact
    // re-rank's second scan of the same table must EACH carry a DPP
    // filter — the shortlist carries `cell` precisely so the re-rank
    // read prunes to the probed cells instead of opening every partition
    val plan = loaded.queryExecution.executedPlan.toString
    val dppScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("dynamicpruning"))
    assert(dppScans >= 2,
      s"both cells scans (ADC + re-rank) must carry DPP filters, found $dppScans:\n${plan.take(1600)}")
  }

  test("delete masks probes immediately, compaction purges, re-append works after compact") {
    import org.apache.spark.sql.DataFrame
    val ivfDir = java.nio.file.Files.createTempDirectory("ivf_del").toString
    val pqDir = java.nio.file.Files.createTempDirectory("ivfpq_del").toString
    Similarity.saveIvfIndex(Similarity.ivfIndex(emb), ivfDir)
    Similarity.saveIvfPqIndex(emb, dir = pqDir, dim = 64)
    val queries = emb.filter($"vec_id" < 6)
    def pairs(df: DataFrame): Set[(Long, Long)] = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivfBefore = pairs(Similarity.ivfTopKFromSaved(spark, ivfDir, queries, k = 5))
    val pqBefore = pairs(Similarity.ivfPqTopKFromSaved(spark, pqDir, queries, k = 5))
    // victims: returned by BOTH families (so every absence assert below
    // is non-vacuous) and outside the query set (so deleting them can't
    // change the probe side)
    val victims = (ivfBefore & pqBefore).map(_._2).filter(_ >= 6).take(2).toSeq
    assert(victims.nonEmpty, "fixture: no shared non-query neighbor to delete")
    for (dir <- Seq(ivfDir, pqDir))
      Similarity.deleteFromIndex(spark, dir, victims.toDF("vec_id"))
    val ivfAfter = Similarity.ivfTopKFromSaved(spark, ivfDir, queries, k = 5)
    val pqAfter = Similarity.ivfPqTopKFromSaved(spark, pqDir, queries, k = 5)
    for ((got, name) <- Seq((ivfAfter, "IVF"), (pqAfter, "IVFADC"))) {
      val p = pairs(got)
      assert(victims.forall(v => !p.exists(_._2 == v)),
        s"$name: a tombstoned id still surfaces as a neighbor")
      // deleted rows free slots, they don't shrink the result: every
      // query still gets its full k from the live corpus
      assert(got.count() == 6 * 5, s"$name: deletion must not shrink top-k")
    }
    // the tombstone anti-join must not cost the probe its partition
    // pruning — the mask sits above the probe join, not below it
    assert(ivfAfter.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "delete must not break the DPP probe path")
    // re-appending a tombstoned id before compaction fails LOUD: its
    // stale physical rows would come back to life beside the new row
    val revived = emb.filter($"vec_id" === victims.head)
    assert(intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, ivfDir, revived)
    }.getMessage.contains("compact"))
    // compaction physically purges and clears the tombstone set
    val cIvf = java.nio.file.Files.createTempDirectory("ivf_del_c").toString
    val cPq = java.nio.file.Files.createTempDirectory("ivfpq_del_c").toString
    Similarity.compactIvfIndex(spark, ivfDir, cIvf)
    Similarity.compactIvfIndex(spark, pqDir, cPq)
    for (dir <- Seq(cIvf, cPq)) {
      assert(!new java.io.File(s"$dir/tombstones").exists(),
        "compaction must not carry tombstones into the new artifact")
      assert(spark.read.parquet(s"$dir/cells")
        .filter($"vec_id".isin(victims: _*)).count() == 0,
        "compaction must drop tombstoned rows physically")
    }
    assert(pairs(Similarity.ivfTopKFromSaved(spark, cIvf, queries, k = 5)) ==
      pairs(ivfAfter), "compacted artifact must probe identically to the masked view")
    assert(pairs(Similarity.ivfPqTopKFromSaved(spark, cPq, queries, k = 5)) ==
      pairs(pqAfter), "compacted IVFADC artifact must probe identically")
    // after compaction the id is free again: append succeeds and the
    // vector is retrievable (it reclaims the top-k slot it held before)
    Similarity.appendToIvfIndex(spark, cIvf, revived)
    val back = pairs(Similarity.ivfTopKFromSaved(spark, cIvf, queries, k = 5))
    assert(ivfBefore.filter(_._2 == victims.head).subsetOf(back),
      "a re-appended vector must reclaim its pre-delete neighbor slots")
    // deleting a whole artifact then compacting must leave a READABLE
    // empty artifact (schema-bearing file inside a partition dir), and
    // an append into it must restore normal service — not corrupt
    // partition discovery with a root-level file
    Similarity.deleteFromIndex(spark, cIvf, emb.select($"vec_id"))
    val cEmpty = java.nio.file.Files.createTempDirectory("ivf_del_empty").toString
    Similarity.compactIvfIndex(spark, cIvf, cEmpty)
    assert(Similarity.ivfTopKFromSaved(spark, cEmpty, queries, k = 5).count() == 0,
      "an all-tombstoned compacted artifact must probe empty, not crash")
    Similarity.appendToIvfIndex(spark, cEmpty, emb.filter($"vec_id" >= 100 && $"vec_id" < 200))
    val refilled = Similarity.ivfTopKFromSaved(spark, cEmpty, queries, k = 5)
    assert(refilled.count() == 6 * 5 &&
      refilled.collect().forall { r =>
        val n = r.getAs[Long]("neighbor_id"); n >= 100 && n < 200 },
      "append into an emptied artifact must restore normal probes")
    // the delete path itself fails loud on a non-artifact dir
    assert(intercept[IllegalArgumentException] {
      Similarity.deleteFromIndex(spark,
        java.nio.file.Files.createTempDirectory("not_an_index").toString,
        emb.select($"vec_id"))
    }.getMessage.contains("not a saved ANN artifact"))
  }

  test("deleteFromIndex refuses a dir whose centroids/ holds only crash orphans") {
    // a save that crashed mid-centroids leaves only write orphans there:
    // tombstones written beside it would mask ids of whatever is rebuilt
    val dir = java.nio.file.Files.createTempDirectory("ivf_crashed").toString
    val orphan = new java.io.File(s"$dir/centroids/_temporary/0")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(orphan.toPath.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    assert(intercept[IllegalArgumentException] {
      Similarity.deleteFromIndex(spark, dir, emb.select($"vec_id"))
    }.getMessage.contains("not a saved ANN artifact"))
    assert(!new java.io.File(s"$dir/tombstones").exists())
  }
}
