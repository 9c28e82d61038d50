package graft

import org.apache.spark.sql.functions._
import graft.functions.F
import graft.operators.Dedup

class DedupSpec extends SpecBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, SfDir).cache()

  /** Materialized (id, sh_set, sig) table at the operators' defaults. */
  private def sigsOf(df: org.apache.spark.sql.DataFrame) =
    Dedup.minhashSignatures(df, "doc_id", "text", k = 64, shingleWidth = 3)
      .transform(CheckpointRegistry.local(_, true))

  /** Brute-force shingle-set Jaccard pairs — the exact reference answer
    * in the same set space minhash estimates. */
  private def exactPairs(threshold: Double) = {
    val t = docs.select($"doc_id",
      array_distinct(Dedup.shingles(F.tokens($"text"), 3)).as("toks"))
    val a = t.select($"doc_id".as("id_a"), $"toks".as("ta"))
    val b = t.select($"doc_id".as("id_b"), $"toks".as("tb"))
    a.join(b, $"id_a" < $"id_b")
      .withColumn("j", size(array_intersect($"ta", $"tb")).cast("double") /
        size(array_union($"ta", $"tb")).cast("double"))
      .filter($"j" >= threshold)
      .select($"id_a", $"id_b")
  }

  test("minhashNearDups: every returned pair truly exceeds the threshold (precision = 1)") {
    val got = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.7).collect()
    assert(got.nonEmpty, "expected planted near-dups to be found")
    assert(got.forall(_.getAs[Double]("jaccard") >= 0.7))
  }

  test("minhashNearDups: recall against brute force is high") {
    val exact = exactPairs(0.8).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(exact.nonEmpty)
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall over ${exact.size} strong pairs")
  }

  test("simhashNearDups: finds all pairs within guaranteed hamming distance 3") {
    val sims = docs.select($"doc_id", Dedup.simhash64(F.tokens($"text")).as("sim"))
    val a = sims.select($"doc_id".as("id_a"), $"sim".as("sa"))
    val b = sims.select($"doc_id".as("id_b"), $"sim".as("sb"))
    val exact = a.join(b, $"id_a" < $"id_b")
      .withColumn("h", bit_count($"sa".bitwiseXOR($"sb")))
      .filter($"h" <= 3)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got == exact, s"pigeonhole blocking must have full recall at dist<=3 (got ${got.size}, exact ${exact.size})")
  }

  test("shingles fall back to whole doc when shorter than the window") {
    val df = Seq((1L, "a b")).toDF("id", "text")
    val out = df.select(Dedup.shingles(F.tokens($"text"), 3).as("sh")).head().getSeq[String](0)
    assert(out == Seq("a b"))
  }

  test("exactGroups keys on normalized text") {
    val df = Seq((1L, "hello  world"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exactGroups(df, $"text", $"doc_id").orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out.head.getAs[Long]("keep_id") == 1L && out.head.getAs[Long]("n_dups") == 2L)
  }

  test("MinHashSketch aggregate is bit-identical to the k-column min(xxhash64) form") {
    import org.apache.spark.sql.functions.{array, col, explode, lit, min, xxhash64}
    import graft.functions.expressions.MinHashSketch
    val k = 16
    val exploded = docs.limit(50)
      .select($"doc_id".as("id"), explode(Dedup.shingles(graft.functions.F.tokens($"text"), 3)).as("sh"))
      .select($"id", xxhash64($"sh").as("h"))
    val slotAggs = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i"))
    val columnForm = exploded.groupBy($"id").agg(slotAggs.head, slotAggs.tail: _*)
      .select($"id", array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sketchForm = exploded.groupBy($"id").agg(MinHashSketch($"h", k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sketchForm == columnForm)
  }

  test("scalar MinHashSig matches the explode+MinHashSketch aggregate form exactly") {
    import org.apache.spark.sql.functions.{array_sort, col, explode, xxhash64}
    import graft.functions.expressions.{MinHashSig, MinHashSketch, Shingles}
    val k = 16
    val base = docs.limit(60)
      .select($"doc_id".as("id"), Shingles(graft.functions.F.tokens($"text"), 3).as("sh"))
    // interpreted and codegen'd paths of the scalar expression
    val scalarForm = base.select($"id", MinHashSig($"sh", k).as("sig"),
        array_sort(org.apache.spark.sql.functions.array_distinct($"sh")).as("set"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[String](2)))).toMap
    val aggForm = base
      .select($"id", explode($"sh").as("sh"))
      .select($"id", $"sh", xxhash64($"sh").as("h"))
      .groupBy($"id")
      .agg(org.apache.spark.sql.functions.collect_set($"sh").as("set"),
        MinHashSketch($"h", k).as("sig"))
      .select($"id", $"sig", array_sort($"set").as("set"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[String](2)))).toMap
    assert(scalarForm == aggForm)
  }

  test("minhashSignatures is map-only (zero exchanges past the parallelism spread)") {
    val plan = Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3)
      .queryExecution.executedPlan.toString
    // exactly the one spread repartition; no aggregate exchange. r12:
    // the spread is the layout-adaptive keyed form (hash on the id, not
    // round-robin — no sortBeforeRepartition pre-pass, and a planner
    // no-op on many-split scans)
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1, plan.take(600))
    assert(plan.contains("hashpartitioning(doc_id"), plan.take(600))
    assert(!plan.toLowerCase.contains("aggregate"), plan.take(600))
    // shingling must run once per row: not duplicated into a pushed filter
    assert(plan.linesIterator.count(_.contains("shingles(")) == 1, plan.take(900))
  }

  test("scalar SimHashSig matches the explode+SimHashSketch aggregate form exactly") {
    import org.apache.spark.sql.functions.{explode, xxhash64}
    import graft.functions.expressions.{SimHashSig, SimHashSketch}
    val base = docs.limit(60)
      .select($"doc_id".as("id"), graft.functions.F.tokens($"text").as("toks"))
    val scalarForm = base.select($"id", SimHashSig($"toks").as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aggForm = base.select($"id", explode($"toks").as("t"))
      .select($"id", xxhash64($"t").as("h"))
      .groupBy($"id").agg(SimHashSketch($"h").as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scalarForm == aggForm)
    // map-only plan: one spread exchange, no aggregate
    val plan = Dedup.simhashes(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1, plan.take(600))
    assert(!plan.toLowerCase.contains("aggregate"), plan.take(600))
  }

  test("scalar signatures skip null array elements, matching the aggregates' null-row skip") {
    import graft.functions.expressions.{MinHashSig, SimHashSig}
    // the aggregate twins never see null rows from explode+xxhash64 of a
    // null element (xxhash64(null) is null and the sketch update skips it),
    // so the scalar forms must ignore null slots rather than NPE
    val withNulls = Seq(
      (1L, Seq("alpha", null, "beta", null)),
      (2L, Seq[String](null, null)),
      (3L, Seq("gamma"))
    ).toDF("id", "arr")
    val cleaned = Seq(
      (1L, Seq("alpha", "beta")),
      (2L, Seq.empty[String]),
      (3L, Seq("gamma"))
    ).toDF("id", "arr")
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", MinHashSig($"arr", 8).as("mh"), SimHashSig($"arr").as("sh"))
        .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2)))).toMap
    assert(sigs(withNulls) == sigs(cleaned))
  }

  test("SimHashSketch aggregate is bit-identical to the 64-column vote form") {
    import org.apache.spark.sql.functions._
    import graft.functions.expressions.SimHashSketch
    val exploded = docs.limit(50)
      .select($"doc_id".as("id"), explode(graft.functions.F.tokens($"text")).as("t"))
      .select($"id", xxhash64($"t").as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"v$j")
    }
    val sim = (0 until 64)
      .map(j => when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val columnForm = exploded.groupBy($"id").agg(votes.head, votes.tail: _*)
      .select($"id", sim.as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sketchForm = exploded.groupBy($"id").agg(SimHashSketch($"h").as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sketchForm == columnForm)
  }

  test("connectedComponents converges on a 512-node path (deep-diameter regime)") {
    // One-hop min propagation alone needs ~diameter rounds — a 512-chain
    // would blow any fixed cap and, pre-fix, silently returned wrong
    // labels while logging 'converged'. The periodic pointer-jump makes
    // the round count logarithmic; non-convergence now throws.
    // Bound 0 keeps the links off the driver union-find so the BSP loop
    // (and its pointer jump) is what converges.
    val n = 512L
    val ids = spark.range(1, n + 1).toDF("id")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (bound <- Seq(None, Some("0"))) withCcDriverBound(bound) {
      val got = Dedup.connectedComponents(ids, chain)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == (1L to n).map(i => i -> 1L).toMap,
        s"bound $bound mislabeled: ${got.filter(_._2 != 1L).take(5)}")
    }
  }

  test("connectedComponents degenerate inputs: no links, self-ish links, one big chain") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ids = spark.range(1, 11).toDF("id")
    // no links: every id is its own cluster (contracted graph is empty)
    val noLinks = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    val identity = Dedup.connectedComponents(ids, noLinks)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(identity == (1L to 10L).map(i => i -> i).toMap)
    // one long chain 1-2-3-...-10: worst diameter for min-propagation;
    // everything must still collapse to label 1
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chained = Dedup.connectedComponents(ids, chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chained == (1L to 10L).map(i => i -> 1L).toMap)
    // two separate cliques stay separate
    val cliques = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L), (8L, 9L), (7L, 9L))
      .toDF("id_a", "id_b")
    val two = Dedup.connectedComponents(ids, cliques)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two(1L) == 1L && two(2L) == 1L && two(3L) == 1L)
    assert(two(7L) == 7L && two(8L) == 7L && two(9L) == 7L)
    assert(two(5L) == 5L)
    // null endpoints are ignored, on the driver union-find and on the
    // distributed path alike: (-1,null) and (null,1) link nothing. Read
    // as a value (a Long ordering reads null as 0), a null would join
    // the -2 and 1 components through it.
    val signedIds = spark.range(-3, 4).toDF("id")
    val withNulls = Seq[(java.lang.Long, java.lang.Long)](
      (-2L, -1L), (-1L, null), (null, 1L), (1L, 2L)).toDF("id_a", "id_b")
    for (bound <- Seq(None, Some("0"))) withCcDriverBound(bound) {
      val got = Dedup.connectedComponents(signedIds, withNulls)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(-3L -> -3L, -2L -> -2L, -1L -> -2L, 0L -> 0L,
        1L -> 1L, 2L -> 1L, 3L -> 3L), s"bound $bound: $got")
    }
  }

  test("dedup composition (q67): CC over LSH star links == CC over all-pairs links at matched thresholds") {
    // Both inputs verify candidates with the same exact shingle Jaccard
    // over the same LSH buckets; both CC runs converge to the
    // component-min fixpoint, so partition equality === label equality.
    // The star path is the linear-work 100 TB composition; all-pairs is
    // the oracle-only gate (quadratic inside duplicate clusters).
    // Both CC solves run: the driver union-find of the raw links (default
    // bound) and the distributed contraction (0). This fixture contracts
    // to an empty residue; the residue solves are pinned by the 512-node
    // path here and the reliable-mode test in CheckpointRegistrySpec.
    val ids = docs.select($"doc_id".as("id"))
    for (bound <- Seq(None, Some("0")); th <- Seq(0.7, 0.9)) withCcDriverBound(bound) {
      val star = Dedup.minhashDedupLinks(docs, "doc_id", "text", threshold = th)
        .select($"id_a", $"id_b")
      val all = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = th)
        .select($"id_a", $"id_b")
      val starLinkCount = star.count()
      val allPairCount = all.count()
      assert(starLinkCount <= allPairCount,
        s"th=$th: star links ($starLinkCount) must be a subset-size of all pairs ($allPairCount)")
      val mismatched = Dedup.connectedComponents(ids, star).withColumnRenamed("label", "l_star")
        .join(Dedup.connectedComponents(ids, all).withColumnRenamed("label", "l_all"), "id")
        .filter($"l_star" =!= $"l_all")
      assert(mismatched.isEmpty,
        s"bound $bound, th=$th: star-link clusters diverge from all-pairs clusters: " +
          mismatched.head(3).mkString(", "))
    }
  }

  test("representative selection (q95): star-link composition keeps the same representatives as all-pairs") {
    // The q78/q95 pair mirrors q66/q67: the keep-one aggregate is shared,
    // only the edge source differs (all-pairs = oracle gate, star links =
    // 100 TB path). Cluster equality makes representative equality follow
    // — this pins the WHOLE composition (links → CC → min_by aggregate)
    // representative-for-representative at matched thresholds.
    val ids = docs.select($"doc_id".as("id"))
    val quality = docs.select($"doc_id".as("id"),
      graft.operators.TextAnalysis.qualityScore(F.tokens($"text")).as("quality"))
    def reps(links: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(ids, links)
        .withColumnRenamed("label", "cluster")
        .join(quality, "id")
        .groupBy($"cluster")
        .agg(
          min_by(struct($"id", $"quality"),
            struct((-$"quality").as("nq"), $"id")).as("r"),
          count(lit(1)).as("n_members"))
        .select($"cluster", $"r.id".as("keep_id"), $"n_members")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (bound <- Seq(None, Some("0")); th <- Seq(0.7, 0.9)) withCcDriverBound(bound) {
      val star = reps(Dedup.minhashDedupLinks(docs, "doc_id", "text", threshold = th)
        .select($"id_a", $"id_b"))
      val all = reps(Dedup.minhashNearDups(docs, "doc_id", "text", threshold = th)
        .select($"id_a", $"id_b"))
      assert(star == all,
        s"bound $bound, th=$th: star-only ${(star -- all).take(3)}, all-only ${(all -- star).take(3)}")
      assert(star.exists(_._3 > 1), s"th=$th: expected at least one multi-member cluster")
    }
  }

  test("incremental cluster maintenance (q130): monotone batch == full star recompute, label for label") {
    val all = docs.select($"doc_id", $"text")
    val cutoff = all.agg((floor(max($"doc_id") * 3L / 4L) + 1L).cast("long")).head().getLong(0)
    val oldDocs = all.filter($"doc_id" < cutoff)
    for (bound <- Seq(None, Some("0")); th <- Seq(0.7, 0.9)) withCcDriverBound(bound) {
      val labelsOld = Dedup.connectedComponents(
        oldDocs.select($"doc_id".as("id")),
        Dedup.minhashDedupLinks(oldDocs, "doc_id", "text", threshold = th)
          .select($"id_a", $"id_b"))
      val inc = Dedup.incrementalMinhashLabels(all.select($"doc_id".as("id")), sigsOf(all),
          cutoff, labelsOld, threshold = th)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = Dedup.connectedComponents(
        all.select($"doc_id".as("id")),
        Dedup.minhashDedupLinks(all, "doc_id", "text", threshold = th)
          .select($"id_a", $"id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(inc == full,
        s"bound $bound, th=$th: inc-only ${(inc -- full).take(3)}, full-only ${(full -- inc).take(3)}")
      // the batch genuinely merges across the boundary somewhere, or the
      // test proves nothing
      val mergedAcross = full.exists { case (id, label) => id >= cutoff && label < cutoff }
      assert(mergedAcross, s"th=$th: no new doc joined an old cluster; weak data")
    }
  }

  test("q130 takes the batch cutoff as a conf parameter, skipping the max-scan") {
    // The production hook for a ledger-watermark boundary is the
    // operator's firstNewId: called directly with the boundary q130's scan
    // derives, it must reproduce q130's registered output label for label.
    val byQuery = SparkEntry.queries("q130_incremental_clusters")(spark, SfDir)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster"))).toSet
    val all = docs.select($"doc_id", $"text")
    val cutoff = all.agg((floor(max($"doc_id") * 3L / 4L) + 1L).cast("long")).head().getLong(0)
    val oldDocs = all.filter($"doc_id" < cutoff)
    val labelsOld = Dedup.connectedComponents(
      oldDocs.select($"doc_id".as("id")),
      Dedup.minhashDedupLinks(oldDocs, "doc_id", "text", threshold = 0.9)
        .select($"id_a", $"id_b"))
    val byOperator = Dedup.incrementalMinhashLabels(all.select($"doc_id".as("id")), sigsOf(all),
        cutoff, labelsOld, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byOperator == byQuery,
      s"operator-only ${(byOperator -- byQuery).take(3)}, q130-only ${(byQuery -- byOperator).take(3)}")
  }

  test("incrementalMinhashLabels: a failing labelsOld rethrows only after the background link job ends") {
    val sigs = sigsOf(docs)
    // the link job's last step registers its checkpoint, so the count
    // shows whether that job had finished when the call returned
    val before = CheckpointRegistry.trackedCount
    val e = intercept[IllegalStateException] {
      Dedup.incrementalMinhashLabels(docs.select($"doc_id".as("id")), sigs, 375L,
        throw new IllegalStateException("previous labels unavailable"))
    }
    assert(e.getMessage == "previous labels unavailable")
    assert(CheckpointRegistry.trackedCount == before + 1, "the new-endpoint link job outlived the call")
  }

  test("starLinksFromSigs with firstNewId == the full star links filtered to new id_b") {
    // The incremental link stage adds one candidate predicate; bucket reps
    // still range over every signature, so its links are exactly the full
    // composition's links with a new endpoint (id_b), jaccard included.
    // Boundaries: q130's scan-derived cutoff, and an id that is itself a
    // link's id_b, so the boundary row is in play.
    val sigs = sigsOf(docs)
    val scanCutoff = docs.agg((floor(max($"doc_id") * 3L / 4L) + 1L).cast("long")).head().getLong(0)
    for (th <- Seq(0.7, 0.9)) {
      val all = Dedup.starLinksFromSigs(sigs, threshold = th)
      val idBs = all.select($"id_b").as[Long].collect().sorted
      for (c <- Seq(scanCutoff, idBs(idBs.length / 2))) {
        val inc = Dedup.starLinksFromSigs(sigs, threshold = th, firstNewId = Some(c))
          .collect().toSet
        val full = all.filter($"id_b" >= c).collect().toSet
        assert(inc == full,
          s"th=$th, c=$c: inc-only ${(inc -- full).take(3)}, full-only ${(full -- inc).take(3)}")
        assert(inc.nonEmpty, s"th=$th, c=$c: no link with a new endpoint; weak data")
      }
    }
  }

  test("duplicatePassages: exact coverage on a hand-built corpus (k=3)") {
    // d1 is the corpus-first for every shared passage; d2 embeds "b c d e"
    // mid-doc; d3 shares the 5-token prefix-overlap "b c d e f"; d4/d5 are
    // identical SHORT docs exercising the whole-doc fallback window.
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "x y b c d e z"), (3L, "b c d e f g"),
      (4L, "p q"), (5L, "p q")).toDF("doc_id", "text")
    val got = Dedup.duplicatePassages(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_windows"),
          r.getAs[Long]("dup_tokens"), r.getAs[Long]("kept_tokens"),
          r.getAs[Long]("dup_frac_1e4"))).toMap
    assert(got === Map(
      1L -> ((6L, 0L, 0L, 6L, 0L)),      // corpus-first: nothing marked
      2L -> ((7L, 2L, 4L, 3L, 5714L)),   // overlap-merged: 2 windows cover 4 tokens
      3L -> ((6L, 3L, 5L, 1L, 8333L)),   // 3 windows cover the 5-token run
      4L -> ((2L, 0L, 0L, 2L, 0L)),      // short-doc fallback, corpus-first
      5L -> ((2L, 1L, 2L, 0L, 10000L)))) // short exact dup: clamped to doc length
  }

  test("removeDuplicatePassages: cut text matches the hand corpus; counts agree with the report") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "x y b c d e z"), (3L, "b c d e f g"),
      (4L, "p q"), (5L, "p q")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatePassages(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("kept_tokens"), r.getAs[String]("kept_text"))).toMap
    assert(got === Map(
      1L -> ((6L, "a b c d e f")), // corpus-first copy survives untouched
      2L -> ((3L, "x y z")),       // the embedded "b c d e" run is cut
      3L -> ((1L, "g")),           // the 5-token shared prefix is cut
      4L -> ((2L, "p q")),
      5L -> ((0L, ""))))           // short exact dup vanishes entirely
    // on the real corpus, the mask and the merged-interval fold must
    // count the same positions
    val report = Dedup.duplicatePassages(docs, "doc_id", "text", k = 3)
      .select(col("id"), col("kept_tokens")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.forall { case (id, (kt, _)) => report(id) == kt })
    val corpus = Dedup.removeDuplicatePassages(Tables.documents(spark, SfDir), "doc_id", "text")
      .select(col("id"), col("kept_tokens")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val corpusReport = Dedup.duplicatePassages(Tables.documents(spark, SfDir), "doc_id", "text")
      .select(col("id"), col("kept_tokens")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(corpus == corpusReport)
  }

  test("passageMarked: the skew-routed form equals the window form in BOTH branches") {
    // Production routing: hot hashes resolve map-side against broadcast
    // firsts, cold hashes keep the window (AQE splits neither a window
    // partition nor a join whose build side passes through an
    // aggregate). Marking is routing-INVARIANT — pin the default (all
    // test hashes cold → gated window plan) AND a forced-hot run
    // (threshold 1, sample 1.0: every duplicated hash takes the hot
    // branch, singletons the cold) against the plain window encoding.
    for (k <- Seq(3, 13)) {
      val win = Dedup.passageMarkedWindow(docs, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val gated = Dedup.passageMarked(docs, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gated == win, s"k=$k: gated (cold) marking diverged from window form")
      val forcedHot = Dedup.passageMarked(docs, "doc_id", "text", k,
          hotThreshold = 1L, detectSample = 1.0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(forcedHot == win, s"k=$k: hot-branch marking diverged from window form")
      assert(win.nonEmpty, s"k=$k: no marked occurrences; weak data")
    }
    // a mid threshold routes SOME duplicated hashes hot and leaves the
    // rest cold — the union/split seam itself is pinned
    val win13 = Dedup.passageMarkedWindow(docs, "doc_id", "text", 13)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mixed = Dedup.passageMarked(docs, "doc_id", "text", 13,
        hotThreshold = 2L, detectSample = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mixed == win13, "mixed hot/cold routing diverged from window form")
  }

  test("joinPerHash: the hot broadcast branch delivers the same rows as the plain join") {
    // Force hotness (threshold 1: any hash with >1 occurrence is hot) on
    // a frame with a deliberate mega-key plus singletons; the delivered
    // (rows × per-hash payload) set must match the gated plain join.
    val wins = Seq(
      (Array[Byte](1), 1L, 1L), (Array[Byte](1), 2L, 1L), (Array[Byte](1), 3L, 2L),
      (Array[Byte](2), 4L, 1L), (Array[Byte](3), 5L, 1L), (Array[Byte](3), 6L, 1L)
    ).toDF("h", "id", "pos")
    val perHash = wins.groupBy($"h")
      .agg(min(struct($"id", $"pos")).as("first"), count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(hex($"h").as("hb"), $"id", $"pos", $"first.id".as("fid"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val plain = rows(Dedup.joinPerHash(wins, perHash, "cnt")) // all cold at 100k
    val forced = rows(Dedup.joinPerHash(wins, perHash, "cnt", hotThreshold = 1L))
    assert(plain == forced, "hot/cold joinPerHash diverged from the plain join")
    assert(plain.size == 6)
  }

  test("duplicatePassages: per-doc accounting is conserved on the real corpus") {
    val r = Dedup.duplicatePassages(docs, "doc_id", "text").collect()
    assert(r.length == docs.count())
    r.foreach { row =>
      val (n, dw, dt, kt) = (row.getAs[Long]("n_tokens"),
        row.getAs[Long]("dup_windows"), row.getAs[Long]("dup_tokens"),
        row.getAs[Long]("kept_tokens"))
      assert(n == dt + kt, s"doc ${row.getAs[Long]("id")}: $n != $dt + $kt")
      assert((dw > 0) == (dt > 0))
      assert(dt <= n && dt >= 0)
    }
    // the generator plants cross-doc duplicate passages at every SF
    assert(r.count(_.getAs[Long]("dup_windows") > 0) > 0)
  }
}
