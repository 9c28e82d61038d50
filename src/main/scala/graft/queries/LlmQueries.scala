package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.F
import graft.operators.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** SURVEY.md §2.C — LLM-training-data pipeline operators over the
  * `documents` and `embeddings` tables. Oracle-checked where the semantics
  * are SQL-expressible; hash-seeded sketches (minhash/simhash/LSH/rolling
  * hash) are rows-only here and exactly verified in ScalaTest.
  */
object LlmQueries {

  private val stop = TextAnalysis.EnglishStopwords
  private def stopList = stop.map(s => s"'$s'").mkString(", ")

  /** Shared oracle CTE chain for the dedup-cluster family (q66/q78):
    * token sets -> banded jaccard pairs (0.9) -> recursive-CTE transitive
    * closure -> `lab(id, cluster)`. The component-min fixpoint is
    * engine-independent, so the iterative Spark CC and this recursive
    * form hash-match exactly. */
  private val dedupClusterCtes =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, lang,
      |    list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS toks
      |  FROM documents
      |), pairs AS (
      |  SELECT * FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |      round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |            len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
      |    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |      AND len(a.toks) * 10 >= len(b.toks) * 9 AND len(b.toks) * 10 >= len(a.toks) * 9
      |  ) WHERE jaccard >= 0.9
      |), edges AS (
      |  SELECT id_a AS u, id_b AS v FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), reach(id, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.id
      |), lab AS (
      |  SELECT id, min(label) AS cluster FROM reach GROUP BY id
      |)""".stripMargin

  /** Spark side of the same chain: (id, cluster) for every document. */
  private def dedupClusters(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "lang", "text", threshold = 0.9)
      .select(col("id_a"), col("id_b"))
    Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
      .withColumn("cluster", col("label")).drop("label")
  }

  /** (id, quality) on the RAW q29 token definition — shared by both
    * representative-selection realizations (q78 oracle gate, q95 scale). */
  private def docQuality(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .select(col("doc_id").as("id"),
        TextAnalysis.qualityScore(F.tokens(col("text"))).as("quality"))

  /** The keep-one aggregate both q78 and q95 run over their cluster
    * assignment: ONE min_by-struct pass per cluster — max quality, ties
    * to min id — carrying the member count in the same pass. Edge source
    * is the caller's choice; the aggregate itself is edge-agnostic. */
  private def clusterRepresentatives(
      clusters: org.apache.spark.sql.DataFrame,
      quality: org.apache.spark.sql.DataFrame) =
    clusters.join(quality, "id")
      .groupBy(col("cluster"))
      .agg(
        min_by(struct(col("id"), col("quality")),
          struct((-col("quality")).as("nq"), col("id"))).as("__r"),
        count(lit(1)).cast("long").as("n_members"))
      .select(col("cluster"), col("__r.id").as("keep_id"),
        col("__r.quality").as("quality"), col("n_members"))

  /** q59's oracle machinery, parametrized on the cosine threshold so the
    * multi-signal clustering (q90) reuses the identical replay: the SAME
    * seeded plane literals and left-fold order as the Spark side (F.dot
    * is a left fold over index order; list_reduce over a prepended 0.0
    * matches it term for term). Returns the bucket/pair CTEs; callers
    * append their own final select over `sem(id_a, id_b, cos)`. */
  private[queries] def cosineNearDupCtes(threshold: Double): String = {
    def fold(products: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $products), (x, y) -> x + y)"
    def planeDot(plane: Array[Double]) =
      fold(s"list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ([${plane.mkString(", ")}])[i])")
    val planes = graft.operators.Similarity.hyperplanes(64, 4)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${planeDot(p)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val selfDot = fold(
      "list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))")
    val pairDot = fold(
      "list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))")
    s"""bk AS (
       |  SELECT vec_id, embedding, $bucket AS bucket, $selfDot AS n2
       |  FROM embeddings
       |), sem AS (
       |  SELECT id_a, id_b, cos FROM (
       |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |      round($pairDot / (sqrt(a.n2) * sqrt(b.n2)), 4) AS cos
       |    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  ) WHERE cos >= $threshold
       |)""".stripMargin
  }

  private lazy val cosineNearDupOracle: String =
    s"""WITH ${cosineNearDupCtes(0.2)}
       |SELECT id_a, id_b, cos FROM sem
       |""".stripMargin

  /** q161's oracle: the SemDeDup chain over the given `label` clusters.
    * Same fold replay as q59 (prepend-0.0 list_reduce ≡ ArrayDot's
    * index-order left fold), same rounded-avg centroid agreement as q77,
    * same recursive-CTE closure as q66/q90; keep = row 1 under the
    * (cos_to_centroid, id) total order. */
  private lazy val semDedupOracle: String = {
    def fold(products: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $products), (x, y) -> x + y)"
    val selfDot = fold(
      "list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))")
    val pairDot = fold(
      "list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))")
    val centDot = fold(
      "list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * c.centroid[i])")
    val c2 = fold("list_transform(centroid, x -> x * x)")
    s"""WITH RECURSIVE base AS (
       |  SELECT vec_id AS id, CAST(label AS BIGINT) AS cluster, embedding,
       |    $selfDot AS n2
       |  FROM embeddings
       |), cent AS (
       |  SELECT cluster, pos, round(avg(v) * 10000, 0) / 10000 AS c
       |  FROM (
       |    SELECT cluster, unnest(CAST(embedding AS DOUBLE[])) AS v,
       |           generate_subscripts(embedding, 1) AS pos
       |    FROM base
       |  ) GROUP BY cluster, pos
       |), cvec AS (
       |  SELECT cluster, centroid, $c2 AS c2 FROM (
       |    SELECT cluster, list(c ORDER BY pos) AS centroid FROM cent GROUP BY cluster
       |  )
       |), scored AS (
       |  SELECT b.id, b.cluster,
       |    round($centDot / (sqrt(b.n2) * sqrt(c.c2)), 4) AS cos_c
       |  FROM base b JOIN cvec c USING (cluster)
       |), pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.id AS id_a, b.id AS id_b,
       |      round($pairDot / (sqrt(a.n2) * sqrt(b.n2)), 4) AS cos
       |    FROM base a JOIN base b ON a.cluster = b.cluster AND a.id < b.id
       |  ) WHERE cos >= 0.3
       |), edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |), reach(id, label) AS (
       |  SELECT id, id FROM base
       |  UNION
       |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.id
       |), lab AS (
       |  SELECT id, min(label) AS grp FROM reach GROUP BY id
       |)
       |SELECT s.id, s.cluster, l.grp,
       |  CAST(COUNT(*) OVER (PARTITION BY l.grp) AS BIGINT) AS n_dup,
       |  (row_number() OVER (PARTITION BY l.grp ORDER BY s.cos_c, s.id)) = 1 AS keep
       |FROM scored s JOIN lab l ON s.id = l.id
       |""".stripMargin
  }

  /** Spark side of the same pair discovery, parametrized on threshold. */
  private[queries] def cosineNearDupPairs(
      s: org.apache.spark.sql.SparkSession, dir: String, threshold: Double) = {
    val emb = Tables.embeddings(s, dir)
    // norms precompute per VECTOR (like the oracle's n2) so the pair
    // loop evaluates one native dot, not three folds
    val bucketed = emb.select(
      col("vec_id"), col("embedding"),
      Similarity.hyperplaneBucket(col("embedding"), dim = 64, nPlanes = 4).as("bucket"),
      F.dot(col("embedding"), col("embedding")).as("n2"))
    val a = bucketed.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("n2").as("n2_a"))
    val b = bucketed.select(col("bucket").as("bucket_b"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("n2").as("n2_b"))
    a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .withColumn("cos", round(
        F.dot(col("emb_a"), col("emb_b")) / (sqrt(col("n2_a")) * sqrt(col("n2_b"))), 4))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // q22: exact dedup via content hash (hash-groupBy; the shuffle carries
    // 16-byte hashes, not document bodies).
    "q22_exact_dedup" -> QueryDef.of(
      """SELECT text_hash, min(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM (SELECT doc_id, md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS text_hash FROM documents)
        |GROUP BY text_hash""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), col("text"), col("doc_id"))
    },

    // q166: duplicate-PASSAGE removal report — the exact-substring dedup
    // member (Lee et al. 2022 ExactSubstr, distributed as fixed-k window
    // hashing; k=13 ≈ the paper's 50-BPE-token span on this corpus's
    // short words). One window-hash shuffle (wire = (md5, id, pos)) +
    // a sample-priced hot-hash detection pass + one per-doc fold; the
    // keep-first choice is the min (id, pos) TOTAL order — hot/cold
    // routed so a web-scale boilerplate mega-key never serializes in
    // one window task (Dedup.passageMarked, lesson 49; the oracle's
    // row_number encoding computes the identical set, DedupSpec-pinned)
    // — and the coverage math is pure integer (min(k, gap) over sorted
    // starts + k, clamped to doc length), so every column crosses the
    // oracle gate bit-exactly. The corpus has planted cross-doc
    // duplicate passages — 23 docs flagged at sf0.01, from partial
    // spans (dup_frac 9583) to full copies (10000).
    "q166_passage_dedup" -> QueryDef.of(
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    CASE WHEN len(toks) < 13 THEN [md5(array_to_string(toks, ' '))]
        |         ELSE list_transform(range(1, len(toks) - 11), i -> md5(array_to_string(toks[i:i+12], ' ')))
        |    END AS grams
        |  FROM t
        |), w AS (
        |  SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS pos, grams[i] AS h
        |  FROM g CROSS JOIN LATERAL unnest(range(1, len(grams) + 1)) u(i)
        |), c AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM w
        |), d AS (
        |  SELECT doc_id, list_sort(list(pos)) AS starts, COUNT(*) AS m
        |  FROM c WHERE rn > 1 GROUP BY doc_id
        |), cov AS (
        |  SELECT doc_id, m,
        |    13 + coalesce(list_sum(list_transform(range(1, m), j -> least(13, starts[j+1] - starts[j]))), 0) AS rawcov
        |  FROM d
        |)
        |SELECT g.doc_id, CAST(g.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(cov.m, 0) AS BIGINT) AS dup_windows,
        |  CAST(least(coalesce(cov.rawcov, 0), g.n_tokens) AS BIGINT) AS dup_tokens,
        |  CAST(g.n_tokens - least(coalesce(cov.rawcov, 0), g.n_tokens) AS BIGINT) AS kept_tokens,
        |  CAST((least(coalesce(cov.rawcov, 0), g.n_tokens) * 10000) // g.n_tokens AS BIGINT) AS dup_frac_1e4
        |FROM g LEFT JOIN cov USING (doc_id)""".stripMargin) { (s, dir) =>
      Dedup.duplicatePassages(Tables.documents(s, dir), "doc_id", "text", k = 13)
        .withColumnRenamed("id", "doc_id")
    },

    // q168: the REMOVE step over q166's marking — re-emit each document
    // with every marked duplicated window's tokens cut (the corpus-first
    // copy survives), the actionable terminal of the ExactSubstr pass.
    // Same hot/cold-routed marking as q166; the mask is a pure per-row
    // exists() over the doc's own marked starts and the text rebuild is
    // map-side. kept_tokens ≡ q166's n_tokens − coverage by construction
    // (mask and merged-interval fold count the same positions) — the two
    // encodings cross-pin each other through the gate.
    "q168_passage_removal" -> QueryDef.of(
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 13 THEN [md5(array_to_string(toks, ' '))]
        |         ELSE list_transform(range(1, len(toks) - 11), i -> md5(array_to_string(toks[i:i+12], ' ')))
        |    END AS grams
        |  FROM t
        |), w AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, grams[i] AS h
        |  FROM g CROSS JOIN LATERAL unnest(range(1, len(grams) + 1)) u(i)
        |), c AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM w
        |), d AS (
        |  SELECT doc_id, list_sort(list(pos)) AS starts
        |  FROM c WHERE rn > 1 GROUP BY doc_id
        |), m AS (
        |  SELECT g.doc_id, g.toks,
        |    list_filter(g.toks, (x, i) ->
        |      len(list_filter(coalesce(d.starts, []), s -> i >= s AND i < s + 13)) = 0) AS kept
        |  FROM g LEFT JOIN d USING (doc_id)
        |)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(kept) AS BIGINT) AS kept_tokens,
        |  coalesce(array_to_string(kept, ' '), '') AS kept_text
        |FROM m""".stripMargin) { (s, dir) =>
      Dedup.removeDuplicatePassages(Tables.documents(s, dir), "doc_id", "text", k = 13)
        .withColumnRenamed("id", "doc_id")
    },

    // q23: MinHash+LSH dedup links (star-to-representative: linear in
    // bucket size — the only shape that survives self-similar corpora at
    // 100 TB), verified with exact shingle Jaccard. Rows-only (seeded
    // xxhash64 signatures aren't SQL-portable); the Jaccard-verification
    // stage is itself oracle-covered by q25, and all-pairs recall is
    // spec-checked at small scale via minhashNearDups.
    "q23_minhash" -> QueryDef.rowsOnly { (s, dir) =>
      Dedup.minhashDedupLinks(Tables.documents(s, dir), "doc_id", "text", threshold = 0.7)
    },

    // q24: SimHash dedup links (same star pattern over 16-bit blocks).
    // Rows-only for the same seeded-hash reason.
    "q24_simhash" -> QueryDef.rowsOnly { (s, dir) =>
      Dedup.simhashDedupLinks(Tables.documents(s, dir), "doc_id", "text", maxDist = 16)
    },

    // q179: the MinHash-LSH banding MECHANISM under the DuckDB oracle —
    // q23's chain (shingle → minhash signature → band → bucket star
    // links → jaccard verify) with the portable md5-32 hash in place of
    // the seeded xxhash64, so every stage triple-matches: 8 salted
    // min-hashes fold in ONE partial-combined aggregate over the
    // exploded shingles (lesson 47 — hash as a codegen'd scalar after
    // the generator, never a per-row HOF), 4 two-row bands key on the
    // md5 of the concatenated minima, bucket reps deliver via the
    // agg-join-back (lesson 49 — never a min window over a mega-bucket),
    // and the candidate pairs verify jaccard ≥ 0.7 over the distinct
    // shingle sets exactly like q25. q23's 64-hash/16-band xxhash64
    // form stays the production posture (wider signature, cheaper
    // hash); this gate pins the banding algebra itself.
    "q179_minhash_band_md5" -> QueryDef.of(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' ')) END) AS shs
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks FROM documents)
        |), sig AS (
        |  SELECT doc_id, shs,
        |    list_min(list_transform(shs, s -> CAST(('0x' || substr(md5('0:' || s), 1, 8)) AS BIGINT))) AS h0,
        |    list_min(list_transform(shs, s -> CAST(('0x' || substr(md5('1:' || s), 1, 8)) AS BIGINT))) AS h1,
        |    list_min(list_transform(shs, s -> CAST(('0x' || substr(md5('2:' || s), 1, 8)) AS BIGINT))) AS h2,
        |    list_min(list_transform(shs, s -> CAST(('0x' || substr(md5('3:' || s), 1, 8)) AS BIGINT))) AS h3,
        |    list_min(list_transform(shs, s -> CAST(('0x' || substr(md5('4:' || s), 1, 8)) AS BIGINT))) AS h4,
        |    list_min(list_transform(shs, s -> CAST(('0x' || substr(md5('5:' || s), 1, 8)) AS BIGINT))) AS h5,
        |    list_min(list_transform(shs, s -> CAST(('0x' || substr(md5('6:' || s), 1, 8)) AS BIGINT))) AS h6,
        |    list_min(list_transform(shs, s -> CAST(('0x' || substr(md5('7:' || s), 1, 8)) AS BIGINT))) AS h7
        |  FROM t
        |), bands AS (
        |  SELECT doc_id, 0 AS bi, md5(CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)) AS bk FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR)) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(CAST(h4 AS VARCHAR) || ':' || CAST(h5 AS VARCHAR)) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(CAST(h6 AS VARCHAR) || ':' || CAST(h7 AS VARCHAR)) FROM sig
        |), reps AS (
        |  SELECT bi, bk, min(doc_id) AS rep FROM bands GROUP BY bi, bk
        |), cand AS (
        |  SELECT DISTINCT rep AS id_a, doc_id AS id_b
        |  FROM bands JOIN reps USING (bi, bk) WHERE rep < doc_id
        |), ver AS (
        |  SELECT id_a, id_b,
        |    round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.shs, b.shs))), 4) AS j
        |  FROM cand JOIN t a ON a.doc_id = cand.id_a JOIN t b ON b.doc_id = cand.id_b
        |)
        |SELECT id_a, id_b, CAST(round(j * 10000) AS BIGINT) AS j_1e4 FROM ver WHERE j >= 0.7
        |""".stripMargin) { (s, dir) =>
      // r11: ONE materialized shingle pass and ONE salted-md5 signature
      // pass. Unmaterialized, `t` fed three plan arms (banding + both
      // verify joins) and the md5 aggregate fed two (reps + probe) —
      // ProfWall showed the 1.5 s single-task signature stage TWICE per
      // run. The spread fires before the shingle projection (so the
      // checkpoint stage itself is 32-way), and checkpointing `t` keeps
      // the generate-inferred size/isnotnull filter from re-deriving the
      // shingle chain below the exchange (the q75 pushdown trap).
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .transform(graft.operators.Relational.spreadForCompute(_, col("doc_id")))
        .select(col("doc_id"),
          array_distinct(Dedup.shingles(F.tokens(col("text")), 3)).as("shs"))
        .transform(graft.CheckpointRegistry.local(_, false))
      val ex = t.select(col("doc_id"), explode(col("shs")).as("sh"))
      val mins = (0 until 8).map(i =>
        min(Sampling.docHash32(concat(lit(s"$i:"), col("sh")))).as(s"h$i"))
      val sig = ex.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
        .transform(graft.CheckpointRegistry.local(_, false))
      val bandStructs = (0 until 4).map { b =>
        struct(lit(b).as("bi"),
          md5(concat_ws(":", col(s"h${2 * b}").cast("string"),
            col(s"h${2 * b + 1}").cast("string"))).as("bk"))
      }
      val banded = sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
        .select(col("doc_id"), col("b.bi").as("bi"), col("b.bk").as("bk"))
      val reps = banded.groupBy(col("bi"), col("bk")).agg(min(col("doc_id")).as("rep"))
      banded.join(reps, Seq("bi", "bk"))
        .filter(col("rep") < col("doc_id"))
        .select(col("rep").as("id_a"), col("doc_id").as("id_b")).distinct()
        .join(t.select(col("doc_id").as("id_a"), col("shs").as("sa")), "id_a")
        .join(t.select(col("doc_id").as("id_b"), col("shs").as("sb")), "id_b")
        .select(col("id_a"), col("id_b"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))), 4).as("j"))
        .filter(col("j") >= 0.7)
        .select(col("id_a"), col("id_b"),
          round(col("j") * 10000).cast("long").as("j_1e4"))
    },

    // q25: token-set Jaccard similarity pairs, blocked on lang (the
    // blocking key bounds each comparison group at scale) with an exact
    // size prune in the join condition: jaccard >= 0.6 forces
    // min(|A|,|B|) >= 0.6*max(|A|,|B|), so the integer size check rejects
    // pairs before any array work — identical logic on both engines.
    "q25_ngram_jaccard" -> QueryDef.of(
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS toks
        |  FROM documents
        |)
        |SELECT * FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |    AND len(a.toks) * 10 >= len(b.toks) * 6 AND len(b.toks) * 10 >= len(a.toks) * 6
        |) WHERE jaccard >= 0.6
        |""".stripMargin) { (s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "lang", "text", threshold = 0.6)
    },

    // q66: dedup CLUSTER ASSIGNMENT — connected components over the
    // oracle-verified q25 jaccard pairs (min-label propagation to the
    // unique fixpoint; see Dedup.connectedComponents). The keep-one
    // decision in a dedup pipeline needs the transitive cluster, not just
    // pairwise links; the reference folds duplicate groups through
    // driver dicts (to_dp.py:237), which cannot hold corpus-scale ids.
    // DuckDB replays the fixpoint with a recursive CTE — the component
    // min is engine-independent, so the iterative and recursive forms
    // hash-match exactly.
    "q66_dedup_clusters" -> QueryDef.of(
      s"""$dedupClusterCtes
        |SELECT id, cluster,
        |  CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members
        |FROM lab
        |""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      dedupClusters(s, dir)
        .transform(Dedup.withMemberCounts(_))
    },

    // q135: dedup CLUSTER-SIZE statistics — the monitoring report a
    // production dedup publishes every sync: how many clusters at each
    // size, how much of the corpus sits in them, and the giant-component
    // guard (the '9+' bucket's share is the alarm metric — boilerplate
    // or a bad threshold connects everything into one cluster long
    // before anyone reads the labels themselves). Shares integerize
    // before normalizing (lesson 27) via a window over the ≤5 bucket
    // rows (single-partition is safe: bounded by the bucket count, not
    // data). Runs over the ORACLE-GATE chain (all-pairs + recursive-CTE
    // CC, q66's posture); the production run reads q67/q95's star-link
    // labels, whose label-for-label equality DedupSpec already pins.
    "q135_cluster_stats" -> QueryDef.of(
      s"""$dedupClusterCtes,
        |cs AS (
        |  SELECT cluster, COUNT(*) AS n FROM lab GROUP BY cluster
        |)
        |SELECT CASE WHEN n = 1 THEN '1' WHEN n = 2 THEN '2'
        |            WHEN n <= 4 THEN '3-4' WHEN n <= 8 THEN '5-8'
        |            ELSE '9+' END AS size_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(n) AS BIGINT) AS n_docs,
        |  CAST(MAX(n) AS BIGINT) AS max_size,
        |  CAST((SUM(n) * 1000000) // (SUM(SUM(n)) OVER ()) AS BIGINT) AS share_1e6
        |FROM cs GROUP BY 1
        |""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cs = dedupClusters(s, dir)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      val bucket = when(col("n") === 1, "1").when(col("n") === 2, "2")
        .when(col("n") <= 4, "3-4").when(col("n") <= 8, "5-8").otherwise("9+")
      cs.groupBy(bucket.as("size_bucket"))
        .agg(count(lit(1)).cast("long").as("n_clusters"),
          sum(col("n")).cast("long").as("n_docs"),
          max(col("n")).cast("long").as("max_size"))
        .withColumn("__total", sum(col("n_docs")).over(Window.partitionBy()))
        // integer DIV on both engines — a double quotient's rounding can
        // cross an integer boundary right where floor/truncate diverge
        .withColumn("share_1e6", expr("CAST((n_docs * 1000000) DIV __total AS BIGINT)"))
        .drop("__total")
    },

    // q78: cluster REPRESENTATIVE selection — the keep-one decision that
    // consumes q66's clusters: keep the highest-quality member (tie: min
    // id), the policy a curation pipeline actually wants (the reference's
    // merge keeps first-seen; quality-ranked keep is its corpus-scale
    // upgrade). One max_by-struct aggregate per cluster; quality is the
    // verified q29 kernel.
    "q78_cluster_representatives" -> QueryDef.of(
      s"""$dedupClusterCtes,
        |q AS (
        |  -- RAW tokens (q29's definition), NOT the dedup chain's
        |  -- list_distinct'd sets — stopword ratios differ over sets
        |  SELECT doc_id,
        |    (CAST(len(list_filter(toks2, x -> x IN ($stopList))) AS DOUBLE) / len(toks2)) * 0.5
        |      + (CAST(least(len(toks2), 100) AS DOUBLE) / 100.0) * 0.5 AS quality
        |  FROM (
        |    SELECT doc_id,
        |      string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks2
        |    FROM documents
        |  )
        |)
        |SELECT cluster, keep_id, quality, n_members FROM (
        |  SELECT lab.cluster, lab.id AS keep_id, round(q.quality, 4) AS quality,
        |    CAST(COUNT(*) OVER (PARTITION BY lab.cluster) AS BIGINT) AS n_members,
        |    row_number() OVER (PARTITION BY lab.cluster
        |      ORDER BY round(q.quality, 4) DESC, lab.id) AS rn
        |  FROM lab JOIN q ON lab.id = q.doc_id
        |)
        |WHERE rn = 1
        |""".stripMargin) { (s, dir) =>
      // ONE aggregate carries both the representative (min_by over
      // (-quality, id): max quality, ties to min id) and the member
      // count. The CC labels are eagerly checkpointed, so plan arms
      // would share them — but a separate sizes arm still costs a second
      // shuffle over the members plus a join; one pass does neither.
      // Edge source here is the ALL-PAIRS chain — the oracle gate only
      // (a recursive CTE can replay it); the production composition over
      // LSH star links is q95.
      clusterRepresentatives(dedupClusters(s, dir), docQuality(s, dir))
    },

    // q95: cluster-representative selection AT SCALE — the same keep-one
    // aggregate as q78 composed over q67's LSH STAR links (linear edge
    // volume per band bucket) instead of q78's all-pairs discovery
    // (quadratic inside duplicate clusters; at 100 TB with self-similar
    // corpora only the star form finishes). Rows-only for the same
    // seeded-minhash reason as q67; DedupSpec pins representative-for-
    // representative equality of the two compositions at matched
    // thresholds, and q78's hash gate covers the aggregate itself.
    "q95_representatives_lsh" -> QueryDef.rowsOnly { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val links = Dedup.minhashDedupLinks(docs, "doc_id", "text", threshold = 0.9)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.connectedComponents(docs.select(col("doc_id").as("id")), links)
        .withColumn("cluster", col("label")).drop("label")
      clusterRepresentatives(clusters, docQuality(s, dir))
    },

    // q67: the 100 TB dedup composition — connected components over q23's
    // LSH STAR links (linear work per band bucket) instead of q66's
    // all-pairs edge list (quadratic inside duplicate clusters; q66 stays
    // as the oracle gate only, since all-pairs is what a recursive CTE
    // can replay). Rows-only for the same seeded-hash reason as q23;
    // DedupSpec asserts the star-link path produces EXACTLY the clusters
    // of the all-pairs path at matched thresholds (label-for-label — both
    // converge to the component-min fixpoint).
    "q67_dedup_clusters_lsh" -> QueryDef.rowsOnly { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val links = Dedup.minhashDedupLinks(docs, "doc_id", "text", threshold = 0.9)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(docs.select(col("doc_id").as("id")), links)
        .withColumn("cluster", col("label")).drop("label")
        .transform(Dedup.withMemberCounts(_))
    },

    // q26: brute-force cosine top-k ANN baseline (query side broadcast;
    // double-precision dot products summed in array order on both engines).
    "q26_cosine_topk" -> QueryDef.of(
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    round(list_dot_product(q_emb, c_emb) /
        |          (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos
        |  FROM q JOIN c ON query_id <> neighbor_id
        |)
        |SELECT query_id, rk, neighbor_id, cos FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
        |  FROM scored
        |) WHERE rk <= 5""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    },

    // q27: LSH-bucketed ANN — the 100 TB path (per-bucket top-k instead of
    // a cross join). Approximate by construction -> rows-only; ScalaTest
    // checks recall against the q26 baseline.
    "q27_lsh_ann" -> QueryDef.rowsOnly { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.lshAnnTopK(emb, emb.filter(col("vec_id") < 10), dim = 64, k = 5)
    },

    // q40: IVF ANN — the billion-scale layout (coarse k-means cells,
    // nProbe-cell search). Approximate + iterative trainer -> rows-only;
    // ScalaTest checks recall against the q26 brute-force baseline.
    "q40_ivf_ann" -> QueryDef.rowsOnly { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    },

    // q152: PQ ANN with exact re-rank — the billion-scale MEMORY layout
    // (Jégou et al. TPAMI'11) completing the ANN family: q26 exact /
    // q27 LSH buckets / q40 IVF cells / q152 product-quantized codes.
    // 16 subspaces × 64 centroids: 64 floats → 16 code bytes (16×);
    // the corpus-sized pass scores candidates with 16 table LOOKUPS
    // through the codegen'd PqAdcScore kernel (zero float math), then
    // only the k·8 shortlist rows fetch raw embeddings for the exact
    // cosine re-rank (the production ADC+rerank composition — measured
    // recall@5 0.98 vs the q26 baseline at this config; the pure-ADC
    // shortlist alone reads 0.2-0.44 on these near-random vectors,
    // probed across 6 configs before pinning this one). Approximate +
    // iterative trainer -> rows-only; SimilaritySpec pins recall, code
    // shape, determinism, and the lookup-kernel arithmetic against an
    // exact Scala replay.
    "q152_pq_ann" -> QueryDef.rowsOnly { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), dim = 64, k = 5,
        m = 16, ks = 64, rerank = 8, trainMod = 2)
    },

    // q153: IVFADC — the FULL Jégou et al. composition closing the ANN
    // ladder: q40's coarse cells prune the candidate set (a query
    // touches nProbe/nLists of the codes), q152's ADC kernel scores only
    // the probed cells' 16-byte codes, the exact re-rank closes. The two
    // indexes are the same memoized build-once artifacts q40/q152 train —
    // one coarse quantizer + one codebook serve every composition.
    // Rows-only (iterative trainers); SimilaritySpec pins recall vs q26,
    // the cell-containment property (every emitted neighbor sits in one
    // of its query's probed cells), and rerun determinism.
    "q153_ivfpq_ann" -> QueryDef.rowsOnly { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), dim = 64, k = 5,
        nLists = 8, nProbe = 3, m = 16, ks = 64, rerank = 8, trainMod = 2)
    },

    // q119: CLUSTER-BALANCED draw — the diversity-sampling step of an
    // eval-set/curation pipeline: partition the corpus semantically
    // (the SAME coarse k-means quantizer q40's IVF index already
    // maintains — one trained model serves both ANN search and
    // diversity sampling, the index-lifecycle point) and cap the draw
    // per cluster, so no semantic region dominates the sample no matter
    // how skewed the corpus is. Per-cluster winners are the salted-hash
    // bottom-k (rerun-deterministic, mergeable — ≤cap ids per cluster
    // per partition reach the exchange). Rows-only: k-means centroids
    // are float-iterative; SimilaritySpec pins determinism, cover,
    // cap arithmetic, and kept-ids membership.
    "q119_cluster_balance" -> QueryDef.rowsOnly { (s, dir) =>
      import graft.functions.expressions.BottomKSample
      import graft.operators.Sampling
      val cap = 16
      val assigned = Similarity.ivfIndex(Tables.embeddings(s, dir)).assigned
      assigned
        .groupBy(col("cell"))
        .agg(count(lit(1)).cast("long").as("n_members"),
          BottomKSample(Sampling.saltedHash32(col("vec_id"), "balance"),
            col("vec_id"), cap).as("smp"))
        .select(col("cell").cast("long").as("cluster"), col("n_members"),
          least(col("n_members"), lit(cap.toLong)).as("n_kept"),
          expr("array_join(transform(smp, x -> x.id), ',')").as("kept_ids"))
    },

    // q176: the q119 DRAW kernel under the DuckDB oracle — cluster-capped
    // balanced sampling over FIXED cluster labels (the embeddings
    // table's own `label` column, q161's "given labels" posture). q119
    // stays rows-only because its cells come from float-iterative
    // k-means (not replayable); everything ELSE q119 does — counts,
    // caps, the salted-hash bottom-k draw — triple-matches here: the
    // md5-32 key and the (hash, id) total order replay in SQL, so the
    // winner SET and its ORDER both gate. Same mergeable BottomKSample
    // aggregate: ≤ cap ids per cluster per input partition reach the
    // exchange, at any skew.
    "q176_cluster_balance_draw" -> QueryDef.of(
      """WITH h AS (
        |  SELECT CAST(label AS BIGINT) AS cluster, vec_id,
        |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':balance'), 1, 8)) AS BIGINT) AS hk
        |  FROM embeddings
        |)
        |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  least(CAST(COUNT(*) AS BIGINT), 16) AS n_kept,
        |  array_to_string(list_slice(list(CAST(vec_id AS VARCHAR) ORDER BY hk, vec_id), 1, 16), ',') AS kept_ids
        |FROM h GROUP BY cluster
        |""".stripMargin) { (s, dir) =>
      import graft.functions.expressions.BottomKSample
      val cap = 16
      Tables.embeddings(s, dir)
        .groupBy(col("label").cast("long").as("cluster"))
        .agg(count(lit(1)).cast("long").as("n_members"),
          BottomKSample(Sampling.saltedHash32(col("vec_id"), "balance"),
            col("vec_id"), cap).as("smp"))
        .select(col("cluster"), col("n_members"),
          least(col("n_members"), lit(cap.toLong)).as("n_kept"),
          expr("array_join(transform(smp, x -> x.id), ',')").as("kept_ids"))
    },

    // q59: embedding-cosine near-dup PAIRS — the threshold-dedup shape
    // (q26/q27/q40 are top-k). Hyperplane-sign blocking bounds the join
    // (never an unblocked cross product); pairs within a bucket score
    // exact cosine and keep >= threshold. ORACLE-VERIFIED: the seeded
    // hyperplanes interpolate into the SQL as literals and every dot/norm
    // replays the same left-fold order, so the 4-dp rounded cosines are
    // bit-identical (same technique as the q43 projection replay).
    "q59_cosine_neardup" -> QueryDef.of(cosineNearDupOracle) { (s, dir) =>
      cosineNearDupPairs(s, dir, threshold = 0.2)
    },

    // q90: MULTI-SIGNAL dedup clustering — cluster assignment over the
    // UNION of evidence sources a production dedup actually combines:
    // exact-content star links (q22's groups, linear per hash) and
    // embedding near-dup pairs (q59's bucketed discovery — the SemDeDup
    // posture). Both edge sources are the linear-volume scale paths, the
    // union is one distinct on 8-byte id pairs, and the CC is the same
    // contracted BSP loop as q66. Documents without an embedding simply
    // contribute no semantic edges. Oracle: the recursive-CTE closure
    // over the identical union (seeded planes replayed as SQL literals).
    "q90_multisignal_dedup" -> QueryDef.of(
      s"""WITH RECURSIVE ${cosineNearDupCtes(0.3)},
        |h AS (
        |  SELECT doc_id, md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS th
        |  FROM documents
        |), rep AS (
        |  SELECT th, MIN(doc_id) AS rep_id FROM h GROUP BY th
        |), ex AS (
        |  SELECT r.rep_id AS id_a, h.doc_id AS id_b
        |  FROM h JOIN rep r ON h.th = r.th WHERE h.doc_id <> r.rep_id
        |), pairs AS (
        |  SELECT id_a, id_b FROM sem
        |  WHERE id_a IN (SELECT doc_id FROM documents)
        |    AND id_b IN (SELECT doc_id FROM documents)
        |  UNION SELECT id_a, id_b FROM ex
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach(id, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.id
        |), lab AS (
        |  SELECT id, min(label) AS cluster FROM reach GROUP BY id
        |)
        |SELECT id, cluster,
        |  CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members
        |FROM lab
        |""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val h = docs.select(col("doc_id"),
        md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("th"))
      val rep = h.groupBy(col("th")).agg(min(col("doc_id")).as("id_a"))
      val exact = h.join(rep, "th")
        .filter(col("doc_id") =!= col("id_a"))
        .select(col("id_a"), col("doc_id").as("id_b"))
      // Semantic edges are keyed by embeddings.vec_id, exact edges by
      // documents.doc_id: the contract is vec_id == doc_id. Semi-joining
      // both endpoints against the document ids enforces it — on data
      // where the id spaces diverge, the semantic edges vanish (visible
      // in n_members) instead of silently clustering unrelated ids.
      val ids = docs.select(col("doc_id"))
      val sem = cosineNearDupPairs(s, dir, threshold = 0.3)
        .select(col("id_a"), col("id_b"))
        .join(ids.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
        .select(col("id_a"), col("id_b"))
      val links = sem.unionByName(exact).distinct()
      Dedup.connectedComponents(docs.select(col("doc_id").as("id")), links)
        .withColumn("cluster", col("label")).drop("label")
        .transform(Dedup.withMemberCounts(_))
    },

    // q161: SemDeDup (Abbas et al. 2023) — semantic dedup: within-cluster
    // cosine pairs chain into dup groups, each group keeps the member
    // FARTHEST from its cluster centroid (the paper's diversity-preserving
    // rule; q78/q95 keep by quality, q59 only emits pairs). The oracle
    // gate runs the operator over the GIVEN label assignment so the whole
    // chain is SQL-expressible (centroids via the q77-pinned rounded avg,
    // cosines via the q59 fold replay, groups via the recursive-CTE
    // closure); SemDedupSpec runs the SAME operator over learned IVF
    // cells — the paper's actual k-means — and pins the keep rule plus
    // the no-cross-cluster-pair bound. Scale: the pair join is
    // key-partitioned on `cluster` (membership bounded by construction —
    // cluster count scales with the corpus), centroids broadcast back as
    // one row per cluster, and the keep pass is one slim window exchange.
    "q161_semdedup" -> QueryDef.of(semDedupOracle) { (s, dir) =>
      Similarity.semDedup(
        Tables.embeddings(s, dir).select(
          col("vec_id").as("id"), col("label").cast("long").as("cluster"),
          col("embedding")),
        tau = 0.3)
    },

    // q170: SemDeDup's SCALE form — the SAME operator as q161, but over
    // LEARNED IVF cells (the paper's actual k-means setting, the path
    // SemDedupSpec pins). The tractability argument is made OPERATIONAL:
    // cluster count scales WITH the corpus (nLists = n / targetCell, one
    // cheap count to size it — the paper uses 11k clusters on LAION for
    // the same reason), so expected cell membership stays ~constant and
    // the quadratic within-cell pair join's bytes grow LINEARLY in the
    // corpus. A fixed cell count would silently re-quadratize at scale:
    // measured 24.4× shuffle bytes at the 10× sf1 step with nLists
    // pinned at 8, vs the linear band once cells scale. (q161's
    // given-label form exists as the SQL-expressible ORACLE gate; this
    // is the form a production run executes.) Rows-only: k-means
    // centroids are float-iterative; SemDedupSpec pins partition/keep-
    // rule/tau-monotonicity over exactly this assignment.
    "q170_semdedup_ivf" -> QueryDef.rowsOnly { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val nLists = math.max(8, (emb.count() / 250L).toInt)
      Similarity.semDedup(
        Similarity.ivfIndex(emb, nLists = nLists, seed = 42L, trainMod = 2)
          .assigned
          .select(col("vec_id").as("id"), col("cell").cast("long").as("cluster"),
            col("embedding")),
        tau = 0.3)
    },

    // q28: language-ID heuristic (stopword-hit scoring).
    "q28_langid" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), r AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> x IN ($stopList))) AS DOUBLE) / len(toks) AS ratio
        |  FROM t
        |)
        |SELECT doc_id, round(ratio, 4) AS en_ratio,
        |  CASE WHEN ratio > 0.05 THEN 'en' ELSE 'unknown' END AS predicted
        |FROM r""".stripMargin) { (s, dir) =>
      val toks = F.tokens(col("text"))
      val ratio = TextAnalysis.stopwordRatio(toks)
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          round(ratio, 4).as("en_ratio"),
          TextAnalysis.langIdPrediction(ratio).as("predicted"))
    },

    // q29: quality scoring (stopword coverage + length coverage).
    "q29_quality" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round((CAST(len(list_filter(toks, x -> x IN ($stopList))) AS DOUBLE) / len(toks)) * 0.5
        |        + (CAST(least(len(toks), 100) AS DOUBLE) / 100.0) * 0.5, 4) AS quality
        |FROM t""".stripMargin) { (s, dir) =>
      val toks = F.tokens(col("text"))
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          TextAnalysis.qualityScore(toks).as("quality"))
    },

    // q164: hashed-linear quality-classifier INFERENCE — the
    // fastText-style keep/drop filter (the CCNet / GPT-3 / RefinedWeb
    // pipeline step q29's heuristic score approximates): a PRETRAINED
    // linear model over hashed bag-of-words features, applied per
    // document. The weight table is addressed by FEATURE HASH, so
    // inference is a pure per-row expression — tokens → bucket →
    // weight → mean margin — with ZERO joins and ZERO shuffles at any
    // scale (the weight "table" here derives each bucket's weight from
    // a second salted hash, the multimodal-stub posture: the shipped-
    // model lookup is real, the trained values are a deterministic
    // stand-in since no training lib exists in this container). The
    // margin is pure arithmetic — no transcendentals — and the
    // per-doc fold runs in ARRAY ORDER on both engines, so the
    // 1e6-scaled integer margin is bit-deterministic across the gate
    // (sign(margin) == sigmoid(margin) > 0.5, so the keep decision
    // needs no exp()).
    "q164_classifier_filter" -> QueryDef.of(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, len(toks) AS n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(toks, tok ->
        |      CAST(CAST(('0x' || substr(md5('w:' ||
        |          CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 8192 AS VARCHAR)
        |        ), 1, 8)) AS BIGINT) % 2001 - 1000 AS DOUBLE) / 1000.0
        |    )), (acc, x) -> acc + x) AS msum
        |  FROM t
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(round(msum / n * 1000000, 0) AS BIGINT) AS margin_1e6,
        |  CAST(round(msum / n * 1000000, 0) AS BIGINT) > 0 AS kept
        |FROM s""".stripMargin) { (s, dir) =>
      val toks = F.tokens(col("text"))
      def weight(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        ((Sampling.docHash32(concat(lit("w:"),
          (Sampling.docHash32(t) % 8192).cast("string"))) % 2001) - 1000)
          .cast("double") / lit(1000.0)
      val msum = aggregate(transform(toks, weight _), lit(0.0), (acc, x) => acc + x)
      val margin = round(msum / size(toks) * 1000000, 0).cast("long")
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        margin.as("margin_1e6"),
        (margin > 0).as("kept"))
    },

    // q30: token counting — whitespace tokens and a BPE-ish pre-tokenizer.
    "q30_tokens" -> QueryDef.of(
      """SELECT doc_id,
        |  CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(split(F.normalizeWhitespace(col("text")), " ")).cast("long").as("ws_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"),
          length(col("text")).cast("long").as("n_chars"))
    },

    // q31: whole-doc polynomial rolling-hash fingerprint — the native
    // codegen'd PolyHash Expression, now ORACLE-VERIFIED: the DuckDB side
    // replays the fold as list_reduce over codepoints (the corpus is
    // ASCII, so UTF-16 units == codepoints; acc < 2^30 so BIGINT
    // arithmetic never overflows before the mod).
    "q31_fingerprint" -> QueryDef.of(
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(norm) + 1), i -> CAST(unicode(norm[i:i]) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS poly_fp
        |FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents)
        |""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("poly_fp"))
    },

    // q48: min-shingle ("winnowing") fingerprint — r11 PROMOTED to the
    // DuckDB oracle: the fingerprint hash swaps to the portable 32-bit
    // md5 prefix (the Sampling.docHash32 twin the sampling family
    // already replays in SQL), min over all 8-token shingles with the
    // same short-doc whole-text fallback as Shingles. The xxhash64
    // native-Expression form (TextAnalysis.minShingleFingerprints —
    // map-only, ZERO shuffle via XxHash64ArrayMin) stays the
    // production/scale variant, value-pinned in TextAnalysisSpec; this
    // oracle arm runs the lesson-47 relational path: posexplode the
    // native Shingles, md5 as a codegen'd scalar on the exploded rows,
    // partial-combined min — one exchange carrying (id, 8-byte) partials.
    "q48_winnow_fingerprint" -> QueryDef.of(
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 6),
        |                i -> array_to_string(list_slice(toks, i, i + 7), ' '))
        |    END) AS sh
        |  FROM t
        |)
        |SELECT doc_id, min(CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT)) AS min_shingle_fp
        |FROM sh GROUP BY doc_id
        |""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(Dedup.shingles(F.tokens(col("text")), 8)).as("sh"))
        .groupBy(col("doc_id"))
        .agg(min(Sampling.docHash32(col("sh"))).as("min_shingle_fp"))
    },

    // q32: multimodal plumbing — binary payload + metadata struct, stubbed
    // partition-batched feature extraction, frame sampling counts. Now
    // ORACLE-VERIFIED: the stub's deterministic byte-fold (64-bit wrapping
    // multiply-add) is replayed in DuckDB as a HUGEINT fold mod 2^64
    // (ASCII corpus -> payload bytes == codepoints), and the frame count
    // replays the chunking arithmetic.
    "q32_multimodal" -> QueryDef.of(
      """WITH f AS (
        |  SELECT doc_id AS id, CAST(len(text) AS BIGINT) AS n_bytes,
        |    CAST(len(list_filter(range(0, 4), i -> i * greatest(len(text) // 4, 1) + 1 <= len(text))) AS BIGINT) AS n_frames,
        |    list_reduce(
        |      list_prepend(CAST(1125899906842597 AS HUGEINT),
        |        list_transform(range(1, len(text) + 1), i -> CAST(unicode(text[i:i]) AS HUGEINT))),
        |      (a, b) -> (a * 31 + b) % CAST('18446744073709551616' AS HUGEINT)) AS acc
        |  FROM documents
        |)
        |SELECT id, n_bytes, n_frames,
        |  round(CAST(CAST(CAST(acc % 65536 AS BIGINT) AS FLOAT) / CAST(65535 AS FLOAT) AS DOUBLE), 4) AS feat0
        |FROM f
        |""".stripMargin) { (s, dir) =>
      val media = Multimodal.asMediaTable(Tables.documents(s, dir))
      val feats = Multimodal.extractFeatures(media)
      val frames = Multimodal.sampleFrames(media, n = 4)
        .groupBy(col("id")).agg(count(lit(1)).as("n_frames"))
      feats
        .join(frames, "id")
        .select(col("id"), col("n_bytes"), col("n_frames"),
          round(element_at(col("features"), 1).cast("double"), 4).as("feat0"))
    }
  )
}
