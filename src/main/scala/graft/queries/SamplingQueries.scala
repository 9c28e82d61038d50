package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.F
import graft.operators.{Relational, Sampling, TextAnalysis}

/** SURVEY.md §2.C — corpus curation operators a pretraining-data pipeline
  * runs between dedup and training: deterministic stratified sampling
  * (data mixing), token-budget sequence packing (concat-then-chunk),
  * frequency-capped soft dedup, and the composed curation rollup. All
  * per-row / single-shuffle shapes that scale linearly; every sampling
  * decision is a pure hash of the row key, so reruns and backfills keep
  * identical membership (no rand(), which breaks retry determinism).
  */
object SamplingQueries {

  /** SQL twins of [[graft.operators.Sampling]]'s kernels (Spark's
    * xxhash64 would be cheaper but is not replayable in the oracle;
    * sampling needs uniformity, not speed parity). */
  private def docHash(c: org.apache.spark.sql.Column) = Sampling.docHash32(c)

  private val docHashSql =
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"

  private def rate8 = Sampling.mixingRate8(col("lang"))

  private val stopList =
    graft.operators.TextAnalysis.EnglishStopwords.map(s => s"'$s'").mkString(", ")

  private val rate8Sql =
    "CASE WHEN lang = 'en' THEN 4 WHEN lang IN ('zh','es','de','fr') THEN 2 ELSE 1 END"

  val defs: Seq[(String, QueryDef)] = Seq(

    // q69: deterministic stratified sampling — the data-mixing primitive.
    // Membership is hash(doc_id) mod 8 < per-stratum rate: no shuffle, no
    // rand(), stable under reruns/backfills, and the rate table is the
    // only thing a mixing change touches.
    "q69_stratified_sample" -> QueryDef.of(
      s"""SELECT doc_id, lang, source, bucket FROM (
        |  SELECT doc_id, lang, source, $docHashSql % 8 AS bucket
        |  FROM documents
        |) WHERE bucket < $rate8Sql
        |""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("bucket", docHash(col("doc_id")) % 8)
        .filter(col("bucket") < rate8)
        .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
    },

    // q70: token-budget sequence packing — the concat-then-chunk layout
    // LLM training uses: docs stream per language in doc_id order, and
    // each doc belongs to the chunk holding its first token. The running
    // total is a TWO-LEVEL PREFIX SUM (PrefixSum.runningSum), not a
    // per-lang window: a per-lang window serializes a dominant language
    // into ONE sort task at 100 TB (AQE splits skewed joins, never
    // windows). Rows shuffle once on (lang, doc_id div 65536); per-bucket
    // totals ride the same reused exchange; base offsets broadcast back.
    // Chunk ids and offsets stay pure arithmetic on the running total.
    "q70_pack_sequences" -> QueryDef.of(
      """SELECT doc_id, lang, tokens,
        |  CAST(floor((cum - tokens) / 512.0) AS BIGINT) AS seq_id,
        |  CAST((cum - tokens) % 512 AS BIGINT) AS seq_off
        |FROM (
        |  SELECT doc_id, lang, tokens,
        |    SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
        |  FROM (
        |    SELECT doc_id, lang,
        |      CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS tokens
        |    FROM documents
        |  )
        |)""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.bpeTokenCount(col("text")).as("tokens"))
      graft.operators.PrefixSum.runningSum(toks, Seq("lang"),
          expr("doc_id div 65536"), Seq(col("doc_id")), col("tokens"), "cum")
        .select(col("doc_id"), col("lang"), col("tokens"),
          floor((col("cum") - col("tokens")) / 512.0).cast("long").as("seq_id"),
          ((col("cum") - col("tokens")) % 512).cast("long").as("seq_off"))
    },

    // q71: frequency-capped soft dedup — keep up to 2 copies per exact
    // content hash instead of collapsing to 1 (repetition control: some
    // duplication is signal, unbounded duplication is memorization risk).
    // The shuffle key is the 16-byte hash, never the document body.
    // Skew posture (round-10): rank <= cap routes through the bounded-heap
    // TopKPerKey plan node (≤ cap rows per hash per input split ever
    // shuffle) and n_copies through a map-side-combined count joined back
    // — the earlier row_number/count windows partitioned by the hash put
    // a mega-duplicated boilerplate doc's whole copy list into ONE window
    // task, and AQE skew handling splits joins, never windows.
    "q71_soft_dedup_cap" -> QueryDef.of(
      """SELECT doc_id, text_hash, copy_rank, n_copies FROM (
        |  SELECT doc_id, text_hash,
        |    CAST(row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS BIGINT) AS copy_rank,
        |    CAST(COUNT(*) OVER (PARTITION BY text_hash) AS BIGINT) AS n_copies
        |  FROM (
        |    SELECT doc_id, md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS text_hash
        |    FROM documents
        |  )
        |) WHERE copy_rank <= 2
        |""".stripMargin) { (s, dir) =>
      val hashed = Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("text_hash"))
      val counts = hashed.groupBy(col("text_hash"))
        .agg(count(lit(1)).cast("long").as("n_copies"))
      graft.operators.TopK.topKWithRank(hashed, col("text_hash"),
          Seq(col("doc_id")), 2, "copy_rank")
        .join(counts, Seq("text_hash"))
        .select(col("doc_id"), col("text_hash"),
          col("copy_rank").cast("long").as("copy_rank"), col("n_copies"))
    },

    // q72: the composed curation pipeline — quality gate -> exact dedup
    // -> stratified sample -> per-(lang, source) corpus stats. This is
    // the end-to-end shape a pretraining corpus build runs after pair
    // discovery; each stage is an already-verified kernel (q29 quality,
    // q22 dedup, q69 sampling, q30 tokens) and the final rollup is one
    // partial-aggregated groupBy.
    "q72_corpus_curation" -> QueryDef.of(
      s"""WITH scored AS (
        |  SELECT doc_id, lang, source, text,
        |    (CAST(len(list_filter(toks, x -> x IN (${TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len(toks)) * 0.5
        |      + (CAST(least(len(toks), 100) AS DOUBLE) / 100.0) * 0.5 AS quality
        |  FROM (
        |    SELECT *, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        |    FROM documents
        |  )
        |), gated AS (
        |  SELECT * FROM scored WHERE round(quality, 4) >= 0.3
        |), deduped AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY md5(trim(regexp_replace(text, '\\s+', ' ', 'g')))
        |      ORDER BY doc_id) AS rn
        |    FROM gated
        |  ) WHERE rn = 1
        |), sampled AS (
        |  SELECT * FROM deduped WHERE $docHashSql % 8 < $rate8Sql
        |)
        |SELECT lang, source,
        |  CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)) AS BIGINT) AS tokens,
        |  CAST(round(SUM(round(quality, 4)) * 10000, 0) AS BIGINT) AS quality_1e4_sum
        |FROM sampled GROUP BY lang, source
        |""".stripMargin) { (s, dir) =>
      val toks = F.tokens(col("text"))
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          TextAnalysis.qualityScore(toks).as("quality"))
      val gated = scored.filter(col("quality") >= 0.3)
      val deduped = Relational.dedupKeepFirstAgg(
        gated.withColumn("text_hash",
          md5(trim(regexp_replace(col("text"), "\\s+", " ")))),
        keys = Seq(col("text_hash")),
        order = Seq(col("doc_id"))).drop("text_hash")
      val sampled = deduped.filter(docHash(col("doc_id")) % 8 < rate8)
      sampled.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).cast("long").as("docs"),
          sum(TextAnalysis.bpeTokenCount(col("text"))).cast("long").as("tokens"),
          // SUM of the (already 4dp-rounded) scores, 1e4-scaled to an
          // exact integer — an AVERAGE rounded to 4dp sits on .00005
          // boundaries where binary-vs-decimal rounding diverges between
          // engines (caught by the sf0.001 tri-scale gate); the scaled
          // sum is integer-exact in double on both.
          round(sum(col("quality")) * 10000, 0).cast("long").as("quality_1e4_sum"))
    },

    // q94: deterministic holdout split (train/val/test 98/1/1). The split
    // key is the NORMALIZED-CONTENT hash, not doc_id: exact duplicates
    // must land in the same split or held-out text leaks into training
    // through its copies. Hash-bucketing keeps old assignments fixed as
    // the corpus grows (new docs only ever ADD rows to a split). Pure
    // map-side arithmetic — zero shuffles at any scale.
    "q94_holdout_split" -> QueryDef.of(
      """SELECT doc_id, lang,
        |  CASE WHEN b IS NULL THEN 'train' WHEN b < 980 THEN 'train' WHEN b < 990 THEN 'val' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) || ':split'), 1, 8)) AS BIGINT) % 1000 AS b
        |  FROM documents
        |)""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          Sampling.holdoutSplit(
            md5(trim(regexp_replace(col("text"), "\\s+", " "))),
            valPermille = 10, testPermille = 10).as("split"))
    },

    // q103: FIXED-SIZE per-stratum sample — "exactly k docs per language"
    // (the eval-set / human-review draw q69's rate sampling can't
    // express). Bottom-k-by-salted-hash is the distributed form of
    // reservoir sampling: uniform because the hash is, deterministic
    // under reruns/task retries (rand() reservoirs are neither), and
    // MERGEABLE — each partition's local bottom-k suffices, so it routes
    // through the TopKPerKey plan node and only ≤ k rows per stratum per
    // partition ever reach the exchange. (The same bottom-k hash set is
    // a KMV sketch: growing the draw never evicts earlier picks'
    // relative order, so k can be raised incrementally.)
    "q103_sample_fixed_k" -> QueryDef.of(
      """SELECT doc_id, lang, smp_rank FROM (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS smp_rank
        |  FROM (
        |    SELECT doc_id, lang,
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':smp'), 1, 8)) AS BIGINT) AS h
        |    FROM documents)
        |) WHERE smp_rank <= 20
        |""".stripMargin) { (s, dir) =>
      import graft.operators.TopK
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          Sampling.saltedHash32(col("doc_id"), "smp").as("h"))
      TopK.topKWithRank(scored, col("lang"), Seq(col("h"), col("doc_id")), k = 20,
          rankName = "rk")
        .select(col("doc_id"), col("lang"), col("rk").cast("long").as("smp_rank"))
    },

    // q111: WEIGHTED sampling without replacement (Efraimidis-Spirakis):
    // per language, 20 docs drawn with probability proportional to
    // length — the quality/importance-weighted corpus-mixing draw q103's
    // uniform form can't express. Key = ln(u)/w with u a salted-hash
    // uniform in (0,1): top-k by key IS an exact without-replacement
    // weighted draw (ES 2006), deterministic under reruns, and still
    // mergeable — so it routes through the same TopKPerKey trim. The
    // float key never crosses the engine boundary (output is integers;
    // u is exactly representable; ties broken by doc_id).
    "q111_weighted_sample" -> QueryDef.of(
      """SELECT doc_id, lang, n_chars, smp_rank FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS BIGINT) AS smp_rank
        |  FROM (
        |    SELECT doc_id, lang, n_chars,
        |      round(ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
        |        / n_chars, 12) AS key
        |    FROM documents)
        |) WHERE smp_rank <= 20
        |""".stripMargin) { (s, dir) =>
      import graft.operators.TopK
      val u = (Sampling.saltedHash32(col("doc_id"), "ws").cast("double") + lit(0.5)) /
        lit(4294967296.0)
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          // round-12: ln() is libm-vs-JVM ~1-ulp loose, and a 1-ulp key
          // flip across the rank boundary would break the hash gate; at
          // 12 dp the keys (|key| in 2e-13..0.45, inter-doc gaps >> 1e-12
          // w.h.p.) agree across engines (the q80 round-4dp rule, tighter
          // because this is a RANK key, not a summand)
          round(log(u) / col("n_chars"), 12).as("key"))
      TopK.topKWithRank(scored, col("lang"), Seq(col("key").desc, col("doc_id")), k = 20,
          rankName = "rk")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("rk").cast("long").as("smp_rank"))
    },

    // q114: CURRICULUM buckets — per-language quality deciles via
    // ntile(10): the stage assignment a curriculum-ordered training run
    // reads (easy→hard = decile order), and the equal-population cut
    // quantile bucketing can't give on skewed scores. Deterministic
    // because the order key is total (quality is 4dp-rounded, doc_id
    // tie-break); one exchange on lang. At 100 TB the same assignment
    // comes from percentile_approx bounds + a map-side bucket lookup —
    // the window is the small/medium-stratum form.
    "q114_curriculum_buckets" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |)
        |SELECT doc_id, lang,
        |  CAST(ntile(10) OVER (PARTITION BY lang ORDER BY quality, doc_id) AS BIGINT) AS bucket
        |FROM (
        |  SELECT doc_id, lang,
        |    round((CAST(len(list_filter(toks, x -> x IN ($stopList))) AS DOUBLE) / len(toks)) * 0.5
        |          + (CAST(least(len(toks), 100) AS DOUBLE) / 100.0) * 0.5, 4) AS quality
        |  FROM t)
        |""".stripMargin) { (s, dir) =>
      import graft.operators.TextAnalysis
      import org.apache.spark.sql.expressions.Window
      val toks = graft.functions.F.tokens(col("text"))
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextAnalysis.qualityScore(toks).as("quality"))
      scored.select(col("doc_id"), col("lang"),
        ntile(10).over(Window.partitionBy(col("lang"))
          .orderBy(col("quality"), col("doc_id"))).cast("long").as("bucket"))
    },

    // q173: q114's 100 TB form, registered — per-language decile CUT
    // POINTS from one percentile_approx pass (GK sketch: mergeable, so
    // the per-lang aggregation partial-combines map-side and the
    // exchange carries sketches, not rows), broadcast back (≤ #langs
    // rows), bucket assignment a codegen'd when-chain over the 9 cuts —
    // map-side. ZERO windows: the per-lang ntile sort that serializes a
    // dominant language into one task at scale never exists here
    // (PlanSpec pins window-free). Rows-only: the GK sketch's cut
    // points aren't bit-replayable in DuckDB; SamplingSpec pins ≥99%
    // bucket agreement with exact q114 on the fixture, q114 stays the
    // oracle gate. Boundary semantics differ from ntile by design:
    // equal-population splits tie-groups across buckets, quantile cuts
    // keep a tie-group whole — the disagreement lives only on
    // cut-straddling ties.
    "q173_curriculum_buckets_approx" -> QueryDef.rowsOnly { (s, dir) =>
      import graft.operators.TextAnalysis
      val toks = graft.functions.F.tokens(col("text"))
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextAnalysis.qualityScore(toks).as("quality"))
      val cuts = scored.groupBy(col("lang"))
        .agg(percentile_approx(col("quality"),
          array((1 to 9).map(i => lit(i / 10.0)): _*), lit(10000)).as("cuts"))
      val bucket = (1 to 9).foldRight(lit(10L): org.apache.spark.sql.Column) { (i, rest) =>
        when(col("quality") <= element_at(col("cuts"), i), i.toLong).otherwise(rest)
      }
      scored.join(broadcast(cuts), Seq("lang"))
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
    }
  )
}
