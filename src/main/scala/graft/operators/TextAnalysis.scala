package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.F

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.C):
  * language-ID heuristic, quality scoring, token counting, fingerprints.
  * All pure column expressions — embarrassingly parallel, no shuffle.
  */
object TextAnalysis {

  /** Small English stopword list used by the heuristics (deterministic). */
  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "for", "on", "is", "it", "with")

  /** Fraction of tokens that are stopwords (occurrence-based, not
    * distinct), double precision. */
  def stopwordRatio(tokens: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    size(filter(tokens, t => t.isin(stopwords: _*))).cast("double") /
      size(tokens).cast("double")

  /** Language-ID heuristic: stopword-hit ratio thresholding (an n-gram
    * profile in spirit; the test corpus is synthetic so the signal is the
    * deterministic scoring, not linguistic accuracy). */
  def langIdPrediction(ratio: Column): Column =
    when(ratio > 0.05, lit("en")).otherwise(lit("unknown"))

  /** Quality score in [0,1]: half stopword-coverage, half length-coverage
    * (capped at 100 tokens) — the shape of the reference-corpus "quality
    * filter" heuristics (length/punct/stopword ratios). */
  def qualityScore(tokens: Column): Column = {
    val lenScore = least(size(tokens), lit(100)).cast("double") / 100.0
    round(stopwordRatio(tokens) * 0.5 + lenScore * 0.5, 4)
  }

  /** BPE-ish pre-tokenizer count: runs of letters, runs of digits, or any
    * single non-space symbol (the GPT-2 pretokenizer shape without the
    * unicode categories). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")

  /** Polynomial rolling hash (base 31, mod 1e9+7) over the normalized
    * text — a stable document fingerprint, computed by the native codegen
    * Expression [[graft.functions.expressions.PolyHash]] (the array-HOF
    * composition is CodegenFallback and allocates per character). */
  def fingerprint(text: Column): Column =
    graft.functions.expressions.PolyHash(F.normalizeWhitespace(lower(text)))

  /** Reference implementation of [[fingerprint]] via array HOFs —
    * interpreted; kept for cross-checking the native expression.
    * SINGLE-BYTE TEXT ONLY: `ascii()` returns the first UTF-8 byte
    * (negative for multibyte chars) and `length`/`substr` count
    * codepoints, while PolyHash folds UTF-16 charAt units — the two
    * agree exactly on ASCII (the synthetic corpus and the spec's
    * cross-check) and intentionally diverge beyond it; PolyHash's
    * UTF-16 fold is the operator contract. */
  def fingerprintHof(text: Column): Column = {
    val norm = F.normalizeWhitespace(lower(text))
    val codes = transform(sequence(lit(1), length(norm)), i => ascii(norm.substr(i, lit(1))))
    aggregate(codes, lit(0L), (acc, c) => (acc * 31L + c.cast("long")) % 1000000007L)
  }

  /** Min-window fingerprint: minimum xxhash64 over all w-token shingles —
    * the "winnowing" selection used for robust near-dup sketches.
    * Column form is interpreted (HOF-over-HOF); pipelines should use the
    * relational [[minShingleFingerprints]]. */
  def minShingleFingerprint(tokens: Column, w: Int = 8): Column =
    array_min(transform(Dedup.shingles(tokens, w), sh => xxhash64(sh)))

  /** Min-shingle fingerprints, map-only: the winnow minimum is a pure
    * function of the row's own shingles, so the earlier explode_outer →
    * groupBy(id) → min(xxhash64) pass (one shuffle) collapses to a
    * single projection through native Shingles + the scalar
    * [[graft.functions.expressions.XxHash64ArrayMin]] (same values on
    * every real document, asserted in TextAnalysisSpec). One deliberate
    * divergence: NULL text now yields a NULL fingerprint — the old form
    * gave such rows xxhash64's seed (42) because Spark hash functions
    * swallow nulls; no content -> no fingerprint is the honest contract.
    * Returns (id, min_shingle_fp). */
  def minShingleFingerprints(df: DataFrame, idCol: String, textCol: String,
                             w: Int = 8): DataFrame = {
    import graft.functions.expressions.{Shingles, XxHash64ArrayMin}
    df.select(col(idCol).as("id"),
        XxHash64ArrayMin(Shingles(F.tokens(col(textCol)), w)).as("min_shingle_fp"))
  }

  /** The Gopher quality-rule bundle (Rae et al. 2021, Table A1) as ONE
    * named struct over a document's text — the single source of truth
    * shared by the q165 report and every composition that only needs
    * `passes` (the q169 datasheet, attribute-store taggers). All rules
    * are in-order integer folds and exact rational divisions over the
    * token/line arrays — no transcendentals, bit-deterministic across
    * engines; struct-field extraction collapses at optimization time
    * (SimplifyExtractValueOps), so consumers pay only the expressions
    * they read. */
  def gopherBundle(text: Column): Column = {
    val toks = F.tokens(text)
    val lines = split(text, "\n")
    val nWords = size(toks)
    val charSum = aggregate(transform(toks, x => length(x).cast("long")),
      lit(0L), (a, x) => a + x)
    val nHash = length(text) - length(regexp_replace(text, "#", ""))
    val nEll = (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val nSym = nHash + nEll
    val nAlpha = size(filter(toks, x => x.rlike("[a-z]")))
    val stopHits = size(array_intersect(array_distinct(toks),
      array(Seq("the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)))
    val nLines = size(lines)
    val nBullet = size(filter(lines, l => substring(l, 1, 1).isin("-", "*")))
    val nEllEnd = size(filter(lines, l => l.endsWith("...")))
    val meanLen = charSum.cast("double") / nWords
    val symRatio = nSym.cast("double") / nWords
    val rWords = nWords.between(50, 100000)
    val rMeanLen = meanLen.between(3, 10)
    val rSymbol = symRatio <= 0.1
    val rAlpha = nAlpha.cast("double") / nWords >= 0.8
    val rBullet = nBullet.cast("double") / nLines <= 0.9
    val rEllipsis = nEllEnd.cast("double") / nLines <= 0.3
    val rStop = stopHits >= 2
    struct(
      nWords.cast("long").as("n_words"),
      round(meanLen * 10000, 0).cast("long").as("mean_wlen_1e4"),
      round(symRatio * 10000, 0).cast("long").as("sym_ratio_1e4"),
      stopHits.cast("long").as("stop_hits"),
      rWords.as("r_words"), rMeanLen.as("r_mean_len"), rSymbol.as("r_symbol"),
      rAlpha.as("r_alpha"), rBullet.as("r_bullet"), rEllipsis.as("r_ellipsis"),
      rStop.as("r_stop"),
      (rWords && rMeanLen && rSymbol && rAlpha && rBullet && rEllipsis && rStop)
        .as("passes"))
  }

  /** BM25 ranked retrieval: top-k documents per query, scored with the
    * Lucene/Robertson BM25 formula (idf = ln((N - df + 0.5)/(df + 0.5) + 1),
    * tf saturation k1, length normalization b against the corpus mean).
    *
    * `queries` carries (query_id, tok) — one row per query term; it is the
    * SMALL side by construction (a query workload, not a corpus) and is
    * broadcast twice (term prune + per-query fan-out) — callers deriving
    * it from something expensive should materialize it first (the gate
    * query localCheckpoints its corpus-derived workload). The posting
    * table prunes to query terms BEFORE document frequencies exist
    * anywhere: df rides a window count over the pruned tok partitions, so
    * the corpus-scale (doc, tok) aggregate is consumed exactly once and
    * the corpus-wide vocabulary is never materialized. The only
    * corpus-scale exchanges are the (doc, tok) partial-combined count and
    * the doc-keyed join against doc lengths — both linear, both
    * AQE-coalescible. Corpus totals (N, Σdl) ride a broadcast 1-row
    * frame. Skew caveat: the df window sorts one partition per queried
    * term, so querying a stopword materializes that term's whole posting
    * list in one task — spillable, but a workload dominated by ubiquitous
    * terms should pre-drop them (as every IR stack does) rather than
    * lean on the sort.
    *
    * Float portability is the q163 posture: idf is ln rounded once at
    * 4dp, the PER-TERM contribution integerizes at 1e4 (every other
    * factor is an IEEE-exact expression over integer inputs with a fixed
    * tree shape), and the query score is an INTEGER SUM of those — no
    * float addition order ever crosses an engine boundary. Ranking is
    * (score_1e4 desc, doc_id): total, through the bounded-heap top-k trim.
    *
    * Returns (query_id, doc_id, score_1e4, n_terms_hit, rk), rk ≤ topK. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, topK: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val t = docs.select(col(idCol).as("doc_id"), F.tokens(col(textCol)).as("toks"))
    val stats = t.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(size(col("toks"))).cast("long").as("sum_dl"))
    val tf = t.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val qTerms = queries.select(col("query_id"), col("tok"))
    // prune FIRST: the distinct query-term set cuts the posting table to
    // query terms before df exists anywhere; df then rides a WINDOW count
    // over the pruned tok partitions (postings are unique per (doc, tok),
    // so the partition count IS df) — the corpus-scale (doc, tok)
    // aggregate is consumed exactly once and the corpus-wide vocabulary
    // is never materialized. (A groupBy-df branch instead would fork the
    // shared aggregate: column pruning strips `tf` from the df copy, the
    // canonical plans diverge, and exchange reuse is lost — the lesson-46
    // failure shape, measured as a second corpus pass.)
    val pruned = tf.join(broadcast(qTerms.select(col("tok")).distinct()), "tok")
    val withDf = pruned.withColumn("df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("tok"))).cast("long"))
    val dl = t.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    bm25Rank(withDf, dl, stats, qTerms, topK, k1, b)
  }

  /** The shared BM25 ranking tail: per-term contribution → integer score
    * sum → bounded-heap top-k. `postings` carries (tok, doc_id, tf, df);
    * `dl` (doc_id, dl); `stats` ONE row (n_docs, sum_dl); `qTerms`
    * (query_id, tok), broadcast-small by the [[bm25TopK]] contract. The
    * expression TREE here is the oracle-parity surface (idf ln-rounded
    * once at 4dp, per-term 1e4 integerization, integer sum) — both the
    * corpus-priced path ([[bm25TopK]]) and the saved-artifact path
    * ([[Retrieval.bm25TopKFromSaved]]) rank through this one kernel, so
    * they agree bit-for-bit by construction. */
  private[graft] def bm25Rank(postings: DataFrame, dl: DataFrame,
                              stats: DataFrame, qTerms: DataFrame, topK: Int,
                              k1: Double, b: Double): DataFrame = {
    val idf4 = round(log(
      (col("n_docs").cast("double") - col("df") + lit(0.5))
        / (col("df").cast("double") + lit(0.5)) + lit(1.0)), 4)
    val num = col("tf").cast("double") * lit(k1 + 1.0)
    val den = col("tf").cast("double") + lit(k1) * (lit(1.0 - b)
      + lit(b) * (col("dl") * col("n_docs")).cast("double")
        / col("sum_dl").cast("double"))
    val contrib = postings
      .join(broadcast(qTerms), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(idf4 * num / den * lit(10000), 0).cast("long").as("c_1e4"))
    val scores = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c_1e4")).cast("long").as("score_1e4"),
        count(lit(1)).cast("long").as("n_terms_hit"))
    TopK.topKWithRank(scores, col("query_id"),
        Seq(col("score_1e4").desc, col("doc_id")), k = topK, rankName = "rk")
      .select(col("query_id"), col("doc_id"), col("score_1e4"),
        col("n_terms_hit"), col("rk").cast("long").as("rk"))
  }
}
