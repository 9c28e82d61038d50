package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.F
import graft.operators.{Dedup, Relational, Sampling, TextAnalysis}

/** SURVEY.md §2.C — corpus-level model/maintenance operators a pretraining
  * pipeline runs at full-corpus scope: unigram-LM scoring (the CCNet-style
  * perplexity filter shape), incremental dedup of a new batch against an
  * existing corpus, deterministic global shuffle into training shards,
  * duplicated-n-gram mining (the substring-dedup signal), and int8
  * embedding quantization. Reference anchor: the dedup/keep-one semantics
  * extend to_dp.py's duplicate-group resolution to the corpus-maintenance
  * flows (new-batch loads, shard publishes) the reference runs per-sync.
  */
object CorpusQueries {

  /** Per-process nonce for the q172 index slot: keeps reruns within one
    * JVM reusing (and wiping) a single slot per corpus, while two
    * concurrent processes never share one. */
  private lazy val bm25IdxNonce: String =
    java.lang.Long.toHexString(java.lang.ProcessHandle.current.pid)

  /** Slots whose artifact this process already built — the warmed-probe
    * convention the ANN ladder uses (index memoized by the first call /
    * bench warmup; repeat calls measure the SERVING path). The first
    * call per (process, corpus) wipes and rebuilds, so a stale slot
    * from a crashed same-pid predecessor can never serve. */
  private val bm25IdxBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Portable 32-bit hash twin (see [[Sampling.docHash32]]). */
  private def hashSql(expr: String) =
    s"CAST(('0x' || substr(md5($expr), 1, 8)) AS BIGINT)"

  private val toksSql =
    """string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"""

  /** q167's oracle, shared verbatim by q172: the saved-index probe is
    * pinned row-for-row equal to the corpus-priced form, so ONE DuckDB
    * replay gates both encodings. */
  private lazy val bm25OracleSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang, $toksSql AS toks FROM documents
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS sum_dl FROM t
       |), tf AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2
       |), df AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
       |), dl AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t
       |), qt AS (
       |  SELECT lang AS query_id, tok FROM (
       |    SELECT lang, tok, row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rn
       |    FROM (SELECT lang, tok, COUNT(*) AS c
       |          FROM (SELECT lang, unnest(toks) AS tok FROM t) GROUP BY 1, 2)
       |  ) WHERE rn <= 3
       |), contrib AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    CAST(round(
       |      round(ln((CAST(stats.n_docs AS DOUBLE) - df.df + 0.5e0) / (CAST(df.df AS DOUBLE) + 0.5e0) + 1.0e0), 4)
       |      * (CAST(tf.tf AS DOUBLE) * 2.2e0)
       |      / (CAST(tf.tf AS DOUBLE) + 1.2e0 * (0.25e0 + 0.75e0 * CAST(dl.dl * stats.n_docs AS DOUBLE) / CAST(stats.sum_dl AS DOUBLE)))
       |      * 10000, 0) AS BIGINT) AS c_1e4
       |  FROM qt JOIN tf USING (tok) JOIN df USING (tok)
       |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
       |), sc AS (
       |  SELECT query_id, doc_id, CAST(SUM(c_1e4) AS BIGINT) AS score_1e4,
       |    CAST(COUNT(*) AS BIGINT) AS n_terms_hit
       |  FROM contrib GROUP BY 1, 2
       |)
       |SELECT query_id, doc_id, score_1e4, n_terms_hit, rk FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_1e4 DESC, doc_id) AS BIGINT) AS rk
       |  FROM sc
       |) WHERE rk <= 10
       |""".stripMargin

  /** The deterministic retrieval workload q167/q172 share: per-language
    * top-3 corpus tokens (no fixture table needed). Materialized — both
    * consumers broadcast it twice. */
  private def bm25Workload(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame = {
    import graft.operators.TopK
    val freq = Tables.documents(s, dir)
      .select(col("lang"), explode(F.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    TopK.topKWithRank(freq, col("lang"),
        Seq(col("c").desc, col("tok")), k = 3, rankName = "rn")
      .select(col("lang").as("query_id"), col("tok"))
      .transform(graft.CheckpointRegistry.local(_, true))
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // q80: unigram-LM log-probability scoring — the model-based quality
    // filter (CCNet/KenLM posture) reduced to its scalable core: fit a
    // unigram LM on the corpus itself (one token-frequency aggregation),
    // then score every document by its total token log-probability.
    // Shapes that matter at 100 TB: tokens pre-aggregate to (doc, tok,
    // cnt) BEFORE the vocab join so the exchange carries distinct tokens
    // per doc (not every occurrence); the corpus total joins as a
    // broadcast 1-row frame (no driver collect); per-token logprobs round
    // to 4dp before the weighted sum so the 1e4-scaled total is
    // integer-exact in double on both engines (the q72 trick — raw double
    // sums differ across partition orders and engines).
    "q80_unigram_logprob" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT doc_id, $toksSql AS toks FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(toks) AS tok FROM t
        |), dt AS (
        |  SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok
        |), vocab AS (
        |  SELECT tok, SUM(cnt) AS freq FROM dt GROUP BY tok
        |), tot AS (
        |  SELECT SUM(freq) AS total FROM vocab
        |)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  CAST(round(SUM(cnt * round(ln(CAST(freq AS DOUBLE) / CAST(total AS DOUBLE)), 4)) * 10000, 0) AS BIGINT) AS logprob_1e4_sum
        |FROM dt JOIN vocab USING (tok) CROSS JOIN tot
        |GROUP BY doc_id
        |""".stripMargin) { (s, dir) =>
      // the explicit isnotnull matches the filter the scoring join pushes
      // into its own copy of this subtree — with it, all three consumers
      // (scoring join, vocab, total) are canonically identical and AQE
      // reuses ONE tokenize stage instead of re-reading the corpus per
      // consumer (same alignment as q163; ProfLmReuse measured it)
      val docTok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(F.tokens(col("text"))).as("tok"))
        .where(col("tok").isNotNull)
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      val vocab = docTok.groupBy(col("tok")).agg(sum(col("cnt")).as("freq"))
      val total = vocab.agg(sum(col("freq")).as("total"))
      docTok.join(vocab, "tok")
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("cnt"),
          round(log(col("freq").cast("double") / col("total").cast("double")), 4).as("lp"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).cast("long").as("n_tokens"),
          round(sum(col("cnt") * col("lp")) * 10000, 0).cast("long").as("logprob_1e4_sum"))
    },

    // q162: Moore-Lewis cross-entropy difference selection (Moore &
    // Lewis 2010, "Intelligent Selection of Language Model Training
    // Data") — THE classic domain-targeted data-selection filter: score
    // every general-pool document by its per-token logprob under an
    // IN-DOMAIN unigram LM minus the same under the GENERAL-pool LM;
    // positive means "reads like the target domain". In-domain here is
    // the source-keyed slice src0-src2 (a source-labeled seed corpus, the
    // paper's setup); both LMs are add-1 smoothed over the SHARED corpus
    // vocabulary so out-of-domain-only tokens stay finite. Same float
    // portability as q80: round each ln at 4dp, carry the weighted sum
    // as a 1e4-scaled integer; `selected` is the sum's sign (threshold
    // 0 — the paper's cutoff is a tuned constant, the shape is the
    // same). Scale: both freq tables come out of ONE pass over the
    // tokenized pool (conditional sums, partial-combined map-side), the
    // totals are a broadcast 1-row frame, and the per-doc score joins
    // the doc-token counts against the vocab on `tok` — linear,
    // shuffle-partitioned, the q106 never-broadcast-the-vocab posture.
    "q162_ce_select" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT doc_id, source, $toksSql AS toks FROM documents
        |), dt AS (
        |  SELECT doc_id, source, tok, COUNT(*) AS cnt
        |  FROM (SELECT doc_id, source, unnest(toks) AS tok FROM t)
        |  GROUP BY doc_id, source, tok
        |), vocab AS (
        |  SELECT tok,
        |    SUM(CASE WHEN source IN ('src0', 'src1', 'src2') THEN cnt ELSE 0 END) AS f_in,
        |    SUM(CASE WHEN source IN ('src0', 'src1', 'src2') THEN 0 ELSE cnt END) AS f_gen
        |  FROM dt GROUP BY tok
        |), tot AS (
        |  SELECT SUM(f_in) AS tot_in, SUM(f_gen) AS tot_gen, COUNT(*) AS v FROM vocab
        |), sc AS (
        |  SELECT doc_id, cnt,
        |    round(ln(CAST(f_in + 1 AS DOUBLE) / CAST(tot_in + v AS DOUBLE)), 4)
        |      - round(ln(CAST(f_gen + 1 AS DOUBLE) / CAST(tot_gen + v AS DOUBLE)), 4) AS lpd
        |  FROM dt JOIN vocab USING (tok) CROSS JOIN tot
        |  WHERE source NOT IN ('src0', 'src1', 'src2')
        |)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  CAST(round(SUM(cnt * lpd) * 10000, 0) AS BIGINT) AS ce_diff_1e4_sum,
        |  CAST(round(SUM(cnt * lpd) * 10000, 0) AS BIGINT) > 0 AS selected
        |FROM sc GROUP BY doc_id
        |""".stripMargin) { (s, dir) =>
      val inDom = col("source").isin("src0", "src1", "src2")
      // one tokenize stage, physically (the q163/q80 alignment): the
      // explicit isnotnull matches the scoring join's pushed filter so
      // all consumers share one AQE stage, and the seed docs are scored
      // then dropped on an AGGREGATED flag (a pre-join source filter
      // would push into the scan and fork the subtree)
      val docTok = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), explode(F.tokens(col("text"))).as("tok"))
        .where(col("tok").isNotNull)
        .groupBy(col("doc_id"), col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      val vocab = docTok.groupBy(col("tok")).agg(
        sum(when(inDom, col("cnt")).otherwise(0L)).as("f_in"),
        sum(when(inDom, 0L).otherwise(col("cnt"))).as("f_gen"))
      val tot = vocab.agg(sum(col("f_in")).as("tot_in"),
        sum(col("f_gen")).as("tot_gen"), count(lit(1)).as("v"))
      docTok
        .join(vocab, "tok")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("source"), col("cnt"),
          (round(log((col("f_in") + 1).cast("double") / (col("tot_in") + col("v")).cast("double")), 4)
            - round(log((col("f_gen") + 1).cast("double") / (col("tot_gen") + col("v")).cast("double")), 4)).as("lpd"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).cast("long").as("n_tokens"),
          round(sum(col("cnt") * col("lpd")) * 10000, 0).cast("long").as("ce_diff_1e4_sum"),
          max(when(inDom, 1).otherwise(0)).as("__is_seed"))
        .filter(col("__is_seed") === 0).drop("__is_seed")
        .withColumn("selected", col("ce_diff_1e4_sum") > 0)
    },

    // q163: DSIR — Data Selection via Importance Resampling (Xie et al.
    // 2023), the modern form of the q162 selection family: features are
    // HASHED n-grams (unigrams + bigrams into 8192 buckets — a fixed-width
    // model no matter how the vocabulary grows), the importance weight is
    // the in-domain-vs-general log-likelihood ratio of those bucket
    // counts (add-1 smoothed over the bucket space), and the selection is
    // a GUMBEL-TOP-K resample — log w + Gumbel noise, the without-
    // replacement sample ∝ w (q111's Efraimidis-Spirakis posture with an
    // importance weight instead of a length weight). The Gumbel draw is
    // a salted-hash uniform, so the sample is deterministic and rerun-
    // stable; the ranking key is carried as a 1e4-scaled INTEGER (logw +
    // gumbel, each rounded once at 4dp) so no float ordering ever crosses
    // the engine boundary. Scale: bucket counts come out of one pass
    // (map-side partial combine; the bucket space is 8192 keys — the
    // vocab join is a broadcast-sized table even at 100 TB, unlike
    // q162's open vocabulary), totals are a broadcast 1-row frame, and
    // the top-k routes through the bounded-heap TopKPerKey trim (≤ k
    // rows per input partition ever shuffle).
    "q163_dsir" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT doc_id, source, $toksSql AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, source, unnest(list_concat(toks,
        |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS gram
        |  FROM t
        |), db AS (
        |  SELECT doc_id, source, ${hashSql("gram")} % 8192 AS b, COUNT(*) AS cnt
        |  FROM g GROUP BY 1, 2, 3
        |), vocab AS (
        |  SELECT b,
        |    SUM(CASE WHEN source IN ('src0', 'src1', 'src2') THEN cnt ELSE 0 END) AS f_in,
        |    SUM(CASE WHEN source IN ('src0', 'src1', 'src2') THEN 0 ELSE cnt END) AS f_gen
        |  FROM db GROUP BY b
        |), tot AS (
        |  SELECT SUM(f_in) AS tot_in, SUM(f_gen) AS tot_gen FROM vocab
        |), sc AS (
        |  SELECT doc_id, cnt,
        |    round(ln(CAST(f_in + 1 AS DOUBLE) / CAST(tot_in + 8192 AS DOUBLE)), 4)
        |      - round(ln(CAST(f_gen + 1 AS DOUBLE) / CAST(tot_gen + 8192 AS DOUBLE)), 4) AS lpd
        |  FROM db JOIN vocab USING (b) CROSS JOIN tot
        |  WHERE source NOT IN ('src0', 'src1', 'src2')
        |), w AS (
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
        |    CAST(round(SUM(cnt * lpd) * 10000, 0) AS BIGINT) AS logw_1e4
        |  FROM sc GROUP BY doc_id
        |), keyed AS (
        |  SELECT doc_id, n_feats, logw_1e4,
        |    logw_1e4 + CAST(round(-ln(-ln(
        |      (CAST(${hashSql("CAST(doc_id AS VARCHAR) || ':dsir'")} % 1000000 AS DOUBLE) + 0.5)
        |        / 1000000.0)) * 10000, 0) AS BIGINT) AS key_1e4
        |  FROM w
        |)
        |SELECT doc_id, n_feats, logw_1e4, key_1e4, rk FROM (
        |  SELECT doc_id, n_feats, logw_1e4, key_1e4,
        |    CAST(row_number() OVER (ORDER BY key_1e4 DESC, doc_id) AS BIGINT) AS rk
        |  FROM keyed
        |) WHERE rk <= 100
        |""".stripMargin) { (s, dir) =>
      import graft.operators.TopK
      val m = 8192
      val inDom = col("source").isin("src0", "src1", "src2")
      val toks = F.tokens(col("text"))
      val bigrams = zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (p, c) => concat(p, lit(" "), c))
      // ONE tokenize pass, physically: all three consumers of the
      // per-(doc, bucket) counts — the per-bucket LM table, the corpus
      // totals, and the per-doc scoring join — hang off the SAME
      // unfiltered aggregation, so Spark's exchange reuse materializes
      // the explode+count once (PlanSpec pins one documents scan). The
      // naive form (filter the seed docs before scoring) pushes the
      // source filter into the scan, makes the subtrees non-identical
      // and re-tokenizes the corpus once per consumer; instead every
      // doc is scored (the seed rows ride the shared exchange for free)
      // and the seed is dropped on an AGGREGATED flag, which no
      // pushdown can move below the join.
      val docBuckets = Tables.documents(s, dir)
        // lesson-4 hash compute spread (r11, measured): tokenize+bigram+
        // explode ran as one ~1.7 s task on the single-row-group scan.
        // r11 FIX: the spread exchange (hash on doc_id) SATISFIES the
        // groupBy's clustering requirement, so the aggregate loses its own
        // Exchange — the very node ReuseExchange shared across the three
        // consumers — and the whole tokenize+explode+count chain re-ran
        // once PER consumer (measured: taskMs 9.0k -> 200k, 3 full scan
        // chains in the plan). Materialize the per-(doc, source, bucket)
        // counts ONCE with a lazy localCheckpoint instead of leaning on
        // exchange reuse: same bytes a reused exchange would have written,
        // explicit instead of optimizer-dependent (guide §3.3).
        .select(col("doc_id"), col("source"), col("text"))
        .transform(graft.operators.Relational.spreadForCompute(_, col("doc_id")))
        .select(col("doc_id"), col("source"),
          explode(concat(toks, bigrams)).as("gram"))
        .select(col("doc_id"), col("source"),
          (Sampling.docHash32(col("gram")) % m).as("b"))
        .groupBy(col("doc_id"), col("source"), col("b"))
        .agg(count(lit(1)).as("cnt"))
        .transform(graft.CheckpointRegistry.local(_, false))
      val vocab = docBuckets.groupBy(col("b")).agg(
        sum(when(inDom, col("cnt")).otherwise(0L)).as("f_in"),
        sum(when(inDom, 0L).otherwise(col("cnt"))).as("f_gen"))
      val tot = docBuckets.agg(
        sum(when(inDom, col("cnt")).otherwise(0L)).as("tot_in"),
        sum(when(inDom, 0L).otherwise(col("cnt"))).as("tot_gen"))
      val weights = docBuckets
        .join(broadcast(vocab), "b") // ≤ m rows by construction — always broadcastable
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("source"), col("cnt"),
          (round(log((col("f_in") + 1).cast("double") / (col("tot_in") + m).cast("double")), 4)
            - round(log((col("f_gen") + 1).cast("double") / (col("tot_gen") + m).cast("double")), 4))
            .as("lpd"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).cast("long").as("n_feats"),
          round(sum(col("cnt") * col("lpd")) * 10000, 0).cast("long").as("logw_1e4"),
          max(when(inDom, 1).otherwise(0)).as("__is_seed"))
        .filter(col("__is_seed") === 0).drop("__is_seed")
      val u = ((Sampling.saltedHash32(col("doc_id"), "dsir") % 1000000).cast("double")
        + lit(0.5)) / lit(1000000.0)
      val keyed = weights.withColumn("key_1e4",
        col("logw_1e4") + round(-log(-log(u)) * 10000, 0).cast("long"))
      TopK.topKWithRank(keyed, lit(1),
          Seq(col("key_1e4").desc, col("doc_id")), k = 100, rankName = "rk")
        .select(col("doc_id"), col("n_feats"), col("logw_1e4"), col("key_1e4"),
          col("rk").cast("long").as("rk"))
    },

    // q106: bigram-LM scoring with stupid backoff — the level-2
    // model-based quality filter (q80 is the unigram floor; real
    // perplexity filters are n-gram). The model TRAINS on a 90%
    // hash-split of the corpus and scores ALL docs, so held-out docs hit
    // genuinely unseen bigrams and the backoff arm is live, oracled data
    // (n_backoff > 0), not dead code. Scale shapes: per-pair logprob
    // ln(B/U(prev)) precomputes INTO the model at build time (B⋈U once,
    // not per scored occurrence); doc bigrams pre-aggregate to
    // (doc, p, c, cnt) before any model join; the backoff unigram join
    // keys on `c` (linear, partial-combined — a 100 TB vocab never
    // broadcasts); corpus total is a broadcast 1-row frame. Same
    // round-4dp + 1e4-integer-sum float portability as q80.
    "q106_bigram_logprob" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT doc_id, $toksSql AS toks FROM documents
        |), pr AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> {'p': toks[i], 'c': toks[i+1]}), recursive := true)
        |  FROM t WHERE len(toks) >= 2
        |), dp AS (
        |  SELECT doc_id, p, c, COUNT(*) AS cnt FROM pr GROUP BY doc_id, p, c
        |), train AS (
        |  SELECT doc_id FROM documents
        |  WHERE ${hashSql("CAST(doc_id AS VARCHAR) || ':lm'")} % 10 < 9
        |), tb AS (
        |  SELECT p, c, SUM(cnt) AS bcnt FROM dp JOIN train USING (doc_id) GROUP BY p, c
        |), tuc AS (
        |  SELECT tok, COUNT(*) AS ucnt
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) u JOIN train USING (doc_id)
        |  GROUP BY tok
        |), tot AS (
        |  SELECT SUM(ucnt) AS total FROM tuc
        |), model AS (
        |  SELECT p, c, round(ln(CAST(bcnt AS DOUBLE) / CAST(ucnt AS DOUBLE)), 4) AS lp
        |  FROM tb JOIN tuc ON tb.p = tuc.tok
        |), sc AS (
        |  SELECT dp.doc_id, dp.cnt, model.lp AS lp_pair,
        |    round(ln(0.4 * CAST(COALESCE(cu.ucnt, 1) AS DOUBLE) / CAST(tot.total AS DOUBLE)), 4) AS lp_back
        |  FROM dp LEFT JOIN model USING (p, c)
        |  LEFT JOIN tuc cu ON dp.c = cu.tok
        |  CROSS JOIN tot
        |)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
        |  CAST(round(SUM(cnt * COALESCE(lp_pair, lp_back)) * 10000, 0) AS BIGINT) AS logprob_1e4_sum,
        |  CAST(SUM(CASE WHEN lp_pair IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_backoff
        |FROM sc GROUP BY doc_id
        |""".stripMargin) { (s, dir) =>
      // lesson-4 hash compute spread (r11, measured): tokenize + bigram
      // explode ran as ~0.4 s + ~0.9 s single tasks on the single-row-
      // group scan; the spread exchange sits BELOW the tokenize so both
      // the bigram and unigram consumers still share one pass.
      // r11: NO compute spread here — with the spread the doc_id-partitioned
      // layout swallowed docPairs' aggregate Exchange (killing its reuse, see
      // the checkpoint note below) and the 32-way tokenize stages hit GC
      // contention; measured solo 1.54 s (no spread) vs 2.6 s (spread).
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), F.tokens(col("text")).as("toks"))
      val isTrain = Sampling.saltedHash32(col("doc_id"), "lm") % 10 < 9
      // stage-reuse alignment (the q163/q80/q162 pattern): the explicit
      // isnotnull filters match what the downstream joins push into
      // their own copies, and the train-side bigram table derives from
      // the UNFILTERED pair counts via a conditional sum (a tr filter
      // before the aggregate would push into the scan and fork the
      // subtree) — so the bigram explode+count and the unigram count
      // each materialize ONCE, not once per consumer
      val pairs = base.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), isTrain.as("tr"),
          explode(arrays_zip(
            slice(col("toks"), lit(1), size(col("toks")) - 1).as("p"),
            slice(col("toks"), lit(2), size(col("toks")) - 1).as("c"))).as("pc"))
        .select(col("doc_id"), col("tr"), col("pc.p").as("p"), col("pc.c").as("c"))
        .where(col("p").isNotNull && col("c").isNotNull)
      val docPairs = pairs.groupBy(col("doc_id"), col("tr"), col("p"), col("c"))
        .agg(count(lit(1)).as("cnt"))
      val bigrams = docPairs
        .groupBy(col("p"), col("c"))
        .agg(sum(when(col("tr"), col("cnt")).otherwise(0L)).as("bcnt"))
        .filter(col("bcnt") > 0) // pairs the train split never saw back off
      val unigrams = base.filter(isTrain)
        .select(explode(col("toks")).as("tok"))
        .where(col("tok").isNotNull)
        .groupBy(col("tok")).agg(count(lit(1)).as("ucnt"))
      val total = unigrams.agg(sum(col("ucnt")).as("total"))
      val model = bigrams.join(unigrams, col("p") === col("tok"))
        .select(col("p"), col("c"),
          round(log(col("bcnt").cast("double") / col("ucnt").cast("double")), 4).as("lp"))
      docPairs
        .join(model, Seq("p", "c"), "left")
        .join(unigrams.withColumnRenamed("tok", "c").withColumnRenamed("ucnt", "cu"),
          Seq("c"), "left")
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("cnt"),
          col("lp").as("lp_pair"),
          round(log(lit(0.4) * coalesce(col("cu"), lit(1L)).cast("double")
            / col("total").cast("double")), 4).as("lp_back"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).cast("long").as("n_bigrams"),
          round(sum(col("cnt") * coalesce(col("lp_pair"), col("lp_back"))) * 10000, 0)
            .cast("long").as("logprob_1e4_sum"),
          sum(when(col("lp_pair").isNull, col("cnt")).otherwise(lit(0L)))
            .cast("long").as("n_backoff"))
    },

    // q81: incremental dedup — the per-sync flow a living corpus actually
    // runs: dedupe the NEW batch against the existing corpus (and within
    // itself) without ever rescanning corpus bodies. The batch split is a
    // deterministic hash so the oracle replays it; only 16-byte content
    // hashes move through the join (bodies never shuffle), and at 100 TB
    // the existing side is a pre-built hash index (bucketed by text_hash)
    // so the probe is a co-located join, not a corpus scan.
    // q130: INCREMENTAL cluster maintenance *(rows-only: seeded
    // minhash)* — extend the previous sync's dedup clustering with a new
    // batch (the top-quarter doc ids: monotone arrival, the growing-
    // corpus shape) without re-clustering the corpus. The old clustering
    // enters as (id → label) POINTER EDGES, so CC's first round collapses
    // every old component to one node and the iterative work is
    // proportional to the NEW links; monotone ids make bucket minima
    // stable, so the result is label-for-label IDENTICAL to re-running
    // the full star composition (q67's path) — DedupSpec pins it. q81 is
    // the exact-hash version of this flow; this is the near-dup cluster
    // version.
    "q130_incremental_clusters" -> QueryDef.rowsOnly { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // Batch boundary: the deterministic top-quarter split. A production
      // sync passes its ingest watermark as firstNewId instead — at
      // 100 TB this max(doc_id) scan is a full corpus pass.
      val cutoff =
        docs.agg((floor(max(col("doc_id")) * 3L / 4L) + 1L).cast("long")).head().getLong(0)
      // ONE signature pass for the whole query: a signature is a pure
      // per-doc function, so the old side is exactly the full table
      // filtered to id < cutoff (at scale this frame is the persisted
      // signature artifact the sync already keeps).
      val sigsAll = Dedup.minhashSignatures(docs, "doc_id", "text", k = 64, shingleWidth = 3)
        .transform(graft.CheckpointRegistry.local(_, true)) // EAGER: both concurrent chains read it
      Dedup.incrementalMinhashLabels(docs.select(col("doc_id").as("id")), sigsAll, cutoff,
          // the previous sync's clustering: star links over old ids → CC
          Dedup.connectedComponents(
            docs.filter(col("doc_id") < cutoff).select(col("doc_id").as("id")),
            Dedup.starLinksFromSigs(sigsAll.filter(col("id") < cutoff), threshold = 0.9)
              .select(col("id_a"), col("id_b"))),
          threshold = 0.9)
        .withColumn("cluster", col("label")).drop("label")
        .transform(Dedup.withMemberCounts(_))
    },

    "q81_incremental_dedup" -> QueryDef.of(
      s"""WITH h AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS text_hash,
        |    ${hashSql("CAST(doc_id AS VARCHAR)")} % 4 = 0 AS incoming
        |  FROM documents
        |), existing AS (
        |  SELECT DISTINCT text_hash FROM h WHERE NOT incoming
        |), inc AS (
        |  SELECT doc_id, text_hash,
        |    row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        |  FROM h WHERE incoming
        |)
        |SELECT inc.doc_id, inc.text_hash,
        |  CAST(CASE WHEN e.text_hash IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS dup_vs_corpus,
        |  CAST(CASE WHEN e.text_hash IS NULL AND rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM inc LEFT JOIN existing e ON inc.text_hash = e.text_hash
        |""".stripMargin) { (s, dir) =>
      val hashed = Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("text_hash"),
          (Sampling.docHash32(col("doc_id")) % 4 === 0).as("incoming"))
      val existing = hashed.filter(!col("incoming"))
        .select(col("text_hash")).distinct()
        .withColumn("seen", lit(true))
      // Everything per-hash folds into ONE frame first — batch-first id
      // and copy count from a map-side-combined aggregate (the mega-key
      // collapses per input split), store membership from a hash×hash
      // join (one row per side per hash: balanced by construction) —
      // and the per-occurrence delivery goes through the skew-safe
      // Dedup.joinPerHash (hot hashes broadcast and never shuffle; cold
      // hashes are per-key bounded). The r9 row_number window partitioned
      // by the content hash would sort a boilerplate mega-key's whole
      // copy list in one task, and AQE skew handling splits joins, never
      // windows. This is the passageDedupSink shape applied to exact
      // dedup (the streaming twin StreamingSpec pins against this query).
      val incoming = hashed.filter(col("incoming"))
      val perHash = incoming.groupBy(col("text_hash"))
        .agg(min(col("doc_id")).as("first_id"), count(lit(1)).as("cnt"))
        .join(existing, Seq("text_hash"), "left")
        .withColumn("seen", coalesce(col("seen"), lit(false)))
        .withColumnRenamed("text_hash", "h")
        .transform(graft.CheckpointRegistry.local(_, false))
      graft.operators.Dedup.joinPerHash(
          incoming.withColumnRenamed("text_hash", "h"), perHash, "cnt")
        .select(col("doc_id"), col("h").as("text_hash"),
          when(col("seen"), 1L).otherwise(0L).as("dup_vs_corpus"),
          when(!col("seen") && col("doc_id") === col("first_id"), 1L)
            .otherwise(0L).as("keep"))
    },

    // q82: deterministic global shuffle into training shards — the last
    // step before a training run reads the corpus: every doc gets a
    // pseudo-random but RERUN-STABLE shard and an in-shard position
    // (hash-ordered, so adjacent source docs scatter). rand() would break
    // task-retry determinism; a salted key hash gives the same layout on
    // every backfill. The in-shard position is a TWO-LEVEL rank
    // (PrefixSum.rowNumber): a window partitioned by the 16 fixed shards
    // would sort corpus/16 rows in ONE task at 100 TB, so rows shuffle
    // once on (shard, h div 2^20) — 4096 hash-prefix sub-buckets per
    // shard, each window task corpus/65536 — and pos = broadcast
    // sub-bucket base + within-bucket row_number. The single raw-row
    // exchange still IS the training shuffle (data lands hash-clustered
    // by (shard, hash prefix) — a per-shard writer reads it unchanged).
    "q82_shard_assign" -> QueryDef.of(
      s"""SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM (
        |  SELECT doc_id,
        |    ${hashSql("CAST(doc_id AS VARCHAR) || ':shard'")} AS h,
        |    ${hashSql("CAST(doc_id AS VARCHAR) || ':shard'")} % 16 AS shard
        |  FROM documents
        |)""".stripMargin) { (s, dir) =>
      val h = Sampling.docHash32(concat(col("doc_id").cast("string"), lit(":shard")))
      graft.operators.PrefixSum.rowNumber(
          Tables.documents(s, dir)
            .select(col("doc_id"), h.as("h"), (h % 16).as("shard")),
          Seq("shard"), expr("h div 1048576"),
          Seq(col("h"), col("doc_id")), "pos")
        .select(col("doc_id"), col("shard"), col("pos"))
    },

    // q83: duplicated-n-gram mining — the per-doc substring-dedup signal
    // (how much of this doc's 13-gram mass appears elsewhere in the
    // corpus), the scalable relaxation of suffix-array substring dedup.
    // Shingles are md5'd BEFORE the frequency join so the exchange
    // carries 32-hex keys, never 13-word strings; per-doc distinct
    // shingles mean the frequency is a document frequency, and both
    // aggregations partial-combine map-side.
    "q83_dup_ngrams" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT doc_id, $toksSql AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 11),
        |                i -> array_to_string(list_slice(toks, i, i + 12), ' ')))
        |    END AS shs
        |  FROM t
        |), e AS (
        |  SELECT doc_id, md5(sh) AS sh FROM (SELECT doc_id, unnest(shs) AS sh FROM sh)
        |), f AS (
        |  SELECT sh, COUNT(*) AS df FROM e GROUP BY sh
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles
        |FROM e JOIN f USING (sh) GROUP BY doc_id
        |""".stripMargin) { (s, dir) =>
      // lesson-4 compute spread (r11, measured): documents is ONE parquet
      // row group locally, so tokenize+shingle+md5 ran as single ~0.5 s
      // tasks (twice: the e and f arms). Spreading the (doc_id, text)
      // scan parallelizes the chain; one exchange, reused by both arms.
      val e = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .transform(graft.operators.Relational.spreadForCompute(_, col("doc_id")))
        .select(col("doc_id"),
          explode(array_distinct(Dedup.shingles(F.tokens(col("text")), 13))).as("sh"))
        .select(col("doc_id"), md5(col("sh")).as("sh"))
      val f = e.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      e.join(f, "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_shingles"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup_shingles"))
    },

    // q85: BPE merge-pair counting — the first iteration of tokenizer
    // induction (which adjacent character pair is most frequent), i.e.
    // the "fit the tokenizer" step of a training-data pipeline. The ONLY
    // corpus-sized pass is the word-count aggregation; the char-bigram
    // explode runs over the VOCABULARY (tiny next to the corpus). The
    // global top-100 rank goes through the single-group TopKPerKey trim
    // (constant key): the pair space is alphabet²-bounded TODAY, but the
    // bounded-heap trim makes the single sorted group ≤ 100 rows BY
    // CONSTRUCTION — a future edit feeding an unbounded frame here can
    // no longer regress to a full single-partition sort, and the
    // "WindowExec: No Partition Defined" warning the bare global window
    // emitted is gone (PlanSpec pins the node).
    "q85_bpe_pairs" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT $toksSql AS toks FROM documents
        |), w AS (
        |  SELECT tok, COUNT(*) AS f
        |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok
        |), p AS (
        |  SELECT substr(tok, i, 2) AS pair, SUM(f) AS cnt
        |  FROM (SELECT tok, f, unnest(range(1, len(tok))) AS i FROM w WHERE len(tok) >= 2)
        |  GROUP BY substr(tok, i, 2)
        |)
        |SELECT pair, cnt, rank FROM (
        |  SELECT pair, CAST(cnt AS BIGINT) AS cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rank
        |  FROM p
        |) WHERE rank <= 100
        |""".stripMargin) { (s, dir) =>
      val words = Tables.documents(s, dir)
        .select(explode(F.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      val pairs = words.filter(length(col("tok")) >= 2)
        .select(col("f"), explode(transform(
          sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
      graft.operators.TopK.topKWithRank(pairs, lit(0),
          Seq(col("cnt").desc, col("pair")), 100, "rank")
        .select(col("pair"), col("cnt").cast("long").as("cnt"),
          col("rank").cast("long").as("rank"))
    },

    // q129: BPE tokenizer INDUCTION *(rows-only: SQL cannot loop)* — the
    // full merge-learning loop q85 is the first iteration of (Sennrich et
    // al. ACL'16). Corpus-sized work happens ONCE (the word-count
    // aggregation — word frequencies are sufficient statistics for every
    // round); each of the 6 rounds is vocabulary-sized: bigram explode,
    // one argmax (1-row driver collect, the round's convergence
    // artifact), greedy non-overlapping merge rewrite, localCheckpoint
    // (lesson 20a). Deterministic tie-break on (left, right). BpeSpec
    // pins the merge table against a single-threaded reference BPE,
    // the greedy-overlap rule, and the non-increasing winner counts.
    "q129_bpe_train" -> QueryDef.rowsOnly { (s, dir) =>
      import graft.operators.Bpe
      val words = Tables.documents(s, dir)
        .select(explode(F.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      Bpe.learnMerges(s, words, rounds = 6)
    },

    // q145: BPE ENCODE *(rows-only: the merge fold loops)* — apply
    // q129's learned merge table to tokenize the corpus, the train→apply
    // loop every tokenizer pipeline closes. Scale posture: the merge
    // table is a rounds-bounded broadcast artifact; the M·|word| encode
    // loop runs over DISTINCT words only (vocabulary-sized — the same
    // sufficient-statistics argument as training), and corpus subword
    // statistics come from weighting by word frequency — documents are
    // touched exactly once, by the word count. Output: per-subword
    // vocabulary occurrences + corpus frequency. BpeSpec pins the fold
    // against an independent HF-style lowest-rank-first priority encoder
    // on real corpus words, the concatenation invariant, and the
    // char-count conservation law the weighted stats imply.
    "q145_bpe_encode" -> QueryDef.rowsOnly { (s, dir) =>
      import graft.operators.Bpe
      val words = Tables.documents(s, dir)
        .select(explode(F.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      val merges = Bpe.learnMerges(s, words, rounds = 6)
      Bpe.encodeWords(s, words, merges)
        .select(explode(col("subwords")).as("subword"), col("f"))
        .groupBy(col("subword"))
        .agg(count(lit(1)).cast("long").as("n_vocab_occurrences"),
          sum(col("f")).cast("long").as("corpus_freq"))
    },

    // q88: the corpus BUILD pipeline end to end — quality gate → exact
    // dedup → benchmark decontamination → stratified sample → sequence
    // packing → shard assignment, composed from the verified kernels
    // (q29/q22/q75/q69/q70/q82) into the row-level output a training job
    // reads: (doc, tokens, packed sequence, shard). The LLM-side flagship,
    // mirroring q64/q65's derive-flow composition, measured honestly as
    // one query and ORACLE-VERIFIED through the whole chain. Stage order
    // is the cost order: the gate shrinks dedup's shuffle, dedup shrinks
    // the decontamination probe, and only survivors pay tokenization.
    "q88_corpus_build" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT doc_id, lang, text, $toksSql AS toks FROM documents
        |), scored AS (
        |  SELECT doc_id, lang, text, toks,
        |    (CAST(len(list_filter(toks, x -> x IN (${TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len(toks)) * 0.5
        |      + (CAST(least(len(toks), 100) AS DOUBLE) / 100.0) * 0.5 AS quality
        |  FROM t
        |), gated AS (
        |  SELECT * FROM scored WHERE round(quality, 4) >= 0.3
        |), deduped AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY md5(trim(regexp_replace(text, '\\s+', ' ', 'g')))
        |      ORDER BY doc_id) AS rn
        |    FROM gated
        |  ) WHERE rn = 1
        |), ev AS (
        |  SELECT DISTINCT unnest(shs) AS sh FROM (
        |    SELECT CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |                ELSE list_distinct(list_transform(range(1, len(toks) - 6),
        |                       i -> array_to_string(list_slice(toks, i, i + 7), ' ')))
        |           END AS shs
        |    FROM t WHERE doc_id % 10 = 7)
        |), corp AS (
        |  SELECT * FROM deduped WHERE doc_id % 10 <> 7
        |), contaminated AS (
        |  SELECT DISTINCT c.doc_id FROM (
        |    SELECT doc_id, unnest(
        |      CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |           ELSE list_distinct(list_transform(range(1, len(toks) - 6),
        |                  i -> array_to_string(list_slice(toks, i, i + 7), ' ')))
        |      END) AS sh
        |    FROM corp
        |  ) c JOIN ev ON c.sh = ev.sh
        |), sampled AS (
        |  SELECT corp.doc_id, corp.lang, corp.text
        |  FROM corp LEFT JOIN contaminated ON corp.doc_id = contaminated.doc_id
        |  WHERE contaminated.doc_id IS NULL
        |    AND ${hashSql("CAST(corp.doc_id AS VARCHAR)")} % 8 <
        |        CASE WHEN corp.lang = 'en' THEN 4 WHEN corp.lang IN ('zh','es','de','fr') THEN 2 ELSE 1 END
        |), cum AS (
        |  SELECT doc_id, lang, tokens,
        |    SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
        |  FROM (
        |    SELECT doc_id, lang,
        |      CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS tokens
        |    FROM sampled
        |  )
        |)
        |SELECT doc_id, lang, tokens,
        |  CAST(floor((cum - tokens) / 512.0) AS BIGINT) AS seq_id,
        |  CAST((cum - tokens) % 512 AS BIGINT) AS seq_off,
        |  ${hashSql("lang || ':' || CAST(CAST(floor((cum - tokens) / 512.0) AS BIGINT) AS VARCHAR)")} % 16 AS shard
        |FROM cum
        |""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val gated = docs
        .select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.qualityScore(F.tokens(col("text"))).as("quality"))
        .filter(col("quality") >= 0.3)
      val deduped = Relational.dedupKeepFirstAgg(
        gated.withColumn("text_hash",
          md5(trim(regexp_replace(col("text"), "\\s+", " ")))),
        keys = Seq(col("text_hash")),
        order = Seq(col("doc_id"))).drop("text_hash")
      // benchmark shingles broadcast (tiny next to the corpus, q75 shape)
      val evalShingles = docs.filter(col("doc_id") % 10 === 7)
        .select(explode(array_distinct(Dedup.shingles(F.tokens(col("text")), 8))).as("sh"))
        .distinct()
      val corp = deduped.filter(col("doc_id") % 10 =!= 7)
      val contaminated = corp
        .select(col("doc_id"),
          explode(array_distinct(Dedup.shingles(F.tokens(col("text")), 8))).as("sh"))
        .join(broadcast(evalShingles), "sh")
        .select(col("doc_id")).distinct()
      val sampled = corp
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(Sampling.stratifiedKeep(col("doc_id"), col("lang")))
      // packing cumsum via the two-level prefix sum (q70's posture): a
      // per-lang window would serialize the dominant language's whole
      // sampled corpus into one sort task at 100 TB. The raw-row
      // exchange on (lang, doc_id div 65536) is REUSED by the totals
      // branch, so the gate→dedup→decontaminate→sample chain above runs
      // once (PlanSpec pins the ReusedExchange).
      val packed = graft.operators.PrefixSum.runningSum(
        sampled.select(col("doc_id"), col("lang"),
          TextAnalysis.bpeTokenCount(col("text")).as("tokens")),
        Seq("lang"), expr("doc_id div 65536"), Seq(col("doc_id")),
        col("tokens"), "cum")
      packed.select(col("doc_id"), col("lang"), col("tokens"),
        floor((col("cum") - col("tokens")) / 512.0).cast("long").as("seq_id"),
        ((col("cum") - col("tokens")) % 512).cast("long").as("seq_off"))
        .withColumn("shard",
          Sampling.docHash32(concat(col("lang"), lit(":"), col("seq_id").cast("string"))) % 16)
    },

    // q89: temperature-based mixture reweighting — the multilingual
    // data-mixing math (sample languages ∝ p^α, α=0.5, so low-resource
    // strata are upweighted relative to their share). All arithmetic
    // after the one corpus-sized count is over #languages rows; exactness
    // across engines comes from integerizing early: sqrt is IEEE
    // correctly-rounded on both, its 1e6-scaled rounding is the only
    // float step, and the normalization runs in integer space. The
    // global windows are single-partition by construction — bounded by
    // the language count, not the corpus.
    "q89_mixture_weights" -> QueryDef.of(
      """WITH c AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs FROM documents GROUP BY lang
        |), s AS (
        |  SELECT lang, docs,
        |    CAST(round(sqrt(CAST(docs AS DOUBLE) / SUM(docs) OVER ()) * 1000000, 0) AS BIGINT) AS sqrt_1e6
        |  FROM c
        |)
        |SELECT lang, docs, sqrt_1e6,
        |  CAST(floor(sqrt_1e6 * 1000000.0 / SUM(sqrt_1e6) OVER ()) AS BIGINT) AS w_1e6,
        |  CAST(floor(sqrt_1e6 * 100000.0 / SUM(sqrt_1e6) OVER ()) AS BIGINT) AS budget_docs
        |FROM s
        |""".stripMargin) { (s, dir) =>
      val all = Window.partitionBy()
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("docs"))
        .withColumn("sqrt_1e6",
          round(sqrt(col("docs").cast("double") / sum(col("docs")).over(all)) * 1000000, 0)
            .cast("long"))
        .withColumn("w_1e6",
          floor(col("sqrt_1e6") * lit(1000000.0) / sum(col("sqrt_1e6")).over(all)).cast("long"))
        .withColumn("budget_docs",
          floor(col("sqrt_1e6") * lit(100000.0) / sum(col("sqrt_1e6")).over(all)).cast("long"))
    },

    // q91: per-language top-3 quality exemplars — through the custom
    // TopKPerKey plan node (LogicalPlan + SparkStrategy + SparkPlan,
    // registered via SparkSessionExtensions), NOT the window encoding:
    // partial bounded heaps trim each input partition to ≤ k rows per key
    // BEFORE the exchange, so the shuffle carries k·keys·partitions rows
    // instead of the whole table, and nothing ever sorts. The DuckDB
    // oracle is the row_number window — same semantics, different plan —
    // so the hash gate proves the custom operator end to end.
    "q91_topk_per_key" -> QueryDef.of(
      s"""WITH scored AS (
        |  SELECT doc_id, lang,
        |    round((CAST(len(list_filter(toks, x -> x IN (${TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len(toks)) * 0.5
        |      + (CAST(least(len(toks), 100) AS DOUBLE) / 100.0) * 0.5, 4) AS quality
        |  FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents)
        |)
        |SELECT lang, doc_id, quality FROM (
        |  SELECT lang, doc_id, quality,
        |    row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn
        |  FROM scored
        |) WHERE rn <= 3
        |""".stripMargin) { (s, dir) =>
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(F.tokens(col("text"))).as("quality"))
      graft.operators.TopK.topKPerKey(scored,
        keys = Seq(col("lang")),
        order = Seq(col("quality").desc, col("doc_id")),
        k = 3)
        .select(col("lang"), col("doc_id"), col("quality"))
    },

    // q86: per-language cardinality report via HyperLogLog++ — the 100 TB
    // distinct-count path. Exact COUNT(DISTINCT hash) shuffles every
    // distinct key; HLL++ sketches partial-merge map-side, so the
    // exchange carries one ~KB sketch per (group × partition) regardless
    // of corpus size. Rows-only (sketch internals are engine-specific);
    // CorpusSpec pins the ≤5% relative error against the exact count and
    // the exact doc totals ride the same pass as a cross-check.
    "q86_cardinality_hll" -> QueryDef.rowsOnly { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("text_hash"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("docs"),
          // rsd 2%: ~4x the default sketch (still KBs/group) buys errors
          // that hold the spec's 5% bound even on hundred-element groups
          approx_count_distinct(col("text_hash"), 0.02).as("approx_uniq"))
    },

    // q87: corpus snapshot diff — the data-versioning report a living
    // corpus publishes per sync (reference posture: each load_to_*
    // rewrite is a new snapshot; q36's upsert keeps the latest row, this
    // reports WHAT changed between two of them). Snapshots v1/v2 derive
    // deterministically (hash-dropped rows simulate adds/removes, a
    // hash-selected slice gets edited text), diff is ONE full outer join
    // on doc_id comparing content hashes — at 100 TB both snapshots are
    // bucketed by doc_id so the join co-locates without a shuffle — and
    // the rollup is one partial-aggregated groupBy.
    "q87_snapshot_diff" -> QueryDef.of(
      s"""WITH base AS (
        |  SELECT doc_id, lang,
        |    md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS h,
        |    ${hashSql("CAST(doc_id AS VARCHAR) || ':v'")} % 10 AS slot
        |  FROM documents
        |), v1 AS (
        |  SELECT doc_id, lang, h FROM base WHERE slot <> 0
        |), v2 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN slot = 2 THEN md5(h || ':edited') ELSE h END AS h
        |  FROM base WHERE slot <> 1
        |)
        |SELECT lang, status, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT coalesce(v1.lang, v2.lang) AS lang,
        |    CASE WHEN v1.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN v1.h <> v2.h THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |) GROUP BY lang, status
        |""".stripMargin) { (s, dir) =>
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("h"),
          (Sampling.docHash32(concat(col("doc_id").cast("string"), lit(":v"))) % 10).as("slot"))
      val v1 = base.filter(col("slot") =!= 0).select(col("doc_id"), col("lang"), col("h"))
      val v2 = base.filter(col("slot") =!= 1)
        .select(col("doc_id"), col("lang"),
          when(col("slot") === 2, md5(concat(col("h"), lit(":edited")))).otherwise(col("h")).as("h"))
      v1.as("a").join(v2.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
        .select(coalesce(col("a.lang"), col("b.lang")).as("lang"),
          when(col("a.doc_id").isNull, "added")
            .when(col("b.doc_id").isNull, "removed")
            .when(col("a.h") =!= col("b.h"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("lang"), col("status"))
        .agg(count(lit(1)).cast("long").as("n"))
    },

    // q126: INCREMENTAL report maintenance — refresh the per-language
    // (docs, chars) report across q87's v1→v2 snapshot transition by
    // applying ONLY the changelog delta to the previous sync's
    // materialized report, never re-aggregating unchanged documents.
    // Delta algebra: added → (+1, +len), removed → (−1, −len), changed →
    // (0, len₂−len₁); unchanged rows are FILTERED OUT before the delta
    // aggregation, so the second aggregate is changelog-sized. At 100 TB
    // the previous report is a #languages-row artifact and the diff join
    // runs over (doc_id, 16-byte content hash, len) on bucket-co-located
    // snapshots — document text never participates; with a CDC changelog
    // feed the diff join disappears entirely. The ORACLE recomputes the
    // v2 report from scratch — the hash gate therefore proves the
    // incremental maintenance law R(v2) = R(v1) ⊕ Δ, not just the
    // arithmetic. (The synthetic slot-2 edit appends ' [edited]': 9
    // chars, so changed docs move the chars metric and exercise the
    // changed arm with a nonzero delta.)
    "q126_incremental_report" -> QueryDef.of(
      s"""WITH base AS (
        |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len,
        |    ${hashSql("CAST(doc_id AS VARCHAR) || ':v'")} % 10 AS slot
        |  FROM documents
        |), v2 AS (
        |  SELECT lang, CASE WHEN slot = 2 THEN len + 9 ELSE len END AS len
        |  FROM base WHERE slot <> 1
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(len) AS BIGINT) AS chars
        |FROM v2 GROUP BY lang
        |""".stripMargin) { (s, dir) =>
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("len"),
          md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("h"),
          (Sampling.docHash32(concat(col("doc_id").cast("string"), lit(":v"))) % 10).as("slot"))
      val v1 = base.filter(col("slot") =!= 0)
        .select(col("doc_id"), col("lang"), col("len"), col("h"))
      val v2 = base.filter(col("slot") =!= 1)
        .select(col("doc_id"), col("lang"),
          when(col("slot") === 2, col("len") + 9).otherwise(col("len")).as("len"),
          when(col("slot") === 2, md5(concat(col("h"), lit(":edited")))).otherwise(col("h")).as("h"))
      // The previous sync's materialized artifact (#languages rows).
      val r1 = v1.groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("docs"), sum(col("len")).as("chars"))
      // The changelog: diff rows only — status decided on the content
      // hash (a changed doc whose metric happens not to move still flows
      // through and contributes a zero delta, as a real CDC feed would).
      val delta = v1.as("a")
        .join(v2.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
        .filter(col("a.doc_id").isNull || col("b.doc_id").isNull || col("a.h") =!= col("b.h"))
        .select(coalesce(col("b.lang"), col("a.lang")).as("lang"),
          (when(col("a.doc_id").isNull, 1L).otherwise(0L)
            - when(col("b.doc_id").isNull, 1L).otherwise(0L)).as("d_docs"),
          (coalesce(col("b.len"), lit(0L)) - coalesce(col("a.len"), lit(0L))).as("d_chars"))
        .groupBy(col("lang"))
        .agg(sum(col("d_docs")).as("d_docs"), sum(col("d_chars")).as("d_chars"))
      r1.join(delta, Seq("lang"), "full_outer")
        .select(col("lang"),
          (coalesce(col("docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L))).cast("long").as("docs"),
          (coalesce(col("chars"), lit(0L)) + coalesce(col("d_chars"), lit(0L))).cast("long").as("chars"))
        .filter(col("docs") > 0)
    },

    // q127: corpus OVERLAP estimation via KMV sketches *(rows-only:
    // estimator)* — how much of snapshot v2's distinct content already
    // sits in v1, WITHOUT joining the corpora. The exact answer is a
    // distinct-key join (every distinct content hash of both sides
    // crosses the wire); the KMV path reduces each side to its k smallest
    // element hashes (mergeable bottom-k partial heaps — ≤ k longs per
    // partition) and estimates union/Jaccard/intersection from the two
    // k-entry arrays meeting in a 1×1 join. The sketches are a few KB and
    // ship between CLUSTERS — the actual use ("is my corpus inside that
    // one?"). KmvSpec pins the exact-degenerate regime (|A∪B| ≤ k →
    // exact) and the estimator error against the exact join. Exact
    // counts deliberately NOT computed here — that would be the join
    // this query exists to avoid.
    "q127_corpus_overlap" -> QueryDef.rowsOnly { (s, dir) =>
      import graft.operators.Kmv
      val k = 1024
      val base = Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("h"),
          (Sampling.docHash32(concat(col("doc_id").cast("string"), lit(":v"))) % 10).as("slot"))
      val v1 = base.filter(col("slot") =!= 0).select(col("h"))
      val v2 = base.filter(col("slot") =!= 1)
        .select(when(col("slot") === 2, md5(concat(col("h"), lit(":edited")))).otherwise(col("h")).as("h"))
      Kmv.overlapEstimate(
        Kmv.sketch(v1, col("h"), k, "ka"),
        Kmv.sketch(v2, col("h"), k, "kb"), k)
    },

    // q177: the KMV estimator under the DuckDB oracle — q127's exact
    // twin with the portable md5-32 hash in place of xxhash64, so the
    // whole sketch-and-estimate chain triple-matches: the bottom-k of
    // distinct hashes replays as DISTINCT/ORDER BY/LIMIT, and the
    // estimator arithmetic ((k-1)/u_k over [0,1)-normalized hashes,
    // Jaccard from the merged sketch) is an identical double-expression
    // tree on both engines (mul/div/round are correctly rounded). k=64
    // so BOTH regimes gate: the sides exceed k (estimation branch) and
    // the spec's degenerate regime stays covered by KmvSpec. 32-bit
    // hashes saturate a KMV at billions of distinct keys — q177 is the
    // ORACLE GATE; q127's 64-bit form is the production posture.
    "q177_kmv_overlap_md5" -> QueryDef.of(
      """WITH base AS (
        |  SELECT doc_id, md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS h,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':v'), 1, 8)) AS BIGINT) % 10 AS slot
        |  FROM documents
        |), v1h AS (
        |  SELECT CAST(('0x' || substr(md5(h), 1, 8)) AS BIGINT) AS h32
        |  FROM base WHERE slot <> 0
        |), v2h AS (
        |  SELECT CAST(('0x' || substr(md5(CASE WHEN slot = 2 THEN md5(h || ':edited') ELSE h END), 1, 8)) AS BIGINT) AS h32
        |  FROM base WHERE slot <> 1
        |), ka AS (
        |  SELECT list(h32 ORDER BY h32) AS ka FROM (
        |    SELECT DISTINCT h32 FROM v1h ORDER BY h32 LIMIT 64)
        |), kb AS (
        |  SELECT list(h32 ORDER BY h32) AS kb FROM (
        |    SELECT DISTINCT h32 FROM v2h ORDER BY h32 LIMIT 64)
        |), m AS (
        |  SELECT ka, kb, list_slice(list_sort(list_distinct(list_concat(ka, kb))), 1, 64) AS u
        |  FROM ka, kb
        |), s AS (
        |  SELECT len(u) AS nu,
        |    len(list_intersect(list_intersect(u, ka), kb)) AS ni,
        |    (CAST(u[len(u)] AS DOUBLE) + 0.0) / 4294967296.0 AS uk
        |  FROM m
        |), e AS (
        |  SELECT nu, ni,
        |    CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
        |         ELSE CAST(63 AS DOUBLE) / uk END AS union_d,
        |    CAST(ni AS DOUBLE) / nu AS j
        |  FROM s
        |)
        |SELECT CAST(round(union_d) AS BIGINT) AS union_est,
        |  CAST(round(j * 1000000) AS BIGINT) AS jaccard_1e6,
        |  CAST(round(j * union_d) AS BIGINT) AS inter_est
        |FROM e
        |""".stripMargin) { (s, dir) =>
      import graft.operators.Kmv
      val k = 64
      val base = Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(trim(regexp_replace(col("text"), "\\s+", " "))).as("h"),
          (Sampling.docHash32(concat(col("doc_id").cast("string"), lit(":v"))) % 10).as("slot"))
      val v1 = base.filter(col("slot") =!= 0).select(col("h"))
      val v2 = base.filter(col("slot") =!= 1)
        .select(when(col("slot") === 2, md5(concat(col("h"), lit(":edited")))).otherwise(col("h")).as("h"))
      Kmv.overlapEstimate(
        Kmv.sketchHashed(v1, Sampling.docHash32(col("h")), k, "ka"),
        Kmv.sketchHashed(v2, Sampling.docHash32(col("h")), k, "kb"), k,
        hashOffset = 0.0, hashSpace = 4294967296.0)
    },

    // q84: int8 embedding quantization — the storage/ANN-serving layout
    // (×4 smaller than float32, SIMD-friendly dot products). Per-vector
    // symmetric scale 127/max|x|; codes serialize comma-joined because
    // the correctness gate's row compare cannot sort list columns. Pure
    // per-row, zero shuffle; the kernel is the native codegen'd
    // [[graft.functions.expressions.QuantizeInt8Csv]] — the built-in
    // composition chained four CodegenFallback HOF evaluations per row
    // (~0.3 ms/vector, 80+ CPU-hours per billion vectors). Rounding is
    // half-away-from-zero on both engines, so the oracle replays exactly.
    "q84_quantize_embeddings" -> QueryDef.of(
      """SELECT vec_id, label,
        |  array_to_string(list_transform(embedding,
        |    v -> CAST(CAST(round(CAST(v AS DOUBLE) * scale) AS TINYINT) AS VARCHAR)), ',') AS codes,
        |  CAST(len(embedding) AS BIGINT) AS n_dims
        |FROM (
        |  SELECT *,
        |    127.0 / greatest(list_aggregate(list_transform(embedding,
        |      v -> abs(CAST(v AS DOUBLE))), 'max'), 1e-30) AS scale
        |  FROM embeddings
        |)""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          graft.functions.expressions.QuantizeInt8Csv(col("embedding")).as("codes"),
          size(col("embedding")).cast("long").as("n_dims"))
    },

    // q98: per-language heavy-hitter tokens via the Misra-Gries sketch
    // aggregate ([[graft.functions.expressions.FreqItemsSketch]]) — the
    // corpus-profiling report (top boilerplate tokens, stopword drift per
    // source) that at 100 TB must NOT materialize a (group × vocabulary)
    // tally: the sketch holds ≤ capacity counters per group per input
    // partition, partials merge map-side, and the exchange carries one
    // capacity-bounded summary per (lang × partition) regardless of
    // vocabulary size. The oracle can pin it exactly because capacity 64
    // exceeds the corpus vocabulary, so no decrement ever fires and MG
    // counters equal true counts (FreqItemsSpec pins the approximation
    // regime the oracle can't see). Tie cuts at the rank-10 boundary are
    // real in this data — both sides break on (cnt desc, tok asc).
    "q98_heavy_hitters" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT lang, $toksSql AS toks FROM documents
        |), tok AS (
        |  SELECT lang, unnest(toks) AS tok FROM t
        |), c AS (
        |  SELECT lang, tok, COUNT(*) AS cnt FROM tok GROUP BY lang, tok
        |), r AS (
        |  SELECT lang, tok, cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rn
        |  FROM c
        |)
        |SELECT lang, CAST(rn AS BIGINT) AS rank, tok, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rn <= 10
        |""".stripMargin) { (s, dir) =>
      import graft.functions.expressions.FreqItemsSketch
      Tables.documents(s, dir)
        .select(col("lang"), explode(F.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"))
        .agg(FreqItemsSketch(col("tok"), 64, 10).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
          col("col.tok").as("tok"), col("col.cnt").as("cnt"))
    },

    // q99: exact substring scrub — REMOVE every token span covered by a
    // 13-gram that occurs >= 2 times anywhere in the corpus (the span-
    // removal dedup of Lee et al. 2021, "Deduplicating Training Data
    // Makes Language Models Better" — the operator q83 only SIGNALS).
    // Occurrences, not document frequency: a 13-gram repeated within one
    // document is boilerplate too, and both spans go. Shapes that matter
    // at 100 TB: shingles are md5'd before the frequency join so the
    // exchange carries 32-hex keys (never 13-word strings; production
    // would swap to 8-byte xxhash64 — the oracle needs the portable
    // hash); the duplicate-start positions come back to each document as
    // ONE array (bounded by the doc's own window count), and the scrub
    // itself is a per-row HOF over that array — token-level data never
    // shuffles. The frequency aggregate partial-combines map-side.
    "q99_substring_scrub" -> QueryDef.of(
      s"""WITH t AS (
        |  SELECT doc_id, $toksSql AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 13 THEN [md5(array_to_string(toks, ' '))]
        |         ELSE list_transform(range(1, len(toks) - 11),
        |                i -> md5(array_to_string(list_slice(toks, i, i + 12), ' ')))
        |    END AS shs
        |  FROM t
        |), e AS (
        |  SELECT doc_id, pos, shs[pos] AS sh FROM (
        |    SELECT doc_id, shs, unnest(range(1, len(shs) + 1)) AS pos FROM sh
        |  )
        |), dup AS (
        |  SELECT sh FROM e GROUP BY sh HAVING COUNT(*) >= 2
        |), cov AS (
        |  SELECT DISTINCT doc_id, tp FROM (
        |    SELECT e.doc_id, unnest(range(e.pos, e.pos + 13)) AS tp
        |    FROM e JOIN dup USING (sh)
        |  )
        |), covl AS (
        |  SELECT doc_id, list(tp) AS cov FROM cov GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - len(kept) AS BIGINT) AS n_removed,
        |  COALESCE(array_to_string(kept, ' '), '') AS scrubbed
        |FROM (
        |  SELECT t.doc_id, t.toks,
        |    list_transform(
        |      list_filter(range(1, len(t.toks) + 1),
        |        i -> NOT list_contains(COALESCE(covl.cov, []), i)),
        |      i -> t.toks[i]) AS kept
        |  FROM t LEFT JOIN covl USING (doc_id)
        |) t
        |""".stripMargin) { (s, dir) =>
      // lesson-4 hash compute spread (r11, measured): tokenize ran as
      // ~0.4 s single tasks per plan arm; spread below the tokenize so
      // all arms share the parallel pass (see q144's note).
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .transform(graft.operators.Relational.spreadForCompute(_, col("doc_id")))
        .select(col("doc_id"), F.tokens(col("text")).as("toks"))
      val e = t
        .select(col("doc_id"), posexplode(Dedup.shingles(col("toks"), 13)))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), md5(col("col")).as("sh"))
      val dup = e.groupBy(col("sh")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select(col("sh"))
      val starts = e.join(dup, "sh")
        .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("starts"))
      t.join(starts, Seq("doc_id"), "left")
        .withColumn("st", coalesce(col("starts"), array().cast("array<int>")))
        .withColumn("kept", filter(col("toks"),
          (tok, i) => not(exists(col("st"),
            st => st <= i + 1 && i + 1 <= st + 12))))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
          // coalesce mirrors the oracle's COALESCE(array_to_string(..),'')
          // so a null-text row yields '' on both engines (array_join
          // propagates null; DuckDB's string_agg-backed join does too)
          coalesce(array_join(col("kept"), " "), lit("")).as("scrubbed"))
    },

    // q100: the shard MANIFEST — the validation artifact the training-
    // shard publish ([[graft.sources.Sources.writeTrainingShards]])
    // pairs with its files: per-shard doc/token/byte totals plus an
    // ORDER-INSENSITIVE content checksum (sum of per-doc 32-bit hashes
    // over id:text), so a restored, re-published, or mirrored shard is
    // validated by one aggregate instead of a body-for-body diff.
    // Order-insensitivity is the scale property: the checksum is
    // invariant to file order, task order, and split boundaries, so any
    // reader layout verifies. One partial-combined aggregate, 16 output
    // rows; SourcesSpec pins manifest-from-files ≡ this query after a
    // real write→read round trip.
    // q117: INVERTED INDEX build — token → document frequency + the
    // first-16 posting sample, the search/retrieval artifact next to
    // q42's autocomplete corpus. Scale shapes: (doc, tok) pre-distincts
    // with map-side partial combine before any aggregation; df is a
    // plain count; the posting sample goes through the mergeable
    // [[graft.functions.expressions.BottomKSample]] aggregate, so the
    // shuffle carries ≤16 postings per token per partition — a stopword
    // token with a billion postings costs the exchange exactly what a
    // rare token costs. (Full posting lists at scale are stored SHARDED
    // — q82's assignment — never as one array row; the capped sample is
    // the browsable index surface.) Oracle replays with an ordered list
    // slice.
    "q117_inverted_index" -> QueryDef.of(
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id, tok
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  WHERE len(tok) >= 3
         |)
         |SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
         |  array_to_string((list(doc_id ORDER BY doc_id))[1:16], ',') AS postings
         |FROM dt GROUP BY tok
         |""".stripMargin) { (s, dir) =>
      import graft.functions.expressions.BottomKSample
      val dt = Tables.documents(s, dir)
        .select(col("doc_id"), explode(F.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 3)
        .distinct()
      dt.groupBy(col("tok"))
        .agg(count(lit(1)).cast("long").as("df"),
          BottomKSample(col("doc_id"), col("doc_id"), 16).as("smp"))
        .select(col("tok"), col("df"),
          // CSV-serialized: the driver's pandas compare can't sort list
          // columns (same contract as q04's set aggregation outputs)
          expr("array_join(transform(smp, x -> x.id), ',')").as("postings"))
    },

    // q167: BM25 RANKED RETRIEVAL — the query-time consumer of q117's
    // index artifacts: top-10 documents per query under Lucene-form BM25
    // (idf = ln((N-df+0.5)/(df+0.5)+1), tf saturation k1=1.2, length
    // normalization b=0.75 against the corpus mean). The query workload
    // here is DERIVED deterministically (per-language top-3 tokens by
    // corpus frequency, ties token-asc) so the gate needs no fixture
    // table; a production caller passes any (query_id, tok) frame.
    // Scale shapes (see [[graft.operators.TextAnalysis.bm25TopK]]): the
    // query set broadcasts and PRUNES the posting table before df is
    // counted — the corpus-wide vocabulary is never materialized; the
    // only big exchanges are the (doc,tok) count and the doc-keyed
    // length join, both linear. Scoring crosses the oracle gate as
    // INTEGER per-term contributions (idf ln-rounded once at 4dp, the
    // rest an IEEE-exact fixed-shape expression over integer inputs,
    // 1e4-integerized per term, integer-summed) — no float addition
    // order anywhere; ranking is the total (score desc, doc_id) order
    // through the bounded-heap trim.
    "q167_bm25" -> QueryDef.of(bm25OracleSql) { (s, dir) =>
      // the derived workload is corpus-priced; bm25Workload materializes
      // the 15 rows once so the operator's two broadcasts don't replay
      // the corpus aggregation
      TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        bm25Workload(s, dir), topK = 10)
    },

    // q172: BM25 from the SAVED index — the ARTIFACT path of q167 (the
    // reference's production posture: to_es.py:169 queries a stored
    // index, never the corpus). Builds the token-bucketed artifact
    // (graft.operators.Retrieval — postings/df/doclen/stats as committed
    // batch deltas), then serves the same deterministic workload from it:
    // the probe reads ONLY the query terms' bucket partitions (static
    // (batch, bucket) pruning — RetrievalSpec pins a single-term probe to
    // exactly 1 posting file) and folds df/totals from probe-priced
    // delta sums. Shares q167's oracle VERBATIM: the ranking runs
    // through the same expression kernel (TextAnalysis.bm25Rank), so the
    // two encodings are row-for-row equal by construction and one DuckDB
    // replay gates both. The measured cost split is the point: the build
    // pays the corpus passes once; the probe is index-priced.
    "q172_bm25_saved" -> QueryDef.of(bm25OracleSql) { (s, dir) =>
      import graft.operators.Retrieval
      // one artifact slot per (process, source corpus), wiped before each
      // build — a fresh temp dir per run would strand a full index
      // artifact in /tmp every bench/verify invocation. The slot key is
      // the SANITIZED FULL PATH (an Int hashCode could collide two
      // different corpus dirs into one slot) plus a per-process nonce
      // (two concurrent runs over the same corpus must not race one
      // slot: one would delete/rebuild while the other probes).
      val safeDir = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val idx = s"${sys.props("java.io.tmpdir")}/graft_bm25_idx_${bm25IdxNonce}_$safeDir"
      // build once per (process, corpus); repeat calls probe the saved
      // artifact — so the bench's timed pass (after warmup) measures the
      // serving path, the ANN ladder's warmed regime, while the first
      // call (verify, warmup) still pays and exercises the full build
      if (bm25IdxBuilt.add(idx)) {
        graft.sources.Sources.clearDestination(idx, s.sparkContext.hadoopConfiguration)
        Retrieval.saveBm25Index(Tables.documents(s, dir), "doc_id", "text",
          idx, nBuckets = 64)
      }
      Retrieval.bm25TopKFromSaved(s, idx, bm25Workload(s, dir), topK = 10)
    },

    // q169: the per-source CORPUS DATASHEET — the "datasheets for
    // datasets" artifact a training-data pipeline publishes per source:
    // volume (docs/tokens/languages), quality (Gopher-rule pass rate,
    // from the SAME TextAnalysis.gopherBundle q165 reports), and
    // contamination-by-duplication (flagged docs + duplicated-token
    // share from the q166 marking kernel). Everything aggregates from
    // the two per-doc frames in ONE groupBy over ≤ #sources rows; the
    // expensive parts are exactly q165's map-side pass and q166's
    // hot/cold-routed marking, composed — no new exchange shapes. Ratios integerize
    // per lesson 27 (integer DIV after integer sums).
    "q169_corpus_datasheet" -> QueryDef.of(
      s"""WITH t AS (
         |  SELECT doc_id, source, lang,
         |    $toksSql AS toks,
         |    string_split(text, chr(10)) AS lines,
         |    length(text) - length(replace(text, '#', '')) AS n_hash,
         |    (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, source, lang,
         |    len(toks) BETWEEN 50 AND 100000
         |    AND CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(toks, x -> CAST(len(x) AS BIGINT))), (a, x) -> a + x) AS DOUBLE) / len(toks) BETWEEN 3 AND 10
         |    AND CAST(n_hash + n_ell AS DOUBLE) / len(toks) <= 0.1
         |    AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks) >= 0.8
         |    AND CAST(len(list_filter(lines, l -> substr(l, 1, 1) IN ('-', '*'))) AS DOUBLE) / len(lines) <= 0.9
         |    AND CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE) / len(lines) <= 0.3
         |    AND len(list_intersect(list_distinct(toks),
         |          ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) >= 2 AS gp
         |  FROM t
         |), g AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
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
         |  SELECT doc_id, list_sort(list(pos)) AS starts, COUNT(*) AS m
         |  FROM c WHERE rn > 1 GROUP BY doc_id
         |), cov AS (
         |  SELECT doc_id, m,
         |    13 + coalesce(list_sum(list_transform(range(1, m), j -> least(13, starts[j+1] - starts[j]))), 0) AS rawcov
         |  FROM d
         |), perdoc AS (
         |  SELECT p.doc_id, p.source, p.lang, p.gp, g.n_tokens,
         |    coalesce(cov.m, 0) AS dup_windows,
         |    least(coalesce(cov.rawcov, 0), g.n_tokens) AS dup_tokens
         |  FROM p JOIN g ON p.doc_id = g.doc_id LEFT JOIN cov ON p.doc_id = cov.doc_id
         |)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS tokens,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(SUM(CASE WHEN gp THEN 1 ELSE 0 END) AS BIGINT) AS gopher_pass,
         |  CAST((SUM(CASE WHEN gp THEN 1 ELSE 0 END) * 10000) // COUNT(*) AS BIGINT) AS gopher_pass_1e4,
         |  CAST(SUM(CASE WHEN dup_windows > 0 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
         |  CAST(SUM(dup_tokens) AS BIGINT) AS dup_tokens,
         |  CAST((SUM(dup_tokens) * 1000000) // SUM(n_tokens) AS BIGINT) AS dup_share_1e6
         |FROM perdoc GROUP BY source
         |""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val gp = docs.select(col("doc_id"), col("source"), col("lang"),
        TextAnalysis.gopherBundle(col("text")).getField("passes").as("gp"))
      val rep = Dedup.duplicatePassages(docs, "doc_id", "text", k = 13)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("dup_windows"), col("dup_tokens"))
      gp.join(rep, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("docs"),
          sum(col("n_tokens")).cast("long").as("tokens"),
          countDistinct(col("lang")).cast("long").as("n_langs"),
          sum(when(col("gp"), 1).otherwise(0)).cast("long").as("gopher_pass"),
          sum(when(col("dup_windows") > 0, 1).otherwise(0)).cast("long").as("dup_docs"),
          sum(col("dup_tokens")).cast("long").as("dup_tokens"))
        .withColumn("gopher_pass_1e4",
          expr("CAST((gopher_pass * 10000) DIV docs AS BIGINT)"))
        // dup_tokens is token-count-sized: a trillion-token source times
        // 1e6 overflows a long, so the scale step widens to DECIMAL(38,0)
        // (DuckDB's SUM already returns HUGEINT — the widening keeps the
        // engines on the same value everywhere a long would wrap)
        .withColumn("dup_share_1e6",
          expr("CAST((CAST(dup_tokens AS DECIMAL(38,0)) * 1000000) DIV tokens AS BIGINT)"))
    },

    // q118: TOKEN CO-OCCURRENCE counts — the PMI/word-association input
    // (collocation mining, embedding-training statistics). Emits the
    // EXACT INTEGER components (c_ab, c_a, c_b, n_docs) — PMI itself is
    // log(n·c_ab/(c_a·c_b)), a client-side divide of these; no float
    // ever crosses the engine boundary (the q112 fraction posture).
    // Scale shapes: the quadratic step (per-document token pairing) is
    // bounded by the VOCABULARY band, not the corpus — tokens below
    // minDF drop before pairing, and on a real corpus the band also
    // caps ubiquitous stopwords (this synthetic corpus is 30 tokens of
    // all-stopwords, so the upper cut is left open to keep the report
    // non-empty; the df≥5 gate is the structural guard). Per-doc token
    // sets dedup MAP-SIDE (array_distinct — no distinct exchange), the
    // vocab join carries (tok, c) back, and the pairing is TWO
    // CODEGEN'D Generate nodes (posexplode + explode over the sorted
    // remainder slice) — measured fastest of the three encodings
    // (ProfPairs warm: 0.9–1.1 s vs 1.9 nested-transform HOF — HOFs
    // evaluate interpreted — vs 1.2 doc_id self-join, which also runs
    // the tokenize+vocab subtree twice). Pair counts partial-combine;
    // c_a/c_b ride the pair rows so no second frequency join; n_docs
    // joins as a broadcast 1-row frame (never a driver collect).
    "q118_cooccurrence" -> QueryDef.of(
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id, tok
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  WHERE len(tok) >= 3
         |), dfreq AS (
         |  SELECT tok, COUNT(*) AS c FROM dt GROUP BY tok
         |), kept AS (
         |  SELECT dt.doc_id, dt.tok, dfreq.c
         |  FROM dt JOIN dfreq USING (tok) WHERE dfreq.c >= 5
         |), pairs AS (
         |  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS c_ab,
         |    MIN(a.c) AS c_a, MIN(b.c) AS c_b
         |  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |  GROUP BY tok_a, tok_b
         |)
         |SELECT tok_a, tok_b, CAST(c_ab AS BIGINT) AS c_ab,
         |  CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
         |  CAST(n.n_docs AS BIGINT) AS n_docs
         |FROM pairs, (SELECT COUNT(*) AS n_docs FROM documents) n
         |WHERE c_ab >= 5
         |""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val docToks = docs.select(col("doc_id"),
        array_distinct(filter(F.tokens(col("text")),
          t => length(t) >= 3)).as("toks"))
      val dt = docToks.select(col("doc_id"), explode(col("toks")).as("tok"))
      val dfreq = dt.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      // per-doc sorted (tok, c) array; struct sort orders by tok first
      val grouped = dt.join(dfreq.filter(col("c") >= 5), "tok")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("tok"), col("c")))).as("ts"))
      // all a<b pairs of the sorted array, map-side: element i pairs with
      // the slice after it (1-based slice start i+2, length size-i-1)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      grouped
        .select(col("ts"), posexplode(col("ts")).as(Seq("i", "x")))
        .select(col("x"), explode(slice(col("ts"), col("i") + lit(2),
          greatest(size(col("ts")) - col("i") - 1, lit(0)))).as("y"))
        .groupBy(col("x.tok").as("tok_a"), col("y.tok").as("tok_b"))
        .agg(count(lit(1)).cast("long").as("c_ab"),
          min(col("x.c")).cast("long").as("c_a"),
          min(col("y.c")).cast("long").as("c_b"))
        .filter(col("c_ab") >= 5)
        .crossJoin(broadcast(nDocs))
        .select(col("tok_a"), col("tok_b"), col("c_ab"), col("c_a"), col("c_b"),
          col("n_docs").cast("long").as("n_docs"))
    },

    "q100_shard_manifest" -> QueryDef.of(
      s"""SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_bytes,
        |  CAST(SUM(h) AS BIGINT) AS checksum
        |FROM (
        |  SELECT text, $toksSql AS toks,
        |    ${hashSql("CAST(doc_id AS VARCHAR) || ':shard'")} % 16 AS shard,
        |    ${hashSql("CAST(doc_id AS VARCHAR) || ':' || text")} AS h
        |  FROM documents
        |)
        |GROUP BY shard
        |""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("text"), F.tokens(col("text")).as("toks"),
          (Sampling.saltedHash32(col("doc_id"), "shard") % 16).as("shard"),
          Sampling.docHash32(concat(col("doc_id").cast("string"), lit(":"), col("text")))
            .as("h"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(size(col("toks"))).cast("long").as("n_tokens"),
          sum(length(col("text"))).cast("long").as("n_bytes"),
          sum(col("h")).cast("long").as("checksum"))
    }
  )
}
