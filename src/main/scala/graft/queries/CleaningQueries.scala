package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** SURVEY.md §2.C — text-cleaning operators a training corpus runs before
  * tokenization: PII scrubbing (regex redaction) and per-stratum length
  * distribution stats. Pure per-row / one-aggregation shapes; every regex
  * stays in the RE2∩Java dialect (no lookarounds, no backrefs) so the
  * oracle replays the exact semantics.
  */
object CleaningQueries {

  /** Redaction rules, applied in order (emails first so phone/id digit
    * rules never fire inside an address). Patterns are deliberately
    * lookaround-free: RE2 (DuckDB) cannot express lookarounds, and
    * anything Java-only would make the scrub unverifiable. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "0[0-9]{1,2}-[0-9]{7}"
  private val LongNumRe = "[0-9]{9,}"

  val defs: Seq[(String, QueryDef)] = Seq(

    // q73: PII scrub — the redaction pass every published/training corpus
    // needs. Synthetic PII (email, phone, 9-digit id) injects per doc so
    // all three rules fire; output carries the scrubbed text and per-kind
    // counts from the SAME scan (conditional expressions, no second pass).
    "q73_pii_scrub" -> QueryDef.of(
      s"""WITH raw AS (
        |  SELECT doc_id,
        |    text || ' Contact: user' || CAST(doc_id AS VARCHAR) || '@mail.example.com, tel 052-'
        |      || lpad(CAST(doc_id % 10000000 AS VARCHAR), 7, '0') || ', id '
        |      || lpad(CAST(doc_id AS VARCHAR), 9, '0') || '.' AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '$EmailRe', '<EMAIL>', 'g'),
        |    '$PhoneRe', '<PHONE>', 'g'),
        |    '$LongNumRe', '<NUM>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$LongNumRe')) AS BIGINT) AS n_nums
        |FROM raw
        |""".stripMargin) { (s, dir) =>
      val t = concat(col("text"),
        lit(" Contact: user"), col("doc_id").cast("string"), lit("@mail.example.com, tel 052-"),
        lpad((col("doc_id") % 10000000).cast("string"), 7, "0"), lit(", id "),
        lpad(col("doc_id").cast("string"), 9, "0"), lit("."))
      val noEmail = regexp_replace(col("t"), EmailRe, "<EMAIL>")
      val noPhone = regexp_replace(noEmail, PhoneRe, "<PHONE>")
      Tables.documents(s, dir)
        .withColumn("t", t)
        .select(
          col("doc_id"),
          regexp_replace(noPhone, LongNumRe, "<NUM>").as("scrubbed"),
          size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(noEmail, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
          size(regexp_extract_all(noPhone, lit(LongNumRe), lit(0))).cast("long").as("n_nums"))
    },

    // q75: benchmark DECONTAMINATION — flag corpus docs sharing any word
    // 8-gram with the held-out eval set (the overlap check every serious
    // training corpus runs against its benchmarks). The eval shingle set
    // is tiny next to the corpus, so it BROADCASTS and the corpus side
    // streams through map-side hash probes — no shuffle of corpus
    // shingles at all; per-doc overlap counts come from one aggregation
    // on the surviving matches.
    "q75_decontaminate" -> QueryDef.of(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 6),
        |                i -> array_to_string(list_slice(toks, i, i + 7), ' ')))
        |    END AS shs
        |  FROM t
        |), ev AS (
        |  SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE doc_id % 10 = 7
        |), co AS (
        |  SELECT doc_id, unnest(shs) AS sh FROM sh WHERE doc_id % 10 <> 7
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM co JOIN ev USING (sh) GROUP BY doc_id
        |""".stripMargin) { (s, dir) =>
      import graft.functions.F
      import graft.operators.Dedup
      // lesson-4 hash compute spread (r11, measured): tokenize+shingle ran
      // as single tasks per plan arm on the single-row-group scan; the
      // spread sits below the shingling so both arms share the parallel
      // pass (see q144's note). Same spread in q125.
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .transform(graft.operators.Relational.spreadForCompute(_, col("doc_id")))
        .select(col("doc_id"),
          array_distinct(Dedup.shingles(F.tokens(col("text")), 8)).as("shs"))
      val eval8 = docs.filter(col("doc_id") % 10 === 7)
        .select(explode(col("shs")).as("sh")).distinct()
      docs.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), explode(col("shs")).as("sh"))
        .join(broadcast(eval8), "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_shared"))
    },

    // q125: decontamination via BLOOM-FILTER semi-join pruning — the
    // shape q75 takes when the eval/filter side outgrows a broadcast hash
    // set (a full benchmark suite, or decontamination against another
    // CORPUS). One aggregation builds the mergeable sketch (~9.6 bits per
    // item at 1% fpp — 20-50x smaller than the exact set, the only
    // structure that still ships to every task); the corpus shingle
    // stream prunes MAP-SIDE through the codegen'd might_contain
    // predicate; only survivors (matches + the fpp tail) reach the exact
    // shuffle join, where false positives die. The final answer is
    // bit-identical to the unpruned plan — SAME ORACLE as q75. The join
    // is deliberately shuffle-hash, not broadcast: at the scale where
    // this composition is the right one, there is nothing left to
    // broadcast (BloomSpec pins the plan: scan-side filter below a
    // ShuffledHashJoin). Filter lifecycle = the IVF quantizer's (bounded
    // build-once artifact, SURVEY lesson 12); sizing comes from corpus
    // stats, and an undershot estimate only degrades fpp, never recall.
    "q125_bloom_decontaminate" -> QueryDef.of(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 6),
        |                i -> array_to_string(list_slice(toks, i, i + 7), ' ')))
        |    END AS shs
        |  FROM t
        |), ev AS (
        |  SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE doc_id % 10 = 7
        |), co AS (
        |  SELECT doc_id, unnest(shs) AS sh FROM sh WHERE doc_id % 10 <> 7
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM co JOIN ev USING (sh) GROUP BY doc_id
        |""".stripMargin) { (s, dir) =>
      import graft.functions.F
      import graft.operators.{Bloom, Dedup}
      // r11: NO compute spread here — measured strictly worse (solo bench
      // 1.69 s -> 3.2 s): the 32-way shingle stages run into allocation/GC
      // contention that eats the parallel win, while the spread exchange
      // ships the text payload once more per arm. The single-task shingle
      // pass is ~0.4 s locally; at 100 TB the scan has real splits.
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          array_distinct(Dedup.shingles(F.tokens(col("text")), 8)).as("shs"))
      val eval8 = docs.filter(col("doc_id") % 10 === 7)
        .select(explode(col("shs")).as("sh")).distinct()
        // r11: the eval shingle set is consumed TWICE per run — the eager
        // Bloom.build aggregate below and the exact join's build side.
        // Unmaterialized, each consumer re-ran the tokenize+shingle chain.
        // One lazy checkpoint = one shingle pass over the eval split.
        .transform(graft.CheckpointRegistry.local(_, false))
      // Sized from corpus stats (generous static bound, not a count()
      // pass); 2^20 items at 1% fpp is a ~1.2 MB artifact.
      val bloom = Bloom.build(eval8, col("sh"), expectedItems = 1L << 20)
      docs.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), explode(col("shs")).as("sh"))
        .filter(Bloom.mightContain(bloom, col("sh")))
        .join(eval8.hint("shuffle_hash"), "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_shared"))
    },

    // q76: intra-document repetition (C4-style line/sentence dedup
    // signal): sentence count, distinct count, repetition ratio — pure
    // per-row array expressions, no shuffle. The '. ' split is a literal
    // on both engines (Spark's split takes a regex, hence the escape).
    "q76_repetition" -> QueryDef.of(
      """SELECT doc_id,
        |  CAST(len(sents) AS BIGINT) AS n_sent,
        |  CAST(len(list_distinct(sents)) AS BIGINT) AS n_uniq,
        |  round(1.0 - CAST(len(list_distinct(sents)) AS DOUBLE) / len(sents), 4) AS rep_ratio
        |FROM (SELECT doc_id, string_split(text, '. ') AS sents FROM documents)
        |""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("sents", split(col("text"), "\\. "))
        .select(col("doc_id"),
          size(col("sents")).cast("long").as("n_sent"),
          size(array_distinct(col("sents"))).cast("long").as("n_uniq"),
          round(lit(1.0) - size(array_distinct(col("sents"))).cast("double") / size(col("sents")), 4)
            .as("rep_ratio"))
    },

    // q77: per-label embedding centroid — element-wise vector mean done
    // RELATIONALLY (posexplode -> groupBy (label, pos) -> ordered
    // re-collect): the only shape that scales, since no built-in
    // aggregate sums arrays element-wise and a collect-then-fold holds
    // whole groups in memory. Values serialize as 1e4-scaled ints (double
    // -> string diverges between engines near 1e-4: Java switches to
    // scientific notation).
    "q77_label_centroids" -> QueryDef.of(
      """WITH e AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings
        |), m AS (
        |  SELECT label, pos, CAST(round(avg(v) * 10000, 0) AS BIGINT) AS a
        |  FROM e GROUP BY label, pos
        |)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS dims,
        |  array_to_string(list(CAST(a AS VARCHAR) ORDER BY pos), '|') AS centroid
        |FROM m GROUP BY label
        |""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("v").cast("double")) * 10000, 0).cast("long").as("a"))
        .groupBy(col("label"))
        .agg(count(lit(1)).cast("long").as("dims"),
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("a")))),
            x => x.getField("a").cast("string")), "|").as("centroid"))
    },

    // q79: overlapping-window chunking (retrieval/RAG indexing shape):
    // 128-token windows at stride 96 per document. One explode of a
    // per-row index sequence, then codegen'd slice/join/md5 — no shuffle;
    // chunk text hashes to md5 so the output stays slim (the chunk body
    // would be re-derived by the indexer from (doc_id, offsets)).
    // Window COUNT is the stride formula ceil(max(len-128,0)/96)+1, not
    // ceil(len/96): the latter emits a trailing window fully contained
    // in its predecessor whenever len mod 96 lands in 1..32 — duplicate,
    // zero-information index entries (both engines agreed, so only a
    // semantic review caught it).
    "q79_chunk_windows" -> QueryDef.of(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, CASE WHEN len(toks) = 0 THEN 0
        |      ELSE CAST(ceil(greatest(len(toks) - 128, 0) / 96.0) AS INT) + 1 END)) AS chunk_idx
        |  FROM t
        |)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(least(128, len(toks) - chunk_idx * 96) AS BIGINT) AS chunk_tokens,
        |  md5(array_to_string(list_slice(toks, chunk_idx * 96 + 1, chunk_idx * 96 + 128), ' ')) AS chunk_md5
        |FROM c
        |""".stripMargin) { (s, dir) =>
      import graft.functions.F
      Tables.documents(s, dir)
        .select(col("doc_id"), F.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          // empty doc -> empty sequence, NOT sequence(0,-1): Spark's
          // sequence steps DOWNWARD when start > stop
          explode(when(size(col("toks")) === 0, array().cast("array<int>"))
            .otherwise(sequence(lit(0),
              ceil(greatest(size(col("toks")) - 128, lit(0)) / 96.0).cast("int")))).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          least(lit(128), size(col("toks")) - col("chunk_idx") * 96).cast("long").as("chunk_tokens"),
          md5(array_join(slice(col("toks"), col("chunk_idx") * 96 + 1, lit(128)), " ")).as("chunk_md5"))
    },

    // q74: per-language length-distribution stats — the corpus report that
    // drives truncation/packing budgets. Exact interpolated quantiles
    // match DuckDB's quantile_cont definition; at 100 TB the same query
    // swaps percentile() for percentile_approx (t-digest, one pass,
    // mergeable) — the report tolerates approximation, the oracle doesn't.
    // q165: the Gopher quality-rule bundle (Rae et al. 2021, Table A1) —
    // THE published heuristic filter suite (reused by MassiveText /
    // RefinedWeb / Dolma): word-count band, mean-word-length band,
    // symbol-to-word ratio, alphabetic-word fraction, bullet-line and
    // ellipsis-line fractions, required-stopword hits. Every rule is a
    // pure per-row expression over the token/line arrays (in-order
    // integer folds + exact rational divisions — no transcendentals, so
    // every emitted value and boolean is bit-deterministic across the
    // gate), and the whole bundle is ONE map-side pass: zero joins, zero
    // shuffles at any corpus scale. Thresholds are the paper's; on this
    // synthetic corpus some rules bind (word count, stopwords) and some
    // are trivially green (single-line docs) — the OUTPUT carries each
    // rule separately so the oracle pins all seven, not just the AND.
    "q165_gopher_rules" -> QueryDef.of(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks,
        |    string_split(text, chr(10)) AS lines,
        |    length(text) - length(replace(text, '#', '')) AS n_hash,
        |    (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    len(toks) AS n_words,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks, x -> CAST(len(x) AS BIGINT))), (a, x) -> a + x) AS char_sum,
        |    n_hash + n_ell AS n_sym,
        |    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
        |    len(list_intersect(list_distinct(toks),
        |      ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS stop_hits,
        |    len(lines) AS n_lines,
        |    len(list_filter(lines, l -> substr(l, 1, 1) IN ('-', '*'))) AS n_bullet,
        |    len(list_filter(lines, l -> l LIKE '%...')) AS n_ell_end
        |  FROM t
        |), r AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |    CAST(round(CAST(char_sum AS DOUBLE) / n_words * 10000, 0) AS BIGINT) AS mean_wlen_1e4,
        |    CAST(round(CAST(n_sym AS DOUBLE) / n_words * 10000, 0) AS BIGINT) AS sym_ratio_1e4,
        |    CAST(stop_hits AS BIGINT) AS stop_hits,
        |    n_words BETWEEN 50 AND 100000 AS r_words,
        |    CAST(char_sum AS DOUBLE) / n_words BETWEEN 3 AND 10 AS r_mean_len,
        |    CAST(n_sym AS DOUBLE) / n_words <= 0.1 AS r_symbol,
        |    CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS r_alpha,
        |    CAST(n_bullet AS DOUBLE) / n_lines <= 0.9 AS r_bullet,
        |    CAST(n_ell_end AS DOUBLE) / n_lines <= 0.3 AS r_ellipsis,
        |    stop_hits >= 2 AS r_stop
        |  FROM m
        |)
        |SELECT doc_id, n_words, mean_wlen_1e4, sym_ratio_1e4, stop_hits,
        |  r_words, r_mean_len, r_symbol, r_alpha, r_bullet, r_ellipsis, r_stop,
        |  r_words AND r_mean_len AND r_symbol AND r_alpha
        |    AND r_bullet AND r_ellipsis AND r_stop AS passes
        |FROM r""".stripMargin) { (s, dir) =>
      // the rule construction lives in TextAnalysis.gopherBundle — ONE
      // source of truth for this report and every composition that only
      // reads `passes` (q169's datasheet); field extraction collapses at
      // optimization time, so this plan is identical to the inlined form
      val b = graft.operators.TextAnalysis.gopherBundle(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id") +: ("n_words" :: "mean_wlen_1e4" :: "sym_ratio_1e4" ::
          "stop_hits" :: "r_words" :: "r_mean_len" :: "r_symbol" ::
          "r_alpha" :: "r_bullet" :: "r_ellipsis" :: "r_stop" ::
          "passes" :: Nil).map(f => b.getField(f).as(f)): _*)
    },

    "q74_length_stats" -> QueryDef.of(
      """SELECT lang,
        |  CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 4) AS p99
        |FROM documents GROUP BY lang
        |""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).cast("long").as("docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
          round(expr("percentile(n_chars, 0.99)"), 4).as("p99"))
    },

    // q121: the 100 TB form of q74, shipped as real code rather than a
    // comment — percentile_approx (GK sketch: one pass, MERGEABLE,
    // bounded memory) in place of exact percentile (which buffers every
    // value per group). Rows-only: the sketch's answer is
    // accuracy-parametrized, not engine-portable. CorpusSpec pins it
    // against oracled q74: at accuracy 10000 with n ≤ 10000 values per
    // group the GK sketch degenerates to exact, so the two reports must
    // agree on the nearest-rank value (and the approx quantiles must be
    // monotone and within [min, max] at any accuracy).
    "q121_length_stats_approx" -> QueryDef.rowsOnly { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).cast("long").as("docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("p50"),
          percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("p90"),
          percentile_approx(col("n_chars"), lit(0.99), lit(10000)).as("p99"))
    },

    // q120: LENGTH-OUTLIER report — documents whose length deviates from
    // their language's distribution (truncated crawls, concatenation
    // bugs, boilerplate walls: the anomaly pass next to q74's quantile
    // report). The z² test runs as an EXACT INTEGER inequality:
    // z² > k  ⇔  (n·x − S)² > k·(n·Sxx − S²) over the per-language
    // (count, sum, sum-of-squares) — no float division or sqrt crosses
    // the engine boundary. k = 2 here: the synthetic corpus is uniform
    // per language (max |z| = √3 ≈ 1.73), so the classical 3σ gate is
    // structurally empty — the threshold is a parameter, the shape is
    // the operator. One corpus scan for the stats (partial-combined,
    // #langs rows), broadcast back, filter — map-side everything else.
    // At extreme corpus sizes (n·Sxx approaching 2^63) the sums move to
    // DECIMAL(38,0); longs are exact at any realistic per-doc length.
    "q120_length_outliers" -> QueryDef.of(
      """WITH st AS (
        |  SELECT lang, COUNT(*) AS n, SUM(n_chars) AS s,
        |    SUM(n_chars * n_chars) AS sxx
        |  FROM documents GROUP BY lang
        |)
        |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
        |  CAST(st.n * d.n_chars - st.s AS BIGINT) AS dev_num,
        |  CAST(st.n AS BIGINT) AS n_lang
        |FROM documents d JOIN st USING (lang)
        |WHERE st.n >= 2 AND (st.n * d.n_chars - st.s) * (st.n * d.n_chars - st.s)
        |  > 2 * (st.n * st.sxx - st.s * st.s)
        |""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val st = docs.groupBy(col("lang")).agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("s"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
      val dev = col("n") * col("n_chars") - col("s")
      docs.join(broadcast(st), "lang")
        .filter(col("n") >= 2 &&
          dev * dev > lit(2L) * (col("n") * col("sxx") - col("s") * col("s")))
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          dev.cast("long").as("dev_num"),
          col("n").cast("long").as("n_lang"))
    },

    // q131: HTML text EXTRACTION — the step before every other corpus
    // operator when the source is a web crawl: strip chrome blocks
    // (script/style/nav/footer — boilerplate by construction), drop tags,
    // unescape the core entities, normalize whitespace; report the
    // boilerplate share (1 − extracted/raw, the signal crawl-quality
    // filters threshold on). The synthetic page wraps each document in a
    // deterministic chrome, and a BODY paragraph carries every entity
    // (chrome entities are stripped before unescaping ever sees them) so
    // each unescape rule demonstrably fires in the surviving text. Whole chain
    // is per-row codegen'd regexp work in the RE2∩Java dialect ((?s) +
    // non-greedy, no lookarounds) — zero shuffles at any scale, and the
    // oracle replays it exactly.
    "q131_html_extract" -> QueryDef.of(
      """WITH page AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
        |      || '<style>p{margin:0}</style></head><body>'
        |      || '<nav>Home &amp; Index &gt; Doc ' || CAST(doc_id AS VARCHAR) || '</nav>'
        |      || '<script>track(' || CAST(doc_id AS VARCHAR) || ');</script>'
        |      || '<p>' || replace(text, '. ', '.</p> <p>') || '</p>'
        |      || '<p>refs &amp; notes &lt;tag&gt; &copy; set &amp;lt;esc</p>'
        |      || '<footer>&copy; corpus ' || CAST(doc_id % 100 AS VARCHAR) || '</footer>'
        |      || '</body></html>' AS html
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<nav[^>]*>.*?</nav>|(?s)<footer[^>]*>.*?</footer>', ' ', 'g'),
        |        '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&copy;', '(c)'), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS extracted
        |  FROM page
        |)
        |SELECT doc_id, extracted,
        |  CAST(length(extracted) AS BIGINT) AS n_extracted,
        |  CAST(length(html) AS BIGINT) AS n_raw,
        |  round(1.0 - CAST(length(extracted) AS DOUBLE) / length(html), 4) AS boilerplate_share
        |FROM ex
        |""".stripMargin) { (s, dir) =>
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"), lit("</title>"),
        lit("<style>p{margin:0}</style></head><body>"),
        lit("<nav>Home &amp; Index &gt; Doc "), col("doc_id").cast("string"), lit("</nav>"),
        lit("<script>track("), col("doc_id").cast("string"), lit(");</script>"),
        lit("<p>"), regexp_replace(col("text"), "\\. ", ".</p> <p>"), lit("</p>"),
        // BODY entities (the nav/footer ones are chrome-stripped before
        // unescaping): every rule fires in the SURVIVING text, including
        // the nested &amp;lt; — which must extract as '&lt;', pinning
        // the decode-&amp;-LAST ordering on live data
        lit("<p>refs &amp; notes &lt;tag&gt; &copy; set &amp;lt;esc</p>"),
        lit("<footer>&copy; corpus "), (col("doc_id") % 100).cast("string"), lit("</footer>"),
        lit("</body></html>"))
      val stripped = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        col("html"),
        "(?s)<script[^>]*>.*?</script>", " "),
        "(?s)<style[^>]*>.*?</style>", " "),
        "(?s)<nav[^>]*>.*?</nav>|(?s)<footer[^>]*>.*?</footer>", " "),
        "<[^>]+>", " ")
      val unescaped = regexp_replace(
        translateEntities(stripped), "\\s+", " ")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .withColumn("html", html)
        .withColumn("extracted", trim(unescaped))
        .select(col("doc_id"), col("extracted"),
          length(col("extracted")).cast("long").as("n_extracted"),
          length(col("html")).cast("long").as("n_raw"),
          round(lit(1.0) - length(col("extracted")).cast("double") / length(col("html")), 4)
            .as("boilerplate_share"))
    },

    // q132: corpus-wide SENTENCE dedup with document REASSEMBLY — the C4
    // exact-line-dedup step (keep the globally FIRST occurrence of each
    // sentence, remove every later copy, stitch each document back
    // together from its kept sentences in order). q22 drops whole
    // duplicate docs and q99 cuts duplicated 13-gram spans; this is the
    // between granularity, and the one C4 actually shipped. Text never
    // shuffles: the exchange carries (doc_id, pos, 16-byte hash) triples;
    // winners reduce per hash via one min_by struct (partial-combined);
    // kept POSITIONS return to each doc as one int array, and the
    // reassembly is a per-row filter over the doc's own sentence array.
    // Docs whose every sentence was seen before collapse to an empty
    // string (the q99 edge posture).
    "q132_sentence_dedup" -> QueryDef.of(
      """WITH s AS (
        |  SELECT doc_id, unnest(sents) AS sent, generate_subscripts(sents, 1) - 1 AS pos
        |  FROM (SELECT doc_id, string_split(text, '. ') AS sents FROM documents)
        |), w AS (
        |  SELECT doc_id, pos, row_number() OVER (
        |    PARTITION BY md5(sent) ORDER BY doc_id, pos) AS rn
        |  FROM s
        |), kp AS (
        |  SELECT doc_id, list(pos ORDER BY pos) AS keep FROM w WHERE rn = 1 GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(array_to_string(
        |    list_transform(coalesce(kp.keep, []), p -> string_split(d.text, '. ')[p + 1]),
        |    '. '), '') AS text_dedup,
        |  CAST(len(string_split(d.text, '. ')) AS BIGINT) AS n_sent,
        |  CAST(coalesce(len(kp.keep), 0) AS BIGINT) AS n_kept
        |FROM documents d LEFT JOIN kp ON d.doc_id = kp.doc_id
        |""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), "\\. ").as("sents"))
      val occ = docs
        .select(col("doc_id"), posexplode(col("sents")).as(Seq("pos", "sent")))
        .select(col("doc_id"), col("pos"), md5(col("sent")).as("h"))
      val winners = occ
        .groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
        .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"))
      val keepPos = winners
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_list(col("pos"))).as("keep"))
      docs.join(keepPos, Seq("doc_id"), "left")
        .withColumn("keep", coalesce(col("keep"), array().cast("array<int>")))
        .select(col("doc_id"),
          array_join(transform(col("keep"), p => element_at(col("sents"), p + 1)), ". ")
            .as("text_dedup"),
          size(col("sents")).cast("long").as("n_sent"),
          size(col("keep")).cast("long").as("n_kept"))
    },

    // q148: UNICODE-normalized exact dedup — the NFKC/case-fold key the
    // corpus family's `lower(trim(...))` approximates (q22/q94/q132 keep
    // their oracle-locked simple keys; this is the production-grade key
    // as its own operator). Six visually-equivalent spellings per base
    // string — plain, fullwidth+ideographic-space, ﬁ ligature, ﬃ
    // ligature, pre-folded, uppercase — must collapse to ONE group under
    // nfkc_fold (functions/expressions/NfkcFold.scala, java.text
    // .Normalizer's public Unicode tables). DuckDB cannot compute NFKC,
    // so the oracle REPLAYS the fold on exactly the char classes the
    // fixture uses (positional translate for the fullwidth forms,
    // replace for the ligatures, lower() last) — the hash gate thus pins
    // the expression's behavior on each class, and NfkcSpec pins the
    // broader vectors (①, ½, combining composition, ß non-fold note).
    // Plan: map-side fold + one groupBy exchange on the folded key;
    // the fold is inside whole-stage codegen (nullSafeCodeGen).
    "q148_nfkc_dedup" -> QueryDef.of(
      """WITH raw AS (
        |  SELECT c_custkey AS k,
        |    CASE c_custkey % 6
        |      WHEN 0 THEN 'Office fi strasse '
        |      WHEN 1 THEN 'Ｏｆｆｉｃｅ　ｆｉ strasse '
        |      WHEN 2 THEN 'OFFICE ﬁ strasse '
        |      WHEN 3 THEN 'Oﬃce fi strasse '
        |      WHEN 4 THEN 'office fi strasse '
        |      ELSE 'OFFICE FI STRASSE ' END || 'unit ' || CAST(c_custkey % 50 AS VARCHAR) AS text
        |  FROM customer),
        |folded AS (
        |  SELECT k, text,
        |    lower(replace(replace(translate(text, 'Ｏｆｉｃｅ　', 'Ofice '), 'ﬁ', 'fi'), 'ﬃ', 'ffi')) AS folded_key
        |  FROM raw)
        |SELECT folded_key, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_forms,
        |  CAST(min(k) AS BIGINT) AS keep_id
        |FROM folded GROUP BY folded_key
        |""".stripMargin) { (s, dir) =>
      val k = col("c_custkey")
      val raw = Tables.customer(s, dir).select(k.as("k"),
        concat(
          when(k % 6 === 0, lit("Office fi strasse "))
            .when(k % 6 === 1, lit("Ｏｆｆｉｃｅ　ｆｉ strasse "))
            .when(k % 6 === 2, lit("OFFICE ﬁ strasse "))
            .when(k % 6 === 3, lit("Oﬃce fi strasse "))
            .when(k % 6 === 4, lit("office fi strasse "))
            .otherwise(lit("OFFICE FI STRASSE ")),
          lit("unit "), (k % 50).cast("string")).as("text"))
      raw
        .withColumn("folded_key", graft.functions.expressions.NfkcFold(col("text")))
        .groupBy(col("folded_key"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("text")).as("n_forms"),
          min(col("k")).as("keep_id"))
    },

    // q171: URL CANONICALIZATION + per-domain rollup — the crawl step
    // UPSTREAM of content dedup (RefinedWeb's URL-level pass): the same
    // page re-fetched as HTTPS://WWW.Site.COM:443/Dir/?b=1&utm_source=x#f
    // and https://site.com/Dir?b=1 must collide on one canonical key
    // before q22 ever hashes bodies. Synthetic messy URLs derive
    // deterministically per doc (uppercase scheme/host, default port,
    // trailing slash, unsorted + tracking params, fragment) so both
    // engines canonicalize identical inputs. The blocklist gate is a
    // BROADCAST anti-join (a real blocklist is a side table, not a SQL
    // literal — the oracle replays it as NOT IN). Plan shape: the whole
    // canonicalization is a codegen'd regexp/split/sort chain (zero
    // shuffles, no interpreted lambdas), then ONE rollup exchange on the
    // domain; min/max canonical URLs surface the key normalization
    // through the hash gate without a second (distinct) exchange.
    "q171_url_canonical" -> QueryDef.of(
      """WITH raw AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.Site-' || CAST(doc_id % 37 AS VARCHAR) || '.COM'
        |      || CASE WHEN doc_id % 11 = 0 THEN ':8080'
        |              WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
        |      || '/Dir/Page-' || CAST(doc_id % 7 AS VARCHAR)
        |      || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
        |      || CASE WHEN doc_id % 13 = 0 THEN '#/route?tab=1&b=9'
        |         ELSE '?b=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_source=feed&a=1'
        |           || CASE WHEN doc_id % 2 = 0 THEN '&gclid=g' || CAST(doc_id AS VARCHAR) ELSE '' END
        |           || CASE WHEN doc_id % 5 = 1 THEN '&fbclid' ELSE '' END
        |           || '#sec' END AS url
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$', '')
        |         ELSE hostraw END AS host,
        |    path, cleaned
        |  FROM (
        |    SELECT doc_id,
        |      lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostraw,
        |      regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '') AS path,
        |      regexp_replace(regexp_replace(regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '(^|&)(utm_[^=&]*|gclid|fbclid|ref)\b(=[^&]*)?', '', 'g'), '^&+', '') AS cleaned
        |    FROM raw
        |  )
        |), canon AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(host, ':[0-9]+$', ''), '^www\.', '') AS domain,
        |    scheme || '://' || host || path ||
        |      CASE WHEN cleaned = '' THEN ''
        |           ELSE '?' || array_to_string(list_sort(string_split(cleaned, '&')), '&') END AS canon
        |  FROM parts
        |)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  min(canon) AS first_url, max(canon) AS last_url
        |FROM canon
        |WHERE domain NOT IN ('site-0.com', 'site-7.com', 'site-13.com')
        |GROUP BY domain
        |""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.Urls
      val d = col("doc_id")
      val url = concat(
        lit("HTTPS://WWW.Site-"), (d % 37).cast("string"), lit(".COM"),
        // :8080 is a REAL port and must survive canonicalization; :443
        // is https's default and must strip (the scheme-conditional rule)
        when(d % 11 === 0, ":8080").when(d % 4 === 0, ":443").otherwise(""),
        lit("/Dir/Page-"), (d % 7).cast("string"),
        when(d % 3 === 0, "/").otherwise(""),
        // %13 docs: hash-routing shape — NO real query, a '?' inside the
        // fragment; its params must NOT leak into the canonical key.
        // %5=1 docs: valueless '&fbclid' (no '='), must still strip.
        when(d % 13 === 0, lit("#/route?tab=1&b=9")).otherwise(concat(
          lit("?b="), (d % 5).cast("string"), lit("&utm_source=feed&a=1"),
          when(d % 2 === 0, concat(lit("&gclid=g"), d.cast("string"))).otherwise(""),
          when(d % 5 === 1, "&fbclid").otherwise(""),
          lit("#sec"))))
      val blocked = Seq("site-0.com", "site-7.com", "site-13.com").toDF("domain")
      Tables.documents(s, dir)
        .select(d, url.as("url"))
        .select(Urls.urlDomain(col("url")).as("domain"),
          Urls.canonicalUrl(col("url")).as("canon"))
        .join(broadcast(blocked), Seq("domain"), "left_anti")
        .groupBy(col("domain"))
        .agg(count(lit(1)).cast("long").as("n_urls"),
          min(col("canon")).as("first_url"),
          max(col("canon")).as("last_url"))
    }
  )

  /** Core HTML entity unescape as a chained translate — RE2∩Java-safe.
    * `&amp;` decodes LAST: decoding it first would double-unescape
    * nested entities (source '&amp;lt;' displays '&lt;' and must extract
    * as '&lt;', not '<'). */
  private def translateEntities(c: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.regexp_replace
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(c,
      "&lt;", "<"), "&gt;", ">"), "&copy;", "(c)"), "&amp;", "&")
  }
}
