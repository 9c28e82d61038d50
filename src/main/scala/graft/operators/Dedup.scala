package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.F

/** Deduplication operators for large text corpora (SURVEY.md §2.C).
  *
  * Scale posture: every strategy below turns "compare all pairs" into
  * "group by a bounded-cardinality candidate key, compare within groups".
  * Nothing ever materializes an unblocked cross join, so the shuffles are
  * all key-partitioned and AQE-coalescible at 100 TB.
  */
object Dedup {

  private val logger = org.apache.logging.log4j.LogManager.getLogger(getClass)

  // Observation names must be unique per SparkSession; CC runs many times
  // per process (bench/verify iterate every query)
  private val ccObsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Exact dedup: hash the normalized text, keep the lowest id per hash.
    * One map-side-combined aggregation; the hash (not the full text) is the
    * shuffle key, so wide documents don't inflate the exchange. */
  def exactGroups(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    df.select(md5(F.normalizeWhitespace(textCol)).as("text_hash"), idCol.as("id"))
      .groupBy(col("text_hash"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** w-token shingles of a token array (falls back to the whole token list
    * as one shingle for short docs). Native codegen'd expression — the
    * HOF form it replaces (kept below for cross-checking) allocated a
    * slice copy per window. */
  def shingles(tokens: Column, w: Int = 3): Column =
    graft.functions.expressions.Shingles(tokens, w)

  /** Reference HOF form of [[shingles]] — interpreted; PropertySpec
    * asserts equality with the native expression. */
  def shinglesHof(tokens: Column, w: Int = 3): Column =
    when(size(tokens) < w, array(array_join(tokens, " ")))
      .otherwise(transform(
        sequence(lit(1), size(tokens) - (w - 1)),
        i => array_join(slice(tokens, i, lit(w)), " ")))

  /** Cross-corpus duplicate-PASSAGE detection — the exact-substring member
    * of the dedup family (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": the ExactSubstr pass, re-expressed for
    * a shared-nothing engine with fixed-k token windows in place of the
    * single-machine suffix array — the standard distributed approximation).
    * Every k-token window is hashed ([[shingles]], so a doc shorter than k
    * is ONE whole-doc passage and short exact dups are still caught); a
    * hash seen more than once corpus-wide is a duplicated passage, and
    * every occurrence except the corpus-first (the min (id, pos) struct —
    * a TOTAL order, so the keep choice is engine-independent) is marked
    * for removal. Per doc the marked window
    * starts fold into merged-interval coverage — consecutive sorted starts
    * contribute min(k, gap), the last start contributes k, clamped to the
    * doc length (exact: a short-doc fallback window covers exactly the
    * doc) — i.e. the EXACT token count a remove-duplicated-passages pass
    * would cut, with overlapping windows counted once.
    *
    * Cost shape: one shuffle keyed on the 128-bit window hash (the wire
    * carries (hash, id, pos), never text) plus a SAMPLE-priced hot-hash
    * detection aggregate and one per-doc aggregation — all linear in
    * corpus token count, no all-pairs anywhere. Skew posture: a
    * boilerplate passage repeated 1e8-1e9 times at web scale would put
    * its ENTIRE occurrence list into a single window task's sort — and
    * Spark's AQE skew mitigation rewrites only joins and rebalance
    * nodes, never window partitions, so nothing would split it. The
    * marking therefore routes HOT hashes through a broadcast of their
    * (exactly computed) first occurrences — they never enter any
    * exchange — while cold hashes keep the window with per-key lists
    * bounded near [[HotHashThreshold]]. See [[passageMarked]] and
    * ProfPassageSkew (SURVEY lesson 49).
    *
    * Returns one row per input doc: (id, n_tokens, dup_windows,
    * dup_tokens, kept_tokens, dup_frac_1e4). */
  def duplicatePassages(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 13): DataFrame =
    passageCoverage(passageMarked(df, idCol, textCol, k),
      passageBase(df, idCol, textCol), k)

  /** The REMOVE step over the same marking: re-emit each document with
    * every marked duplicated window's tokens cut (the corpus-first copy
    * of each passage survives). kept_tokens here equals q166's
    * n_tokens − coverage by construction — the mask and the
    * merged-interval fold count the same positions — and the oracle gate
    * pins both encodings against each other. The mask itself is a pure
    * per-row expression (exists() over the doc's own marked starts), so
    * beyond [[passageMarked]]'s hash shuffle the emit costs one per-doc
    * aggregation and map-side text reconstruction. */
  def removeDuplicatePassages(df: DataFrame, idCol: String, textCol: String,
                              k: Int = 13): DataFrame = {
    val starts = passageMarked(df, idCol, textCol, k)
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    val base = df.select(col(idCol).as("id"), F.tokens(col(textCol)).as("toks"))
    // Fold the sorted fixed-width starts into DISJOINT merged intervals
    // ONCE per row before masking: with equal window width, a start opens
    // a new interval iff its gap from the previous start is >= k, so the
    // begin/end lists derive from the consecutive-pair arrays. The
    // per-token mask then scans #intervals — a near-fully-duplicated
    // boilerplate doc has O(n_tokens) marked starts but O(1) merged
    // intervals, where an exists() over the raw starts would be O(n²)
    // inside a single row (these HOFs are interpreted; see lesson 47).
    val prevs = slice(col("starts"), lit(1), size(col("starts")) - 1)
    val nexts = slice(col("starts"), lit(2), size(col("starts")) - 1)
    val withIv = starts.select(col("id"),
        array_compact(concat(
          slice(col("starts"), lit(1), lit(1)),
          zip_with(nexts, prevs, (c, p) => when(c - p >= k, c)))).as("ivb"),
        array_compact(concat(
          zip_with(prevs, nexts, (p, c) => when(c - p >= k, p + (k - 1))),
          array(element_at(col("starts"), -1) + (k - 1)))).as("ive"))
      .select(col("id"), arrays_zip(col("ivb"), col("ive")).as("iv"))
    val cleaned = base.join(withIv, Seq("id"), "left")
      .select(col("id"), size(col("toks")).cast("long").as("n_tokens"),
        filter(col("toks"), (x, i) => !exists(
          coalesce(col("iv"), array().cast("array<struct<ivb:bigint,ive:bigint>>")),
          s => (i + 1) >= s.getField("ivb") && (i + 1) <= s.getField("ive")))
          .as("kept"))
    cleaned.select(col("id"), col("n_tokens"),
      size(col("kept")).cast("long").as("kept_tokens"),
      array_join(col("kept"), " ").as("kept_text"))
  }

  /** Occurrence threshold above which a window hash counts as HOT in
    * [[joinPerHash]] / [[passageMarked]]. Sized so (a) a cold key's
    * occurrence list is a few MB at most inside its shuffle partition
    * and (b) the hot set stays broadcastable by counting: #hot ≤
    * corpus_windows / threshold, and real web corpora carry thousands of
    * boilerplate mega-passages, not millions. */
  private[graft] val HotHashThreshold = 100000L

  /** Sampling rate for [[passageMarked]]'s hot-hash detection: routing
    * is correctness-independent, so detection only has to find keys
    * orders of magnitude above the threshold — 1% keeps the detection
    * exchange at 1% of the exact count's wire with a 1e3-occurrence
    * sampled trigger. */
  private[graft] val HotDetectionSampleRate = 0.01

  /** Skew-safe inner equi-join of per-occurrence rows against a per-hash
    * frame on `h`. `perHash` must be one row per hash and carry `cntCol`
    * (that hash's occurrence count in `wins`). Hashes above
    * `hotThreshold` join through a BROADCAST — their occurrences are
    * resolved map-side and never enter a shuffle — while the cold
    * remainder takes a plain shuffled join whose per-key row count is
    * bounded by the threshold (md5 keys distribute uniformly, so
    * bounded keys ⇒ balanced partitions). This is deliberate static skew
    * handling, NOT a bet on AQE: OptimizeSkewedJoin pattern-matches
    * joins whose children are bare shuffle stages, and the build side
    * here reaches the join through its aggregate, so the runtime rewrite
    * never fires on this shape (and windows it never covers at all).
    *
    * The hot machinery costs two extra corpus map passes (both probe
    * branches re-derive `wins`), so it is GATED on hot keys actually
    * existing: one `isEmpty` probe of the per-hash frame — `perHash` MUST
    * therefore be checkpointed by the caller (the probe and the hot/cold
    * filters then scan the materialized per-hash rows, never the corpus).
    * With no hot keys (every test corpus; most curated sources) the
    * plan IS the plain single join, and its per-key rows are ≤ threshold
    * by the same predicate that found no hot keys. `wins` stays lazy
    * lineage (scan → explode → md5), deliberately recomputed per branch
    * instead of materializing a corpus-token-sized frame. The cold/plain
    * join is left to the planner: a shuffled-hash hint was measured OOMing
    * on the build side (the per-hash frame is distinct-hash-sized and the
    * SHJ hash map must fit per task), while sort-merge spills — AQE still
    * converts to SHJ at runtime where the stats say it is safe. */
  private[graft] def joinPerHash(wins: DataFrame, perHash: DataFrame,
                                 cntCol: String,
                                 hotThreshold: Long = HotHashThreshold): DataFrame = {
    val payload = perHash.columns.filter(c => c != "h" && c != cntCol)
    def side(p: DataFrame) = p.select(col("h") +: payload.map(col): _*)
    val hot = side(perHash.filter(col(cntCol) > hotThreshold))
    if (hot.isEmpty) {
      wins.join(side(perHash), Seq("h"))
    } else {
      val cold = side(perHash.filter(col(cntCol) <= hotThreshold))
      val hotHit = wins.join(
          broadcast(hot.withColumnRenamed("h", "__hot_h")),
          col("h") === col("__hot_h"), "left")
      val hotRows = hotHit.filter(col("__hot_h").isNotNull).drop("__hot_h")
      val coldRows = hotHit.filter(col("__hot_h").isNull)
        .select(wins.columns.map(col): _*)
        .join(cold, Seq("h"))
      hotRows.unionByName(coldRows)
    }
  }

  /** Corpus-wide duplicate-window marking: every (id, pos) window
    * occurrence whose hash occurs more than once, EXCEPT the
    * corpus-first (min (id, pos)) occurrence of each hash.
    *
    * Skew posture. The natural encoding is ONE row_number window
    * partitioned by the hash ([[passageMarkedWindow]]) — but a
    * boilerplate passage repeated 1e8-1e9 times at web scale then sorts
    * its ENTIRE occurrence list in a single task that nothing can split:
    * Spark's AQE skew mitigation rewrites joins and rebalance nodes
    * only, never window partitions. So the marking first detects HOT
    * hashes, then routes: hot occurrences resolve MAP-SIDE against a
    * broadcast of their hashes' firsts (a mega-key never enters any
    * exchange), cold occurrences keep the window — now with per-key
    * occurrence lists bounded near [[HotHashThreshold]] and md5-uniform
    * keys, i.e. balanced by construction. Splitting the keys never
    * changes the result: each branch marks exactly its keys' non-first
    * occurrences (DedupSpec pins branch-form ≡ window-form;
    * ProfPassageSkew measures the straggler curve — lesson 49).
    *
    * Detection is SAMPLE-priced, exactly because routing is
    * correctness-independent: a 1% sample's per-hash count (map-side
    * combined) costs 1% of the exact count's wire, and at the 1e3
    * sampled-occurrence trigger a genuinely mega key is detected with
    * overwhelming probability while a borderline miss merely leaves a
    * near-threshold key in the cold window (a few-MB sort, not a
    * straggler). What stays EXACT is what correctness needs: the hot
    * hashes' corpus-first occurrences come from a full-frame aggregate
    * restricted to the hot set (broadcast semi-filter, map-side
    * combined, one row per hot hash).
    *
    * With NO hot hashes — every verification corpus, most curated
    * sources — the gate (one isEmpty probe of the checkpointed sampled
    * count) collapses the plan to exactly the single-window form, and
    * detection is the only overhead: one sample-priced aggregate over
    * recomputed map-only lineage. The window lineage (scan → explode →
    * md5) is recomputed per branch rather than checkpointed — map-only,
    * column-pruned CPU vs materializing a corpus-token-sized frame. */
  /** `hotThreshold`/`detectSample` are production constants; tests
    * override them (threshold 1, sample 1.0) to FORCE the hot branch on
    * small corpora — without the injection point the routing code would
    * be unreachable by any spec and its ≡-window pin vacuous. */
  private[graft] def passageMarked(df: DataFrame, idCol: String,
                                   textCol: String, k: Int,
                                   hotThreshold: Long = HotHashThreshold,
                                   detectSample: Double = HotDetectionSampleRate): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = passageWindows(df, idCol, textCol, k)
    val byHash = Window.partitionBy(col("h")).orderBy(col("id"), col("pos"))
    def windowMarked(w: DataFrame) = w
      .withColumn("rn", row_number().over(byHash))
      .filter(col("rn") > 1)
      .select(col("id"), col("pos"))
    val sampled = if (detectSample >= 1.0) wins else wins.sample(detectSample, seed = 42L)
    val hotSet = sampled
      .groupBy(col("h"))
      .agg(count(lit(1)).as("scnt"))
      .filter(col("scnt") > hotThreshold * detectSample)
      .select(col("h").as("__hot_h"))
      .transform(graft.CheckpointRegistry.local(_, false))
    if (hotSet.isEmpty) windowMarked(wins)
    else {
      val hotFirsts = wins
        .join(broadcast(hotSet), col("h") === col("__hot_h"), "left_semi")
        .groupBy(col("h"))
        .agg(min(struct(col("id"), col("pos"))).as("__first"))
        .withColumnRenamed("h", "__hot_h")
      val probed = wins.join(broadcast(hotFirsts),
        col("h") === col("__hot_h"), "left")
      val hotMarked = probed.filter(col("__hot_h").isNotNull
          && struct(col("id"), col("pos")) =!= col("__first"))
        .select(col("id"), col("pos"))
      val coldMarked = windowMarked(
        probed.filter(col("__hot_h").isNull).select(col("h"), col("id"), col("pos")))
      hotMarked.unionByName(coldMarked)
    }
  }

  /** The row_number-window encoding of [[passageMarked]] — kept solely as
    * the oracle twin (DedupSpec pins set equality on the real corpus).
    * NOT for production use: the window partitions by the hash, so a
    * boilerplate mega-key serializes in one task (see [[passageMarked]]). */
  private[graft] def passageMarkedWindow(df: DataFrame, idCol: String,
                                         textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byHash = Window.partitionBy(col("h")).orderBy(col("id"), col("pos"))
    passageWindows(df, idCol, textCol, k)
      .withColumn("rn", row_number().over(byHash))
      .filter(col("rn") > 1)
      .select(col("id"), col("pos"))
  }

  /** All k-token window hashes of a corpus: (id, pos, h) with pos 1-based
    * and h the window's 16-byte md5 ([[shingles]] semantics, so a doc
    * shorter than k contributes ONE whole-doc window). Map-only. The hash
    * is taken AFTER the generator (a codegen'd scalar on the exploded
    * gram, not an interpreted transform() over the array) and carried as
    * BINARY, not hex — the gram strings die before the exchange and the
    * shuffle key is 16 bytes instead of 32 chars. 128 bits keeps window
    * collisions negligible at trillion-window corpus scale (a 64-bit key
    * birthday-collides in the billions). */
  private[graft] def passageWindows(df: DataFrame, idCol: String,
                                    textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"[graft.dedup] window size must be >= 2, got $k")
    df.select(col(idCol).as("id"),
        posexplode(shingles(F.tokens(col(textCol)), k)).as(Seq("pos0", "g")))
      .select(col("id"), (col("pos0") + 1).cast("long").as("pos"),
        unhex(md5(col("g"))).as("h"))
  }

  /** (id, n_tokens) for the per-doc report frame. Map-only. */
  private[graft] def passageBase(df: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      size(F.tokens(col(textCol))).as("n_tokens"))

  /** Fold marked duplicate-window starts into the per-doc report:
    * merged-interval coverage (consecutive sorted starts contribute
    * min(k, gap), the last contributes k, clamped to the doc length —
    * exact for the short-doc fallback window) left-joined onto every
    * doc of `base`. Pure integer math throughout. */
  private[graft] def passageCoverage(marked: DataFrame, base: DataFrame,
                                     k: Int): DataFrame = {
    val perDoc = marked.groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"),
        count(lit(1)).as("m"))
      .select(col("id"), col("m"),
        (aggregate(
          zip_with(
            slice(col("starts"), lit(1), size(col("starts")) - 1),
            slice(col("starts"), lit(2), size(col("starts")) - 1),
            (a, b) => least(b - a, lit(k.toLong))),
          lit(0L), (acc, x) => acc + x) + k).as("rawcov"))
    val dupTokens = least(coalesce(col("rawcov"), lit(0L)), col("n_tokens"))
    base.select(col("id"), col("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("m"), lit(0L)).cast("long").as("dup_windows"),
        dupTokens.cast("long").as("dup_tokens"),
        (col("n_tokens") - dupTokens).cast("long").as("kept_tokens"))
      .withColumn("dup_frac_1e4",
        expr("CAST((dup_tokens * 10000) DIV n_tokens AS BIGINT)"))
  }

  /** MinHash signatures, map-only: a document's signature and shingle set
    * are pure functions of that document's own text, so the whole pass is
    * ONE projection — native [[graft.functions.expressions.Shingles]]
    * into a scalar [[graft.functions.expressions.MinHashSig]] (all k slot
    * minima in a single Java loop per row) plus `array_distinct` for the
    * verification set. ZERO shuffles; the earlier explode → groupBy(id) →
    * MinHashSketch encoding shuffled every distinct shingle of the corpus
    * once per pass. Hashing is bit-identical to that aggregate form
    * (DedupSpec asserts signature-for-signature equality), so every
    * downstream band/bucket/link is unchanged.
    *
    * Rows whose text is NULL tokenize to NULL and are dropped — the same
    * outcome the exploded form produced (explode of null emits nothing).
    *
    * Why not array lambdas: Spark's higher-order functions are
    * CodegenFallback (interpreted), and projection collapse would inline
    * the shingle construction into every one of the k lambda bodies —
    * measured 1000x slower. Returns (id, sh_set, sig). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int, shingleWidth: Int): DataFrame = {
    import graft.functions.expressions.{MinHashSig, Shingles}
    // Small corpora arrive as one parquet split but shingling+hashing is
    // compute-bound — spread rows across all cores first. r12: this is
    // now the layout-adaptive spread (guide §2.5): a planner-time NO-OP
    // on many-split production scans (the old unconditional form shipped
    // the full text payload through an exchange at any scale), and
    // hash-keyed on the id — keyless repartition(n) locally sorts its
    // whole input first (sortBeforeRepartition), a serial pre-pass on
    // the one-split scan; hashing a high-cardinality id is map-side
    // free. Signatures are per-row pure functions: results identical
    // under any partitioning.
    val spread = Relational.spreadForCompute(df, col(idCol))
    spread
      // null text gate BEFORE shingling (tokenize/shingle null-propagate,
      // so this is the same rows — but filtering on "sh" would push a
      // second shingle computation down into the scan filter)
      .filter(col(textCol).isNotNull)
      // shingle in its own projection: "sh" is referenced twice below and
      // CollapseProject keeps multiply-referenced non-cheap expressions in
      // their own step, so shingling runs once per row
      .select(col(idCol).as("id"),
        Shingles(F.tokens(col(textCol)), shingleWidth).as("sh"))
      .select(col("id"),
        array_distinct(col("sh")).as("sh_set"),
        MinHashSig(col("sh"), k).as("sig"))
  }

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`
    * and emit (band_idx, band_hash) keys. Docs agreeing on any band become
    * candidates. Band keys are high-cardinality -> balanced shuffle. */
  private def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band_idx"),
        xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("band_hash")))

  /** Band geometry guard: bands must tile the signature exactly —
    * k % bands != 0 silently discards the signature tail (recall loss),
    * and bands > k makes every band hash a CONSTANT, turning the band
    * self-join into the unblocked cross product this file exists to
    * avoid. */
  private def bandRows(k: Int, bands: Int): Int = {
    require(bands >= 1 && k >= bands && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k)")
    k / bands
  }

  /** One (id, band_idx, band_hash) row per band of each signature in
    * `sigs` — the band keys every LSH stage below joins or groups on. */
  private def bandKeys(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    sigs.select(col("id"), explode(lshBands(col("sig"), bands, bandRows(k, bands))).as("band"))
      .select(col("id"), col("band.band_idx").as("band_idx"), col("band.band_hash").as("band_hash"))

  /** Full MinHash+LSH near-dup pipeline: returns verified candidate pairs
    * (id_a < id_b) with exact shingle-set Jaccard >= `threshold` — the
    * same set space the signatures estimate, so LSH recall follows the
    * standard S-curve (P[candidate] = 1-(1-s^r)^b, ~0.99 at s=0.7 with
    * 16 bands x 4 rows).
    *
    * Stages: tokenize -> shingle -> signature -> explode bands ->
    * self-join on band key -> distinct pairs -> verify with exact Jaccard.
    * The verify join re-fetches shingle sets by id (broadcast when small).
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 64, bands: Int = 16, shingleWidth: Int = 3,
                      threshold: Double = 0.7): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, k, shingleWidth)
      .transform(graft.CheckpointRegistry.local(_, false)) // referenced by banding AND twice by verify
    val banded = bandKeys(sigs, k, bands)
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(candidates, sigs.select(col("id"), col("sh_set")), threshold)
  }

  /** Exact-Jaccard verification of candidate pairs against per-id shingle
    * sets (shared by the all-pairs and star-link pipelines).
    *
    * r12 (guide §1.2 per-task work, same fix as [[jaccardPairs]]' pair
    * stage): |A∪B| = |A|+|B|-|A∩B| — both inputs are `array_distinct`ed
    * shingle sets, so the identity is exact and `array_union` (a second
    * full hash-set build per pair) is never evaluated; and the intersect
    * sits behind a ComputeBarrier so the threshold filter cannot be
    * pushed into the join condition where it would re-evaluate the
    * intersect per reference. Same integer sizes → same double → same
    * round → byte-identical pairs and jaccard values. */
  private def verifyJaccard(pairs: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    pairs
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh_set", "set_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh_set", "set_b"), "id_b")
      .withColumn("__inter", graft.functions.expressions.ComputeBarrier(
        size(array_intersect(col("set_a"), col("set_b")))))
      .withColumn("jaccard",
        round(col("__inter").cast("double") /
          (size(col("set_a")) + size(col("set_b")) - col("__inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** MinHash+LSH dedup links — the 100 TB path. Instead of enumerating all
    * pairs inside a bucket (quadratic in bucket size, explosive on
    * self-similar corpora), each doc links to the smallest id sharing any
    * band bucket (star pattern): one window-min per bucket, linear work.
    * Links are Jaccard-verified; transitive closure over these links
    * reproduces the duplicate clusters a dedup pass needs.
    *
    * Recall semantics, stated precisely: a pair (b, c) is recovered iff
    * SOME band buckets them together with a rep whose links to both pass
    * verification (or buckets one as the other's rep). A bucket {a,b,c}
    * where only J(b,c) clears the threshold can drop the b-c link — the
    * rep-star + verification trades a sliver of recall for strictly
    * linear candidate volume (the unverified rep-star of the standard
    * corpus dedups has the same bucket-connectivity recall shape). The
    * all-pairs q66 chain is the ORACLE for exactly this gap, and
    * DedupSpec's star≡all-pairs cluster equality is an EMPIRICAL pin on
    * the real corpus, not a structural identity.
    */
  def minhashDedupLinks(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 64, bands: Int = 16, shingleWidth: Int = 3,
                        threshold: Double = 0.7): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, k, shingleWidth)
      .transform(graft.CheckpointRegistry.local(_, false)) // referenced by banding AND twice by verify
    starLinksFromSigs(sigs, k, bands, threshold)
  }

  /** The star-link stage of [[minhashDedupLinks]] over PRECOMPUTED
    * signatures (id, sh_set, sig) — callers that already hold a
    * materialized signature table (q130 shares ONE pass between the
    * previous-sync recompute and the incremental probe; a production sync
    * reads the persisted signature artifact) skip the per-call signature
    * pass. `sigs` must be materialized (checkpoint/persisted artifact):
    * it is referenced by banding AND twice by verify.
    *
    * With `firstNewId` set, only the links whose `id_b` is at least that
    * id are returned — exactly the full link set filtered on `id_b`, since
    * bucket reps still range over every signature. The predicate joins
    * the `rep < id` candidate filter, ahead of verification: the verified
    * jaccard sits behind a ComputeBarrier, and no predicate is pushed
    * through that. */
  def starLinksFromSigs(sigs: DataFrame, k: Int = 64, bands: Int = 16,
                        threshold: Double = 0.7,
                        firstNewId: Option[Long] = None): DataFrame = {
    val banded = bandKeys(sigs, k, bands)
    // bucket rep as a partial-combined agg joined back (r11): a
    // min().over(partition by bucket) window sorts a boilerplate
    // mega-bucket's whole membership in one task (lesson 49's class —
    // AQE splits skewed joins, never windows); the join probe is the
    // splittable shape, and the agg exchange carries ≤ 1 row per bucket
    // per input split
    val reps = banded.groupBy(col("band_idx"), col("band_hash"))
      .agg(min(col("id")).as("rep"))
    val isCandidate = firstNewId.foldLeft(col("rep") < col("id"))(_ && col("id") >= _)
    val links = banded
      .join(reps, Seq("band_idx", "band_hash"))
      .filter(isCandidate)
      .select(col("rep").as("id_a"), col("id").as("id_b"))
      .distinct()
    verifyJaccard(links, sigs.select(col("id"), col("sh_set")), threshold)
  }

  /** INCREMENTAL cluster maintenance — extend an existing dedup
    * clustering with a new batch without re-clustering the corpus.
    *
    * `ids` (column `id`) and `sigs` (id, sh_set, sig, as
    * [[minhashSignatures]] returns them) cover the whole corpus, old and
    * new. `sigs` must be materialized (checkpoint/persisted artifact): the
    * link stage reads it three times. `labelsOld` (id, label) is the
    * previous sync's clustering of exactly the ids below `firstNewId`.
    *
    * Monotone arrival is a typed condition: the new batch is every id at
    * or above `firstNewId`, so each new id is greater than every old one
    * (the natural shape of a growing corpus with assigned ids). q130
    * derives the boundary from a max-id scan; the streaming sink passes
    * its snapshot's coverage + 1; a production sync passes its ingest
    * watermark. An id below `firstNewId` that `labelsOld` does not cover
    * (a backfill, a reused id) silently loses its links to other old
    * docs. Under the contract, adding new docs never changes any bucket's
    * min, so today's star links (see [[minhashDedupLinks]]) = the previous
    * sync's star links ∪ the links with `id_b >= firstNewId` (`id_b > id_a`
    * in every star pair), which [[starLinksFromSigs]] returns with
    * `firstNewId` set. The previous clustering enters as POINTER EDGES
    * (label → id), so every old component enters CC as a star on its
    * label: CC's first contraction collapses them and the iterative work
    * is proportional to the NEW links (edges within the driver budget are
    * union-found directly). Because an old label is the min member id,
    * the merged component's min-label equals the full recompute's label —
    * incremental output is label-for-label identical to re-running the
    * whole star composition (DedupSpec pins this on real data).
    *
    * The two inputs of the final CC share no dependency, and each fires
    * jobs of its own (checkpoints, CC's link checkpoint), so they overlap:
    * a background thread materializes the new-endpoint links while the
    * calling thread evaluates the by-name `labelsOld`, and FIFO scheduling
    * back-fills one chain's stragglers with the other's tasks. If
    * `labelsOld` throws, the link job is joined before the rethrow, so no
    * job outlives the call.
    *
    * Locally the banding stage recomputes old docs' band keys; at scale
    * the previous sync materializes its (band, bucket-min) index and
    * signatures (bucketed by band hash), making the per-sync probe
    * new-batch-sized. Results are identical either way.
    */
  def incrementalMinhashLabels(ids: DataFrame, sigs: DataFrame, firstNewId: Long,
                               labelsOld: => DataFrame,
                               k: Int = 64, bands: Int = 16,
                               threshold: Double = 0.7): DataFrame = {
    val linksNewF = java.util.concurrent.CompletableFuture.supplyAsync { () =>
      starLinksFromSigs(sigs, k, bands, threshold, Some(firstNewId))
        .select(col("id_a"), col("id_b"))
        .transform(graft.CheckpointRegistry.local(_, true)) // eager — this IS the background materialization
    }
    val old =
      try labelsOld
      catch { case e: Throwable => scala.util.Try(linksNewF.join()); throw e }
    val pointer = old
      .filter(col("label") =!= col("id"))
      .select(col("label").as("id_a"), col("id").as("id_b"))
    val linksNew = linksNewF.join()
    val labels = connectedComponents(ids, linksNew.unionByName(pointer))
    // CC reads its links once, into its own eager checkpoint
    graft.CheckpointRegistry.release(linksNew)
    labels
  }

  /** Exact token-set Jaccard pairs within a blocking key, computed over
    * dictionary-encoded bitmasks: tokens map to global bit positions, each
    * doc becomes a map of 64-bit blocks, and |A∩B| is a bit_count of ANDs
    * — tens of times cheaper per pair than hashing string arrays, with
    * byte-identical results (same integer intersect/union sizes).
    *
    * The `sizeRatio` prune (min/max set-size bound implied by the
    * threshold) runs in the join condition before any mask work.
    * Scale notes: the dictionary's bit positions are assigned with a
    * HASH-BUCKETED window (partitioned — never a global single-partition
    * sort): token t gets tid = rank-within-bucket * nBuckets + bucket,
    * which is unique and near-dense (bitmask blocks stay compact) while
    * every numbering task sees only ~V/nBuckets tokens. Jaccard values
    * are invariant to the id assignment, so results are byte-identical
    * to any other numbering. At vocabularies too large to broadcast
    * you'd range-bucket the dictionary join too — the pair stage is
    * unchanged.
    */
  def jaccardPairs(df: DataFrame, idCol: String, blockCol: String, textCol: String,
                   threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(
      col(idCol).as("id"), col(blockCol).as("blk"),
      explode(array_distinct(F.tokens(col(textCol)))).as("t"))
    val nBuckets = math.max(df.sparkSession.sparkContext.defaultParallelism, 16)
    val byBucket = Window.partitionBy(col("bucket")).orderBy(col("t"))
    val dict = toks.select(col("t")).distinct()
      .withColumn("bucket", pmod(xxhash64(col("t")), lit(nBuckets.toLong)).cast("int"))
      .withColumn("tid",
        (row_number().over(byBucket) - 1) * nBuckets + col("bucket"))
      .drop("bucket")
    // Block 0 (the first 64 dictionary slots) rides as a plain long column
    // so the common case is a codegen'd bit_count(AND); only vocabularies
    // past 64 tokens touch the (interpreted) overflow-map aggregate.
    val masks = toks.join(broadcast(dict), "t")
      .select(col("id"), col("blk"), (col("tid") / 64).cast("int").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), tid % 64)").as("bit"))
      .groupBy(col("id"), col("blk"), col("w")).agg(bit_or(col("bit")).as("bits"))
      .groupBy(col("id"), col("blk"))
      .agg(
        coalesce(max(when(col("w") === 0, col("bits"))), lit(0L)).as("m0"),
        map_from_entries(sort_array(collect_list(
          when(col("w") =!= 0, struct(col("w"), col("bits")))))).as("rest"),
        sum(bit_count(col("bits"))).cast("int").as("sz"))
      // r11 (guide §3.3): `masks` feeds BOTH join sides below; left
      // unmaterialized, the whole chain — tokenize, the dictionary
      // distinct+window, the broadcast join and both aggregates — ran
      // twice per call (q25's plan carried 4 documents scans). One row
      // per (id, blk): always small next to its own build cost.
      .transform(graft.CheckpointRegistry.local(_, false))
    // the integer prune is exact ONLY for one-decimal thresholds; for
    // anything finer round() would TIGHTEN the bound and silently drop
    // valid pairs (e.g. t=0.75 -> num=8 prunes a legal 31/40 pair)
    require((threshold * 10) == math.round(threshold * 10).toDouble,
      s"jaccardPairs threshold must have at most one decimal, got $threshold")
    val num = math.round(threshold * 10).toInt // exact int prune
    // COMPOSITE BLOCK (round-2 VERDICT finding #1): `blk` alone (lang, ~10
    // values) makes candidate generation quadratic inside a block at
    // corpus scale. Add a geometric size band derived from the same
    // threshold algebra as the prune: any surviving pair has
    // sz_small >= t * sz_big, so log_{1/t}(sz) differs by at most 1 — a
    // record joined against its own band and both neighbors (the b side
    // triple-emits) sees EVERY admissible partner exactly once (the three
    // bucket values are distinct, so a pair can match only one). The
    // banding is therefore lossless: results are byte-identical to
    // lang-only blocking, and the oracle stays the plain lang-blocked
    // form. Candidate pairs are now bounded per (lang, band) group —
    // bands hold ~|corpus|/band-count same-sized docs, not a whole
    // language.
    val logInvT = math.log(1.0 / threshold)
    val band = floor(log(greatest(col("sz"), lit(1)).cast("double")) / lit(logInvT)).cast("int")
    // Pair evaluation is the compute bottleneck: spread the probe side on
    // the unique id so the O(pairs) work uses every core when the mask
    // checkpoint has fewer partitions than cores.
    val a = Relational.spreadForCompute(masks, col("id"))
      .select(col("id").as("id_a"), col("blk").as("blk_a"), band.as("band_a"),
        col("m0").as("m0_a"), col("rest").as("rest_a"), col("sz").as("sz_a"))
    val b = masks
      .select(col("id").as("id_b"), col("blk").as("blk_b"),
        explode(array(band - 1, band, band + 1)).as("band_b"),
        col("m0").as("m0_b"), col("rest").as("rest_b"), col("sz").as("sz_b"))
    // Native merge-scan intersect of the sorted overflow maps (codegen'd
    // SortedMapBitIntersect) — the interpreted HOF form allocated per map
    // entry on every candidate pair, and the pair loop is the hot path.
    //
    // r12 (guide §1.2 per-task work): the intersect must run ONCE per
    // candidate pair, AFTER the cheap prunes. Without the barrier the
    // jaccard filter is pushed into the join condition, where the
    // observed plan evaluated `sorted_map_bit_intersect` TWICE (the ratio
    // references it in numerator and denominator; no CSE in a join
    // condition) ahead of the id/size conjuncts, plus once more in the
    // post-join projection — every key-matched pair paid the expensive
    // path before the cheap rejects ran. With ComputeBarrier the join
    // keeps only the cheap conjuncts, the intersect evaluates once per
    // surviving candidate, and the same round()-ed filter runs right
    // above it in the same codegen stage. Byte-identical pairs + values.
    val inter = bit_count(col("m0_a").bitwiseAND(col("m0_b"))).cast("int") +
      graft.functions.expressions.SortedMapBitIntersect(col("rest_a"), col("rest_b"))
    a.join(b, col("blk_a") === col("blk_b") && col("band_a") === col("band_b")
        && col("id_a") < col("id_b")
        && col("sz_a") * 10 >= col("sz_b") * num && col("sz_b") * 10 >= col("sz_a") * num)
      .withColumn("inter", graft.functions.expressions.ComputeBarrier(inter))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** 64-bit SimHash signatures, map-only: a document's signature is a
    * pure function of its own token occurrences, so the whole pass is one
    * projection through the scalar [[graft.functions.expressions.
    * SimHashSig]] (per-bit vote loop in Java, codegen'd) — ZERO shuffles;
    * the earlier explode → groupBy(id) → SimHashSketch encoding shuffled
    * a vote buffer per (doc × partition). Bit-identical to that form
    * (DedupSpec), so all block buckets are unchanged. Null-text rows are
    * dropped, matching what explode-of-null produced. Returns (id, sim). */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.expressions.SimHashSig
    // r12: layout-adaptive keyed spread — same rationale and same
    // result-invariance as minhashSignatures above
    Relational.spreadForCompute(df, col(idCol))
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), SimHashSig(F.tokens(col(textCol))).as("sim"))
  }

  /** 64-bit SimHash over a token array: per-bit majority vote of token
    * hashes. Column form for expression-level composition; pipelines use
    * the relational [[simhashes]] (this form is interpreted — HOFs are
    * CodegenFallback). */
  def simhash64(tokens: Column): Column = {
    val th = transform(tokens, t => xxhash64(t))
    val bitCols = (0 until 64).map { j =>
      val vote = aggregate(th, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** One (id, sim, block_idx, block_val) row per 16-bit block of each
    * 64-bit signature — the four block buckets both SimHash stages join
    * or group on. */
  private def simhashBlocks(sims: DataFrame): DataFrame = {
    val blockStructs = (0 until 4).map { b =>
      struct(lit(b).as("block_idx"),
        shiftright(col("sim"), b * 16).bitwiseAND(lit(0xFFFFL)).as("block_val"))
    }
    sims.select(col("id"), col("sim"), explode(array(blockStructs: _*)).as("blk"))
      .select(col("id"), col("sim"), col("blk.block_idx").as("block_idx"), col("blk.block_val").as("block_val"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist, blocked by
    * 16-bit signature segments (pigeonhole: any pair within distance 3 is
    * guaranteed to agree on one of the 4 blocks; larger distances are
    * found with partial recall — standard SimHash trade-off). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3): DataFrame = {
    val blocked = simhashBlocks(simhashes(df, idCol, textCol))
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.block_idx") === col("b.block_idx") &&
          col("a.block_val") === col("b.block_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** SimHash dedup links — star pattern per 16-bit block bucket (same
    * linear-work rationale as [[minhashDedupLinks]]). */
  def simhashDedupLinks(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int = 3): DataFrame = {
    val blocked = simhashBlocks(simhashes(df, idCol, textCol))
    // rep + the rep's signature from ONE partial-combined aggregate
    // joined back (r11 — lesson 49: the former min/first windows
    // partitioned by block sorted a mega-block in one task); min_by on
    // the unique id is deterministic and carries rep_sim in the same
    // pass
    val reps = blocked.groupBy(col("block_idx"), col("block_val"))
      .agg(min(col("id")).as("rep"),
        min_by(col("sim"), col("id")).as("rep_sim"))
    blocked
      .join(reps, Seq("block_idx", "block_val"))
      .filter(col("rep") < col("id"))
      .select(col("rep").as("id_a"), col("id").as("id_b"),
        bit_count(col("rep_sim").bitwiseXOR(col("sim"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Attach per-cluster member counts to a label frame — the lesson-49
    * form: `count(*) OVER (PARTITION BY cluster)` puts a mega cluster's
    * ENTIRE membership into one window task's sort, and the mega cluster
    * is dedup's reason to exist (web boilerplate connects millions of
    * docs into one component; AQE splits skewed JOINS, never windows).
    * Here the count partial-combines map-side (the exchange carries
    * ≤ #clusters rows per input partition) and rides back as a join on
    * the cluster key — the probe side is exactly the shape AQE
    * skew-join splits when one cluster dominates. */
  def withMemberCounts(labels: DataFrame, clusterCol: String = "cluster",
                       outCol: String = "n_members"): DataFrame = {
    val counts = labels.groupBy(col(clusterCol))
      .agg(count(lit(1)).cast("long").as(outCol))
    labels.join(counts, Seq(clusterCol))
  }

  /** Cluster assignment over verified near-dup pairs: every id gets the
    * smallest id of its connected component. This is the step a real
    * dedup pipeline runs AFTER pair discovery (q23/q24/q25): the keep-one
    * decision needs the transitive cluster, not just pairwise links. The
    * fixpoint (component min) is unique, so results are engine-independent
    * — a recursive-CTE oracle converges to the same assignment. Returns
    * (id, label).
    *
    * Precondition: every link endpoint (`id_a`, `id_b`) is an id in
    * `ids`. A link with a null endpoint is ignored.
    *
    * The solve is size-gated. The reference resolves duplicate groups in
    * driver dicts (to_dp.py:237 `merge_duplicate_branches`); graft does
    * the same whenever the problem fits a bounded driver budget:
    *  1. The links are checkpointed once, eagerly, and counted in flight.
    *     If the count fits the budget, the links are collected and
    *     union-found on the driver: no further Spark job runs before the
    *     caller's action.
    *  2. Otherwise the links are CONTRACTED through first-hop labels
    *     (near-duplicate clusters are near-cliques, so most edge mass
    *     collapses to self-loops) and the residue is counted in flight. A
    *     residue that fits the budget is union-found on the driver; a
    *     larger one runs the distributed BSP min-label loop, so a
    *     pathological chain graph at 100 TB still converges.
    * `spark.graft.cc.maxDriverResidueEdges` (default 1e6) is that budget,
    * in DIRECTED edges at both gates: a link counts twice, a residue edge
    * is counted in both directions, and one row per undirected edge is
    * collected. So no driver collect exceeds half the budget (5e5 rows,
    * ≈16 MB of boxed longs at the default).
    *
    * Lineage is cut with [[graft.CheckpointRegistry]] checkpoints
    * (reliable when the SparkContext has a checkpoint directory). The
    * returned frame may read some of them, so the caller releases it after
    * its action (`CheckpointRegistry.releaseAll`, or `release` on it).
    */
  def connectedComponents(ids: DataFrame, links: DataFrame): DataFrame = {
    val idType = ids.schema("id").dataType
    val driverOrd: Option[Ordering[Any]] = idType match {
      case org.apache.spark.sql.types.LongType =>
        Some(Ordering.Long.on[Any](_.asInstanceOf[Long]))
      case org.apache.spark.sql.types.IntegerType =>
        Some(Ordering.Int.on[Any](_.asInstanceOf[Int]))
      case org.apache.spark.sql.types.StringType =>
        Some(Ordering.String.on[Any](_.asInstanceOf[String]))
      case _ => None
    }
    val maxDriverEdges = ids.sparkSession.conf
      .getOption("spark.graft.cc.maxDriverResidueEdges").map(_.toLong)
      .getOrElse(1000000L)
    // The one scan of the link frame, which is often an uncached,
    // expensive discovery join (q66 feeds jaccardPairs straight in): every
    // later step reads this checkpoint, never the links' lineage. The
    // count rides the checkpoint job as an in-flight metric, so the gate
    // costs no extra action. Endpoints take the id type, so both gates
    // solve over one key type and one ordering.
    val linkObs = org.apache.spark.sql.Observation(
      s"graft_cc_links_${ccObsId.incrementAndGet()}")
    val linkCk = links
      .select(col("id_a").cast(idType).as("id_a"), col("id_b").cast(idType).as("id_b"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .observe(linkObs, count(lit(1)).as("n"))
      .transform(graft.CheckpointRegistry.local(_, true))
    if (driverOrd.isDefined && 2 * observedCount(linkObs) <= maxDriverEdges) {
      val labels = unionFindOnDriver(linkCk, idType, driverOrd.get)
      graft.CheckpointRegistry.release(linkCk)
      // ids with no link keep their own id
      ids.select(col("id"))
        .join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    } else {
      contractAndSolve(ids, linkCk, idType, driverOrd, maxDriverEdges)
    }
  }

  /** The value of an in-flight `count` metric; null means the observed
    * job saw no rows. */
  private def observedCount(obs: org.apache.spark.sql.Observation): Long =
    Option(obs.get("n")).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** CC's distributed path for link lists above the driver budget:
    * contract the links through first-hop labels, then solve the residue
    * on the driver (when it fits the budget) or with the BSP loop. */
  private def contractAndSolve(ids: DataFrame, linkCk: DataFrame,
                               idType: org.apache.spark.sql.types.DataType,
                               driverOrd: Option[Ordering[Any]],
                               maxDriverEdges: Long): DataFrame = {
    // Size the loop's layout to the LABEL table, not the session default:
    // labels are one row per id (tiny next to the edge list), and each
    // round runs several jobs — oversized partition counts turn the loop
    // into scheduler overhead. At corpus scale nPart grows with the id
    // count; locally it keeps rounds at a handful of tasks.
    val nPart = math.max(2, ids.sparkSession.sparkContext.defaultParallelism / 4)
    // Both directions of every link, read straight off the link
    // checkpoint: no cache or repartition of its own. The checkpoint
    // already cuts the upstream lineage, so the two reads below (first
    // hop, contraction) each re-explode stored blocks, and the link list
    // is held once, not twice. The first-hop min aggregates before its
    // shuffle; the contraction joins shuffle by u and then v either way.
    val edges = linkCk
      .select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // Smart init = the first BSP round for free: every node starts from
    // least(own id, min over ALL its neighbors) — identical to one
    // min-label round (id_a < id_b in the pair list, so the min over both
    // directions equals the min over incoming id_a once least() is
    // applied).
    val firstHop = edges.groupBy(col("v").as("id")).agg(min(col("u")).as("nmin"))
    // r12 (§2.6 — one fewer global barrier): the init-label checkpoint is
    // LAZY, so its blocks materialize inside the cEdges checkpoint job
    // that consumes it (lu/lv below) instead of costing a separate
    // blocking driver action; the final compose then reads the stored
    // blocks.
    val labels0 = ids.select(col("id"))
      .join(firstHop, Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("nmin"), col("id"))).as("label"))
      .repartition(nPart, col("id"))
      .transform(graft.CheckpointRegistry.local(_, false))
    // CONTRACT once through the init labels before iterating: rewrite
    // every edge to (label(u), label(v)) and drop self-loops + duplicates.
    // Near-duplicate clusters are near-CLIQUES, so the first-hop labels
    // already collapse almost all of their quadratic edge mass to
    // self-loops — what survives is the thin chain structure between
    // partial clusters. The loop then iterates over that residue (orders
    // of magnitude smaller, and with roughly half the diameter), which is
    // what keeps round cost flat as the duplicate rate grows at corpus
    // scale. Components and min-labels are preserved: contracted node ids
    // ARE init labels, and the component's min id m keeps label m.
    val lu = labels0.select(col("id").as("u"), col("label").as("lu"))
    val lv = labels0.select(col("id").as("v"), col("label").as("lv"))
    // the residue count rides the checkpoint materialization as an
    // in-flight metric, like the link count
    val resObs = org.apache.spark.sql.Observation(
      s"graft_cc_residue_${ccObsId.incrementAndGet()}")
    val cEdges = edges.join(lu, "u").join(lv, "v")
      .select(col("lu").as("u"), col("lv").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .repartition(nPart, col("v"))
      .observe(resObs, count(lit(1)).as("n"))
      .transform(graft.CheckpointRegistry.local(_, true))
    graft.CheckpointRegistry.release(linkCk)
    // counts BOTH directions of each undirected residue edge
    val nResidue = observedCount(resObs)
    val labels: DataFrame =
      if (nResidue == 0L) {
        // all edge mass contracted to self-loops — nothing to solve; the
        // compose step's left join + coalesce keeps every init label
        ids.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", idType),
            org.apache.spark.sql.types.StructField("label", idType))))
      } else if (driverOrd.isDefined && nResidue <= maxDriverEdges) {
        // one direction suffices for union-find; halves the collected rows
        unionFindOnDriver(cEdges.filter(col("u") < col("v")), idType, driverOrd.get)
      } else {
        solveResidueBsp(cEdges, nPart)
      }
    // the loop/driver-solve is done with the contracted edge list; only
    // labels0 and the final `labels` stay live — the RETURNED frame's
    // (lazy) lineage reads both, so the caller releases those after its
    // action (CheckpointRegistry.releaseAll, or release on the frame)
    graft.CheckpointRegistry.release(cEdges)
    // Compose: each id's final label is its contracted node's component
    // label; ids whose contracted node lost every edge to self-loops are
    // already final at their init label.
    labels0
      .join(labels.select(col("id").as("label"), col("label").as("clabel")),
        Seq("label"), "left")
      .select(col("id"), coalesce(col("clabel"), col("label")).as("label"))
  }

  /** Bounded in-memory union-find over a two-column edge list (either
    * direction, duplicates allowed) — the same fixpoint as the BSP loop
    * (component-min labels), zero further Spark rounds. Returns (id,
    * label) for every node on an edge. Both callers gate the collect on
    * an exact count against `spark.graft.cc.maxDriverResidueEdges`
    * (at most 5e5 rows at the default), so this is a BOUNDED driver
    * step with a distributed fallback, not an unbounded collect. */
  private def unionFindOnDriver(edges: DataFrame,
                                idType: org.apache.spark.sql.types.DataType,
                                ord: Ordering[Any]): DataFrame = {
    val rows = edges.collect()
    val parent = new java.util.HashMap[Any, Any](rows.length * 2)
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.get(x)
      while (p != null && p != x) { x = p; p = parent.get(x) }
      // path compression
      var c = x0
      while (parent.get(c) != null && parent.get(c) != x) {
        val n = parent.get(c); parent.put(c, x); c = n
      }
      x
    }
    rows.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    logger.info(s"[graft.cc] union-find on driver: ${rows.length} edges, " +
      s"${parent.size()} nodes")
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    val it = parent.keySet().iterator()
    while (it.hasNext) { val k = it.next(); out.add(org.apache.spark.sql.Row(k, find(k))) }
    edges.sparkSession.createDataFrame(out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("label", idType))))
  }

  /** The distributed BSP min-label loop over the contracted residue —
    * the fallback when the residue exceeds the driver budget. */
  private def solveResidueBsp(cEdges: DataFrame, nPart: Int): DataFrame = {
    // Smart init over the residue: its node set is exactly cEdges'
    // v-side (edges are bidirectional); contracted nodes with no
    // surviving edge are already final.
    // lazy (r12): materializes inside round 1's checkpoint job rather
    // than as its own blocking action — same §2.6 move as labels0
    val cInit = cEdges.groupBy(col("v").as("id")).agg(min(col("u")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("label"))
      .repartition(nPart, col("id"))
      .transform(graft.CheckpointRegistry.local(_, false))
    var labels = cInit
    var changed = true
    var rounds = 0
    val maxRounds = 64
    val jumpEvery = 4 // pointer-jump period, see the loop body
    val labelType = labels.schema("label").dataType
    // NOTE pitfalls measured here: a pointer-jump self-join or a
    // multi-step body on the UNMATERIALIZED frame recomputes the round's
    // lineage once per reference (the self-join doubles the work and
    // nesting doubles it again) — every round must checkpoint exactly
    // once and join only materialized frames. The convergence check rides
    // IN the round's own single job: each id's previous label is carried
    // as a column (`prev`, non-null only on the labels-side row, so
    // min-ignoring-nulls recovers it) and an observe() metric counts
    // label<prev DURING the checkpoint materialization — one job per
    // round, no separate convergence action at all (round 4's extra
    // join+count() job per round was ~half the loop's wall time; the
    // round-5 first cut still paid an isEmpty scan per round).
    while (changed && rounds < maxRounds) {
      val obs = org.apache.spark.sql.Observation(s"graft_cc_r$rounds")
      val prop = cEdges
        .join(labels.select(col("id"), col("label")), col("v") === col("id"))
        .select(col("u").as("id"), col("label"),
          lit(null).cast(labelType).as("prev"))
      val next = labels
        .select(col("id"), col("label"), col("label").as("prev"))
        .unionByName(prop)
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"), min(col("prev")).as("prev"))
        .observe(obs, sum(when(col("label") < col("prev"), 1L).otherwise(0L)).as("changed"))
        // the checkpoint stores only (id, label); prev exists solely for
        // the in-flight metric
        .select(col("id"), col("label"))
        .transform(graft.CheckpointRegistry.local(_, true))
      // null metric = zero rows in the contracted graph (all-clique input
      // contracts away entirely) — converged
      changed = Option(obs.get("changed")).exists(_.asInstanceOf[Long] > 0)
      // release the superseded round's checkpoint: `next` is eagerly
      // materialized, so nothing reads `labels` again — without
      // this, a long-lived caller (the streaming cluster-maintenance
      // sink runs this loop EVERY micro-batch) accumulates one
      // label-table checkpoint per round per batch until a driver GC
      val prev = labels
      labels = next
      graft.CheckpointRegistry.release(prev)
      rounds += 1
      // POINTER-JUMP every 4th round: label <- label(label). One-hop BSP
      // alone moves min labels a single edge per round, so a chain-shaped
      // cluster (versioned/templated near-dups where only adjacent
      // revisions link) needs diameter rounds; periodic path-halving
      // makes the round count O(log diameter) for the same fixpoint
      // (labels are monotone non-increasing either way). Both join sides
      // are the freshly materialized checkpoint, so the jump costs one
      // extra job per 4 rounds, nothing on shallow graphs.
      if (changed && rounds % jumpEvery == 0) {
        val beforeJump = labels
        labels = labels
          .join(labels.select(col("id").as("label"), col("label").as("ll")),
            Seq("label"), "left")
          .select(col("id"), coalesce(col("ll"), col("label")).as("label"))
          .repartition(nPart, col("id"))
          .transform(graft.CheckpointRegistry.local(_, true))
        graft.CheckpointRegistry.release(beforeJump)
      }
    }
    if (changed)
      throw new IllegalStateException(
        s"[graft.cc] NOT converged after $maxRounds rounds — component diameter " +
          "exceeds the cap even with pointer jumping; labels would be wrong")
    logger.info(s"[graft.cc] converged after $rounds rounds over the contracted graph")
    labels
  }
}
