package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level building blocks, all composed from codegen'd built-ins
  * (`org.apache.spark.sql.functions`) so every expression stays inside
  * whole-stage codegen — no UDFs in any hot path.
  */
object F {

  /** Surrogate-key hasher: 8 hex chars of a digest over the concatenated
    * non-null arguments.
    *
    * Reference: srm_tools/hash.py:4 (`sha1(''.join(filter(None, args)))[:8]`).
    * We use md5 instead of sha1 (same 8-hex-char keyspace, identical
    * collision posture at these cardinalities) because md5 is available in
    * both Spark and common SQL oracles, keeping the op verifiable.
    * `concat_ws("")` skips nulls exactly like `filter(None, args)`.
    */
  def hashKey(cols: Column*): Column =
    substring(md5(concat_ws("", cols.map(_.cast("string")): _*)), 1, 8)

  /** Collapse runs of whitespace and trim. Reference: helpers.py:377. */
  def normalizeWhitespace(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** Expand ':'-delimited taxonomy ids to all ancestor prefixes of depth
    * >= 2, distinct + sorted. Reference: helpers.py:100
    * (`update_taxonomy_with_parents`).
    *
    * Pure array expression: for each id, slice its parts at every depth
    * from 2..n and rejoin — no explode needed, no shuffle.
    */
  def taxonomyParents(ids: Column): Column =
    graft.functions.expressions.TaxonomyParents(ids)

  /** The original HOF composition of [[taxonomyParents]] — kept as the
    * property-test reference for the native expression. */
  private[graft] def taxonomyParentsHof(ids: Column): Column = {
    val expanded = flatten(transform(ids, id => {
      val parts = split(id, ":")
      transform(sequence(lit(2), size(parts)), i => array_join(slice(parts, lit(1), i), ":"))
    }))
    array_sort(array_distinct(expanded))
  }

  /** Israeli phone-number formatting (helpers.py:17-55
    * `transform_phone_numbers`): split the newline-separated value, keep
    * the digits of each entry, strip a +972 country prefix (restoring the
    * leading 0), then group 9-digit 0x numbers as xx-xxx-xxxx, 10-digit 0x
    * as xxx-xxx-xxxx and 10-digit 1-800-style as x-xxx-xxxxxx; entries
    * that fit no pattern keep their original (trimmed) text. Native
    * single-pass expression (expressions.FormatPhoneNumbers — the HOF
    * composition ran an interpreted lambda + three regexes per entry);
    * equality property-tested in PropertySpec. Per-row, no shuffle. */
  def formatPhoneNumbers(raw: Column): Column =
    graft.functions.expressions.FormatPhoneNumbers(coalesce(raw, lit("")))

  /** The original HOF composition of [[formatPhoneNumbers]] — kept as the
    * property-test reference for the native expression. */
  private[graft] def formatPhoneNumbersHof(raw: Column): Column = {
    // Python str.strip() removes ALL whitespace; Spark's trim() only
    // strips spaces — regexp strip for fidelity (found by PropertySpec).
    val entries = filter(
      transform(split(coalesce(raw, lit("")), "\n"),
        n => regexp_replace(n, "^\\s+|\\s+$", "")),
      n => n =!= "")
    transform(entries, n => {
      val d0 = regexp_replace(n, "[^0-9]", "")
      val after972 = substring(d0, 4, 32)
      val d = when(length(d0) > 10 && d0.startsWith("972"),
        when(length(after972) < 10 && !after972.startsWith("0"),
          concat(lit("0"), after972)).otherwise(after972))
        .otherwise(d0)
      val grouped = when(length(d) === 9 && d.startsWith("0"),
        concat_ws("-", substring(d, 1, 2), substring(d, 3, 3), substring(d, 6, 4)))
        .when(length(d) === 10 && d.startsWith("0"),
          concat_ws("-", substring(d, 1, 3), substring(d, 4, 3), substring(d, 7, 4)))
        .when(length(d) === 10 && d.startsWith("1"),
          concat_ws("-", substring(d, 1, 1), substring(d, 2, 3), substring(d, 5, 6)))
      coalesce(grouped, n)
    })
  }

  /** Normalize messy taxonomy id lists — the canonicalization half of the
    * reference's taxonomy handling (to_dp.py:116 `normalize_taxonomy_ids`):
    * split comma-concatenated values, split multiple full ids smashed
    * together with spaces, canonicalize the singular root
    * 'human_situation:' -> 'human_situations:', strip whitespace and
    * trailing/leading ',;', drop empties and the bare root token, and
    * dedupe preserving first appearance (array_distinct keeps first
    * occurrence). Native single-pass expression (graft.functions.
    * expressions.NormalizeTaxonomyIds) — the five chained HOF stages it
    * replaces were all CodegenFallback (round-2 bench profile top);
    * equality is property-tested in TaxonomySpec. Per-row, no shuffle. */
  def normalizeTaxonomyIds(ids: Column): Column =
    graft.functions.expressions.NormalizeTaxonomyIds(coalesce(ids, array()))

  /** The original HOF composition of [[normalizeTaxonomyIds]] — kept as
    * the property-test reference for the native expression. */
  private[graft] def normalizeTaxonomyIdsHof(ids: Column): Column = {
    val pat = "human_situations:[A-Za-z0-9_:-]+|human_situation:[A-Za-z0-9_:-]+"
    val commaSplit = flatten(transform(coalesce(ids, array()), x => split(x, ",")))
    // regexp strip, not trim(): Python str.strip() removes all whitespace
    val nonEmpty = filter(
      transform(commaSplit, p => regexp_replace(p, "^\\s+|\\s+$", "")), p => p =!= "")
    val smashed = flatten(transform(nonEmpty, p => {
      val toks = regexp_extract_all(p, lit(pat), lit(0))
      when(size(toks) > 1, toks).otherwise(array(p))
    }))
    val canon = transform(smashed, t =>
      regexp_replace(t, "^human_situation:", "human_situations:"))
    val stripped = transform(canon, t =>
      regexp_replace(regexp_replace(
        regexp_replace(t, "^\\s+|\\s+$", ""), "[,;]+$", ""), "^[,;]+", ""))
    array_distinct(filter(stripped, t => t =!= "" && t =!= "human_situations"))
  }

  /** Situation-list fixups (to_dp.py:99 `fix_situations`), order-preserving:
    *  1. if BOTH gender ids are present, drop both (a service for everyone
    *     is not gender-specific);
    *  2. hebrew_speaking is always dropped (removal of an absent element
    *     is a no-op, so the reference's presence check folds away);
    *  3. arabs/bedouin sector membership appends arabic_speaking at the
    *     END unless already present.
    * Null/empty lists pass through unchanged. Built from array_contains /
    * array_remove / concat only — fully codegen'd, no HOF lambdas. */
  def fixSituations(ids: Column): Column = {
    val women = "human_situations:gender:women"
    val men = "human_situations:gender:men"
    val hebrew = "human_situations:language:hebrew_speaking"
    val arabs = "human_situations:sectors:arabs"
    val bedouin = "human_situations:sectors:bedouin"
    val arabic = "human_situations:language:arabic_speaking"
    val afterGender = when(array_contains(ids, women) && array_contains(ids, men),
      array_remove(array_remove(ids, women), men)).otherwise(ids)
    val afterHebrew = array_remove(afterGender, hebrew)
    when((array_contains(afterHebrew, arabs) || array_contains(afterHebrew, bedouin))
        && !array_contains(afterHebrew, arabic),
      concat(afterHebrew, array(lit(arabic))))
      .otherwise(afterHebrew)
  }

  /** A "valid" address contains no English letters (helpers.py:79
    * `validate_address` — the curated Hebrew fields are authoritative;
    * Latin characters mark machine-resolved junk). */
  def validAddress(c: Column): Column =
    c.isNotNull && !c.rlike("[A-Za-z]")

  /** First valid address in preference order (to_dp.py:231
    * `select_address` over ['address','orig_address','resolved_city']);
    * null when none validates. Codegen'd coalesce-of-guards. */
  def selectAddress(cols: Column*): Column =
    coalesce(cols.map(c => when(validAddress(c), c)): _*)

  /** `transform_urls` (helpers.py:23): newline-separated raw value to
    * (href, title) structs — the LAST '#' splits an optional title off the
    * href, default title "קישור" (the reference's rsplit('#', 1)). No
    * scheme fixing here — that's fix_url (q51); the preprocess chains
    * apply only this split. Null raw → null (reference returns None). */
  def transformUrls(raw: Column): Column =
    transform(split(raw, "\n"), s => struct(
      when(s.contains("#"), regexp_replace(s, "#[^#]*$", "")).otherwise(s).as("href"),
      when(s.contains("#"), regexp_extract(s, "#([^#]*)$", 1)).otherwise(lit("קישור")).as("title")))

  /** `remove_whitespaces` (helpers.py:377): collapse runs of whitespace to
    * one space, then strip the reference's literal edge set ' \t(\n-'
    * from both ends. */
  def cleanWhitespace(c: Column): Column =
    regexp_replace(regexp_replace(c, "\\s+", " "), "^[ \\t\\n(-]+|[ \\t\\n(-]+$", "")

  /** Israel bounding-box sanity gate for a [lon, lat] geometry
    * (helpers.py:69 `validate_geometry`: 33 < x < 37, 29.3 < y < 33.3);
    * false for null / wrong-arity geometries. */
  def validGeometry(geometry: Column): Column =
    coalesce(
      // try_element_at: And doesn't short-circuit under ANSI, so a plain
      // element_at would throw on wrong-arity geometries before the size
      // check can reject them
      size(geometry) === 2 &&
        try_element_at(geometry, lit(1)) > 33.0 && try_element_at(geometry, lit(1)) < 37.0 &&
        try_element_at(geometry, lit(2)) > 29.3 && try_element_at(geometry, lit(2)) < 33.3,
      lit(false))

  /** Strip the reference's autocomplete stop words (autocomplete.py:29
    * STOP_WORDS via :58 `remove_stop_words`): split on single spaces,
    * drop exact stop-word tokens, rejoin. */
  def removeStopWords(s: Column, stopWords: Seq[String]): Column =
    array_join(filter(split(s, " "), w => !w.isin(stopWords.map(lit): _*)), " ")

  /** Branch display name: the organization's short name when curated,
    * else the full name (helpers.py:61 `calculate_branch_short_name`). */
  def branchShortName(orgName: Column, orgShortName: Column): Column =
    coalesce(nullif(orgShortName, lit("")), orgName)

  /** Merge several array columns: drop nulls, flatten, distinct, sort.
    * Reference: to_dp.py:84 (`merge_array_fields`). */
  def mergeArrayFields(cols: Column*): Column = {
    val nonNull = cols.map(c => coalesce(c, array()))
    array_sort(array_distinct(flatten(array(nonNull: _*))))
  }

  /** Dot product of two equal-length numeric arrays, computed in double.
    * Native codegen'd expression (graft.functions.expressions.ArrayDot) —
    * the HOF composition it replaces is CodegenFallback; fold order and
    * null behavior are identical bit-for-bit. */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.ArrayDot(a, b)

  /** L2 norm of a numeric array. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two numeric arrays (double precision). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Whitespace tokenization after lowercasing + trim. */
  def tokens(text: Column): Column =
    split(normalizeWhitespace(lower(text)), " ")

  /** Money-safe cast: exact DECIMAL(18,2) for associativity-independent
    * aggregation (double sums depend on partition order; decimal sums
    * don't, so results are stable across any cluster layout). */
  def money(c: Column): Column = c.cast("decimal(18,2)")
}
