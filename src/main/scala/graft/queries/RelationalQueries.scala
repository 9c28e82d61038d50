package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.F
import graft.operators.Relational

/** §2.A of SURVEY.md — the dataflows relational vocabulary, one verified
  * query per operator. Every aggregate over money is DECIMAL (exact and
  * partition-order-independent); every output is deterministically ordered.
  */
object RelationalQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // q01: group + aggregate (dataflows join_with_self; to_dp.py:710).
    // TPC-H Q1 shape. Filter reaches the parquet scan as a pushed predicate;
    // aggregation is partial (map-side) then final — one shuffle on the
    // 6-value grouping key.
    // Aggregation stays DECIMAL internally (exact, partition-order-
    // independent); only the FINAL projection casts to DOUBLE so the
    // driver hashes the same representation from both engines.
    "q01_agg" -> QueryDef.of(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(F.money(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(F.money(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(F.money(col("l_extendedprice")) * (lit(BigDecimal(1.00)).cast("decimal(18,2)") - F.money(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },

    // q02: select/rename/cast projection (helpers.py:148-174). The scan
    // must read only 4 of part's 6 columns (column pruning) with the size
    // filter pushed down.
    "q02_project" -> QueryDef.of(
      """SELECT p_partkey AS part_id, upper(p_name) AS part_name, p_brand AS brand,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS retail_price
        |FROM part WHERE p_size >= 25
        |""".stripMargin) { (s, dir) =>
      Tables.part(s, dir)
        .filter(col("p_size") >= 25)
        .select(
          col("p_partkey").as("part_id"),
          upper(col("p_name")).as("part_name"),
          col("p_brand").as("brand"),
          F.money(col("p_retailprice")).cast("double").as("retail_price"))
    },

    // q03: multi-way join + top-N (DF.join, to_dp.py:329). customer is the
    // small side -> broadcast hash join (no shuffle of lineitem for it);
    // orders⋈lineitem shuffles on orderkey; top-10 via TakeOrdered (no full
    // sort of the aggregate).
    //
    // Deliberately NOT routed through the TopKPerKey node (q91): this is a
    // GLOBAL top-N, and Spark's TakeOrderedAndProject is already the
    // optimal plan for it — per-partition bounded top-N followed by a
    // DRIVER-side merge of p·N rows with no exchange at all. TopKPerKey
    // generalizes that shape per key; with a single (empty) key its final
    // phase would funnel the survivors through one executor partition via
    // a hash exchange — strictly worse than the driver merge. PlanSpec
    // pins TakeOrderedAndProject so a regression to a global sort (or an
    // accidental rewrite through the custom node) fails loudly.
    "q03_join_topn" -> QueryDef.of(
      """SELECT l_orderkey AS orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate AS orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val cutoff = lit("1998-03-15").cast("timestamp")
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir).filter(col("o_orderdate") < cutoff),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey").as("orderkey"), col("o_orderdate").as("orderdate"))
        .agg(sum(F.money(col("l_extendedprice")) * (lit(BigDecimal(1.00)).cast("decimal(18,2)") - F.money(col("l_discount"))))
          .cast("double").as("revenue"))
        .select(col("orderkey"), col("revenue"), col("orderdate"))
        .orderBy(col("revenue").desc, col("orderkey"))
        .limit(10)
    },

    // q04: join with set-aggregate (DF.join aggregate='set'; to_dp.py:517).
    // collect_set + sort_array gives the reference's sorted unique list;
    // single shuffle on the grouping key.
    "q04_join_agg_set" -> QueryDef.of(
      """SELECT c_custkey AS custkey,
        |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS priorities,
        |  COUNT(*) AS order_count
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |""".stripMargin) { (s, dir) =>
      // Array serialized with '|' in the final projection (both engines):
      // the driver's pandas hasher can't sort raw list columns.
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey").as("custkey"))
        .agg(
          array_join(sort_array(collect_set(col("o_orderpriority"))), "|").as("priorities"),
          count(lit(1)).as("order_count"))
    },

    // q05: concatenate / union-by-name (dataflows concatenate). No shuffle
    // at all — pure union of two scans.
    "q05_concat" -> QueryDef.of(
      """SELECT c_name AS name, c_nationkey AS nationkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal, 'customer' AS source FROM customer
        |UNION ALL
        |SELECT s_name, s_nationkey, CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE), 'supplier' FROM supplier
        |""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir).select(
        col("c_name").as("name"), col("c_nationkey").as("nationkey"),
        F.money(col("c_acctbal")).cast("double").as("acctbal"), lit("customer").as("source"))
      val p = Tables.supplier(s, dir).select(
        col("s_name").as("name"), col("s_nationkey").as("nationkey"),
        F.money(col("s_acctbal")).cast("double").as("acctbal"), lit("supplier").as("source"))
      Relational.concatenate(Seq(c, p))
    },

    // q06: unwind/explode (srm_tools/unwind.py:4). explode stays inside
    // codegen; the count is a standard two-phase aggregate.
    "q06_unwind" -> QueryDef.of(
      """SELECT word, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        |GROUP BY word""".stripMargin) { (s, dir) =>
      Relational.unwind(
        Tables.part(s, dir).select(split(col("p_name"), " ").as("words")),
        "words", "word")
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    },

    // q07: keep-first dedup (to_dp.py:580). Deterministic ordering replaces
    // the reference's reliance on generator order — stable under any
    // partitioning. One shuffle (window partition key).
    "q07_dedup_first" -> QueryDef.of(
      """SELECT o_custkey AS custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
        |""".stripMargin) { (s, dir) =>
      Relational.dedupKeepFirst(
        Tables.orders(s, dir),
        keys = Seq(col("o_custkey")),
        order = Seq(col("o_orderdate"), col("o_orderkey")))
        .select(
          col("o_custkey").as("custkey"),
          col("o_orderkey").as("first_orderkey"),
          col("o_orderdate").as("first_orderdate"))
    },

    // q08: surrogate hash keys (srm_tools/hash.py:4) — md5-based, fully
    // codegen'd, embarrassingly parallel (no shuffle before the sort).
    "q08_hash_key" -> QueryDef.of(
      """SELECT c_custkey AS custkey,
        |  substr(md5(concat_ws('', c_name, CAST(c_nationkey AS VARCHAR))), 1, 8) AS entity_key
        |FROM customer""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey").as("custkey"),
          F.hashKey(col("c_name"), col("c_nationkey")).as("entity_key"))
    },

    // q09: ordered windows (dataflows sort_rows + the reference's ordered
    // merge passes, to_dp.py:444). Running DECIMAL sum + rank per customer;
    // unique (date, orderkey) ordering makes the frame deterministic.
    "q09_window" -> QueryDef.of(
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_orderdate AS orderdate,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rk,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS running_total
        |FROM orders""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(
          col("o_custkey").as("custkey"),
          col("o_orderkey").as("orderkey"),
          col("o_orderdate").as("orderdate"),
          rank().over(w).cast("long").as("rk"),
          sum(F.money(col("o_totalprice"))).over(w).cast("double").as("running_total"))
    },

    // q10: fuzzy near-match (to_dp.py:264, fuzz.ratio on duplicate
    // branches). Self-join blocked on p_brand — never an unblocked cross
    // join; at 100 TB the blocking key bounds each comparison group.
    "q10_fuzzy" -> QueryDef.of(
      """SELECT * FROM (
        |  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |    CAST(round(100.0 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE) / greatest(length(a.p_name), length(b.p_name)))) AS BIGINT) AS ratio
        |  FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |    AND abs(length(a.p_name) - length(b.p_name)) * 5 <= greatest(length(a.p_name), length(b.p_name))
        |) WHERE ratio >= 80
        |""".stripMargin) { (s, dir) =>
      // Exact length prune in the join: ratio >= 80 needs lev <= 0.2*maxlen,
      // and lev >= |len_a - len_b| always, so 5*|len diff| <= maxlen is a
      // lossless pre-filter evaluated before any Levenshtein work.
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"), col("p_name"))
      // The probe side is a single small parquet split but the join does
      // O(n^2/brand) Levenshtein work — spread it across all cores (the
      // same fix a 100 TB run needs when compute, not input bytes, is the
      // bottleneck).
      val a = graft.operators.Relational.spreadForCompute(p, col("p_partkey"))
        .select(col("p_partkey").as("key_a"), col("p_brand").as("brand_a"), col("p_name").as("name_a"))
      val b = p.select(col("p_partkey").as("key_b"), col("p_brand").as("brand_b"), col("p_name").as("name_b"))
      // Banded levenshtein with early exit, banded PER PAIR: ratio>=80
      // admits lev up to 0.205*maxlen of THAT pair, so the DP threshold
      // is ceil(0.205*greatest(len_a,len_b)) computed per candidate — as
      // tight as the data allows on every pair, lossless on ANY corpus
      // (no length assumption), and fully lazy. This replaces round 2's
      // corpus-wide band from an EAGER max(length) aggregate at DataFrame
      // construction time (round-2 VERDICT finding #3) — that scan also
      // priced the whole corpus's worst case into every pair. The
      // Levenshtein expression takes the threshold as a per-row child;
      // only the functions.levenshtein wrapper restricts it to a literal.
      // The whole predicate lives in the JOIN condition: short-circuit
      // order (brand/key/length prune, then the banded DP) evaluates the
      // levenshtein once per candidate pair; a post-filter form
      // re-evaluates it through predicate substitution (measured ~2x).
      val maxLen = greatest(length(col("name_a")), length(col("name_b")))
      val bandCol = greatest(ceil(lit(0.205) * maxLen), lit(1)).cast("int")
      val lev = {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.Levenshtein(
          ColumnBridge.expression(col("name_a")),
          ColumnBridge.expression(col("name_b")),
          Some(ColumnBridge.expression(bandCol))))
      }
      def ratioOf(l: org.apache.spark.sql.Column) =
        round(lit(100.0) * (lit(1.0) - l.cast("double") / maxLen.cast("double"))).cast("long")
      a.join(b, col("brand_a") === col("brand_b") && col("key_a") < col("key_b")
          && abs(length(col("name_a")) - length(col("name_b"))) * 5 <= greatest(length(col("name_a")), length(col("name_b")))
          && lev >= 0 && ratioOf(lev) >= 80)
        .select(col("key_a"), col("key_b"), ratioOf(lev).as("ratio"))
    },

    // q151: q10's 100 TB form — the sf1 scaling probe measured q10 at
    // 51× wall for 10× data (BASELINE.md r7): its brand blocks grow
    // linearly, so the per-pair Levenshtein calls grow quadratically.
    // But the ratio depends ONLY on the two names, and name columns in
    // entity-resolution corpora are low-cardinality (~150 distinct names
    // over 20k parts here) — so compute the banded Levenshtein once per
    // DISTINCT name pair (the q145 sufficient-statistics argument
    // applied to fuzzy matching), broadcast the ≥80 name-pair matrix,
    // and expand back to part pairs with two equi-joins. Lev calls:
    // O(distinct²) instead of O(Σ block²); the expansion is
    // output-proportional. Degrades gracefully: all-unique names make
    // distinct² = n² and q10's block form is equally good — the regime
    // rule, not a universal win. SAME ORACLE as q10 (identical answer,
    // full hash gate); FuzzySpec additionally pins set-equality against
    // q10 and the broadcast plan shape.
    "q151_fuzzy_distinct" -> QueryDef.of(
      """SELECT * FROM (
        |  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |    CAST(round(100.0 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE) / greatest(length(a.p_name), length(b.p_name)))) AS BIGINT) AS ratio
        |  FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |    AND abs(length(a.p_name) - length(b.p_name)) * 5 <= greatest(length(a.p_name), length(b.p_name))
        |) WHERE ratio >= 80
        |""".stripMargin) { (s, dir) =>
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"), col("p_name"))
      val names = p.select(col("p_name")).distinct()
      // full (ordered-both-ways) distinct-name-pair matrix: a part pair
      // (key_a < key_b) can carry its names in either lexical order, and
      // equal names (exact duplicates, ratio 100) must be included
      val na = names.select(col("p_name").as("na"))
      val nb = names.select(col("p_name").as("nb"))
      val maxLen = greatest(length(col("na")), length(col("nb")))
      val bandCol = greatest(ceil(lit(0.205) * maxLen), lit(1)).cast("int")
      val lev = {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.Levenshtein(
          ColumnBridge.expression(col("na")),
          ColumnBridge.expression(col("nb")),
          Some(ColumnBridge.expression(bandCol))))
      }
      def ratioOf(l: org.apache.spark.sql.Column) =
        round(lit(100.0) * (lit(1.0) - l.cast("double") / maxLen.cast("double"))).cast("long")
      // distinct² pairs — the cross product is the POINT: it is the
      // sufficient statistic, sized by name cardinality, not corpus rows
      val nameMatches = na.crossJoin(nb)
        .filter(abs(length(col("na")) - length(col("nb"))) * 5 <= maxLen
          && lev >= 0 && ratioOf(lev) >= 80)
        .select(col("na"), col("nb"), ratioOf(lev).as("ratio"))
      val a = p.select(col("p_partkey").as("key_a"), col("p_brand").as("brand_a"),
        col("p_name").as("name_a"))
      val b = p.select(col("p_partkey").as("key_b"), col("p_brand").as("brand_b"),
        col("p_name").as("name_b"))
      a.join(broadcast(nameMatches), col("name_a") === col("na"))
        .join(b, col("brand_a") === col("brand_b") && col("name_b") === col("nb")
          && col("key_a") < col("key_b"))
        .select(col("key_a"), col("key_b"), col("ratio"))
    }
  )
}
