package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Profile

/** q104: the table profiler over the widest test table ([[graft.operators
  * .Profile]] — two passes for any column count; see the operator scaladoc
  * for the measured pass split: string min/max buffers must stay OUT of
  * the Expand-planned distinct pass).
  *
  * The oracle is the blunt per-column UNION ALL — 11 separate full-column
  * aggregates. That asymmetry is the point: DuckDB replays the SEMANTICS
  * column by column, while the Spark plan produces identical numbers from
  * two passes; the hash gate proves the fused plan loses nothing.
  */
object ProfileQueries {

  private val IntCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  private val DblCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val OthCols = Seq("l_returnflag", "l_linestatus", "l_shipdate")
  private val AllCols = IntCols ++ DblCols ++ OthCols

  // per-column oracle row; NDV counts RAW values; floats render through
  // DECIMAL(18,2) for min/max output on both engines (shortest-roundtrip
  // double printing is engine-specific)
  private def colSql(c: String, isDouble: Boolean): String = {
    val minS = if (isDouble) s"CAST(CAST(MIN($c) AS DECIMAL(18,2)) AS VARCHAR)" else s"CAST(MIN($c) AS VARCHAR)"
    val maxS = if (isDouble) s"CAST(CAST(MAX($c) AS DECIMAL(18,2)) AS VARCHAR)" else s"CAST(MAX($c) AS VARCHAR)"
    s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
       |  COUNT(*) - COUNT($c) AS n_nulls,
       |  COUNT(DISTINCT $c) AS n_distinct,
       |  $minS AS min_s, $maxS AS max_s FROM lineitem""".stripMargin
  }

  // q105: the relation-constraint report — PK uniqueness + FK integrity
  // over the warehouse tables, one summary row per check. NULL child keys
  // count as FK violations (a NOT-IN/anti-join would silently pass them);
  // the oracle replays that with an explicit IS NULL arm.
  private val RefChecks = Seq(
    ("fk_orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("fk_lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("fk_lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("fk_lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"))
  private val PkChecks = Seq(
    ("pk_customer", "customer", "c_custkey"),
    ("pk_orders", "orders", "o_orderkey"),
    ("pk_part", "part", "p_partkey"),
    ("pk_supplier", "supplier", "s_suppkey"),
    ("pk_documents", "documents", "doc_id"))

  private def pkSql(name: String, t: String, k: String): String =
    s"""SELECT '$name' AS check_name, COUNT(*) AS n_checked,
       |  COUNT(*) FILTER (WHERE n > 1) AS n_violations
       |FROM (SELECT $k, COUNT(*) AS n FROM $t GROUP BY $k)""".stripMargin

  private def fkSql(name: String, ct: String, ck: String, pt: String, pk: String): String =
    s"""SELECT '$name' AS check_name, COUNT(*) AS n_checked,
       |  COUNT(*) FILTER (WHERE p.$pk IS NULL) AS n_violations
       |FROM $ct c LEFT JOIN (SELECT DISTINCT $pk FROM $pt) p ON c.$ck = p.$pk""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q105_constraint_check" -> QueryDef.of(
      (PkChecks.map((pkSql _).tupled) ++ RefChecks.map((fkSql _).tupled))
        .mkString("", "\nUNION ALL\n", "\n")) { (s, dir) =>
      import graft.operators.Constraints
      def t(n: String) = graft.Tables.table(s, dir, n)
      // the three lineitem FKs probe ONE scan of the fact table
      // (referentialAll); the orders FK and the PK checks each scan a
      // dimension — noise at any scale
      val (factChecks, dimChecks) = RefChecks.partition(_._2 == "lineitem")
      Constraints.report(
        PkChecks.map { case (name, tb, k) => Constraints.uniqueKey(t(tb), k, name) } ++
        dimChecks.map { case (name, ct, ck, pt, pk) =>
          Constraints.referential(t(ct), ck, t(pt), pk, name) } :+
        Constraints.referentialAll(t("lineitem"),
          factChecks.map { case (name, _, ck, pt, pk) => (name, ck, t(pt), pk) }))
    },

    // q115: PROFILE DRIFT — the per-column monitoring report between two
    // corpus snapshots (q87 tells WHICH docs changed; this tells whether
    // the SHAPE of each column moved: volume, nulls, cardinality). Pure
    // composition: Profile.profile over each q87-style snapshot, joined
    // on col_name — operator reuse is the point. Drift thresholds on
    // these deltas are what a production pipeline alerts on.
    "q115_profile_drift" -> QueryDef.of {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      val legs = cols.map { c =>
        s"""SELECT '$c' AS col_name,
           |  (SELECT COUNT($c) FROM v1) AS n1, (SELECT COUNT($c) FROM v2) AS n2,
           |  (SELECT COUNT(DISTINCT $c) FROM v1) AS ndv1,
           |  (SELECT COUNT(DISTINCT $c) FROM v2) AS ndv2""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\n")
      s"""WITH base AS (
         |  SELECT doc_id, lang, source, n_chars,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':v'), 1, 8)) AS BIGINT) % 10 AS slot
         |  FROM documents
         |), v1 AS (SELECT * FROM base WHERE slot <> 0),
         |v2 AS (SELECT * FROM base WHERE slot <> 1)
         |$legs""".stripMargin
    } { (s, dir) =>
      import graft.operators.{Profile, Sampling}
      import org.apache.spark.sql.functions.col
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      // r11: ONE spread + materialization feeds all four aggregate passes
      // (2 snapshots × passA/passB). The old form gave each snapshot its
      // own repartition exchange (two scans, two 32-way shuffles of the
      // same rows), and a shared repartition would NOT fix it — the slot
      // filters push below a repartition exchange and fork the subtrees
      // (the q75 pushdown trap) — so the share point is a checkpoint.
      val base = Tables.documents(s, dir)
        .select((cols.map(col) :+
          (Sampling.saltedHash32(col("doc_id"), "v") % 10).as("slot")): _*)
        .transform(graft.operators.Relational.spreadForCompute(_, col("doc_id")))
        .transform(graft.CheckpointRegistry.local(_, false))
      def prof(snap: org.apache.spark.sql.DataFrame, suffix: String) =
        Profile.profile(snap, cols)
          .select(col("col_name"),
            (col("n_rows") - col("n_nulls")).as("n" + suffix),
            col("n_distinct").as("ndv" + suffix))
      prof(base.filter(col("slot") =!= 0), "1")
        .join(prof(base.filter(col("slot") =!= 1), "2"), "col_name")
        .select(col("col_name"), col("n1"), col("n2"), col("ndv1"), col("ndv2"))
    },

    "q104_table_profile" -> QueryDef.of(
      AllCols.map(c => colSql(c, DblCols.contains(c))).mkString("", "\nUNION ALL\n", "\n")) {
      (s, dir) =>
        import org.apache.spark.sql.functions.col
        // keyed on the line PK; one exchange feeds both profiler passes
        Profile.profile(graft.operators.Relational.spreadForCompute(
          Tables.lineitem(s, dir).select(AllCols.map(col): _*),
          col("l_orderkey"), col("l_linenumber")), AllCols)
    },

    // q123: the 100 TB form of q104 as a registered query (the q121
    // move): ONE scan, no unpivot, approx NDV (HLL++, rsd 0.05 — the
    // measured knee, see Profile.profileApprox scaladoc / ProfHllRsd:
    // tighter rsd inflates the aggregate row width past codegen limits
    // for a 2× slowdown) riding the same aggregate row as the typed
    // stats — bounded mergeable state per column where the exact form
    // buffers distinct values. Rows-only: sketch estimates are
    // engine-specific; ProfileSpec pins exact-field equality
    // (n_rows/n_nulls/min/max) and NDV within 3×rsd against the oracled
    // exact profile.
    "q123_table_profile_approx" -> QueryDef.rowsOnly { (s, dir) =>
      Profile.profileApprox(Tables.lineitem(s, dir), AllCols)
    }
  )
}
