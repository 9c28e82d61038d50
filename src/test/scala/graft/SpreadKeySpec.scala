package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.functions._

/** r12 spread-key hygiene guard (r11 VERDICT item 10): every
  * layout-adaptive compute spread must key on a high-cardinality
  * expression — a low-cardinality key hashes the whole input into a
  * handful of partitions and silently serializes the stage the spread
  * exists to parallelize (guide §2.5: use 20-100x more distinct key
  * values than partitions).
  *
  * Mechanism: `spark.graft.spread.assertMinKeys` arms a cardinality
  * assertion inside [[graft.operators.Relational.spreadForCompute]]
  * (approx_count_distinct over the key tuple, one small job per spread,
  * dev/test only); CONSTRUCTING each spread-bearing query then trips the
  * assertion if any key falls under the floor. The list below names
  * every registered query whose build routes through spreadForCompute —
  * a new spread site should be added here. A grep guard keeps every
  * spread decision inside spreadForCompute, so none escapes the check.
  */
class SpreadKeySpec extends SpecBase {

  private val spreadQueries = Seq(
    "q41_json_extract",            // key: raw props JSON strings
    "q101_image_decode",           // key: media id
    "q128_video_frames",           // key: media id
    "q142_meser_combine",          // key: o_orderkey
    "q144_mde_branches",           // key: (l_orderkey, l_linenumber)
    "q146_daycare_branch_staging", // key: o_orderkey
    "q158_external_mde",           // key: o_orderkey
    "q163_dsir",                   // key: doc_id
    "q83_dup_ngrams",              // key: doc_id
    "q99_substring_scrub",         // key: doc_id
    "q10_fuzzy",                   // key: p_partkey
    "q68_preprocess",              // keys: c_custkey / p_partkey / o_orderkey
    "q96_preprocess_ref",          // same shared staging helpers
    "q179_minhash_band_md5",       // key: doc_id
    "q115_profile_drift",          // key: doc_id
    "q75_decontaminate",           // key: doc_id
    "q34_es_docs",                 // key: o_orderkey
    "q64_card_pipeline",           // key: branch_key (hash of 3 columns)
    "q65_publish_docs",            // same pipeline + card_id spread
    "q104_table_profile",          // keys: (l_orderkey, l_linenumber)
    "q25_ngram_jaccard",           // key: doc_id (jaccardPairs probe side)
    "q66_dedup_clusters",          // same pair stage
    "q78_cluster_representatives", // same pair stage
    "q135_cluster_stats")          // same pair stage

  test("every compute spread keys on a high-cardinality expression") {
    // 20x the session parallelism — the low end of the guide §2.5 band;
    // sf0.001's smallest spread input (customer, 150 rows) still clears
    // the 4-core test session's floor of 80 with a PK key, while a
    // low-cardinality regression (a status/lang/segment key: <25
    // values) fails at any core count.
    val minKeys = 20L * spark.sparkContext.defaultParallelism
    spark.conf.set("spark.graft.spread.assertMinKeys", minKeys.toString)
    try {
      val qs = SparkEntry.queries
      spreadQueries.foreach { name =>
        assert(qs.contains(name), s"spread registry lists unknown query $name")
        // construction alone routes through spreadForCompute and arms
        // the assertion; no sink action needed
        qs(name)(spark, SfDir)
      }
    } finally {
      spark.conf.unset("spark.graft.spread.assertMinKeys")
      CheckpointRegistry.releaseAll()
    }
  }

  test("no file under src/main decides a compute spread outside Relational.spreadForCompute") {
    // a split-count probe, or a repartition to the session parallelism,
    // is a hand-copied spread decision the key guard above never sees
    val spreadDecision = """getNumPartitions|repartition\(\s*[\w.]*defaultParallelism""".r
    val sources = Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    assert(sources.nonEmpty, "the guard must see the sources")
    val offenders = for {
      f <- sources if f.getFileName.toString != "Relational.scala"
      text = Files.readString(f)
      m <- spreadDecision.findAllMatchIn(text)
    } yield s"$f:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
    assert(offenders.isEmpty,
      s"compute spreads must go through Relational.spreadForCompute:\n${offenders.mkString("\n")}")
  }

  test("the armed guard rejects a low-cardinality key") {
    spark.conf.set("spark.graft.spread.assertMinKeys", "80")
    try {
      val lowCard = Tables.customer(spark, SfDir) // c_mktsegment: 5 values
      val e = intercept[IllegalArgumentException] {
        graft.operators.Relational.spreadForCompute(lowCard, col("c_mktsegment"))
      }
      assert(e.getMessage.contains("would serialize"))
    } finally spark.conf.unset("spark.graft.spread.assertMinKeys")
  }
}
