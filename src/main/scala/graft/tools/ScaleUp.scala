package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Derives a key-shifted N× replica of a test-data directory for SCALING
  * measurements only (the BASELINE.md sf1 section): each replica i shifts
  * every primary/foreign key by i·(max+1) consistently, so join fan-outs
  * and per-key group sizes stay constant while total volume grows N×.
  *
  * NOT a correctness input — the oracle gate stays on the driver's
  * tri-scale data. To keep duplicate/near-dup density corpus-like
  * (instead of giving every document N−1 exact twins, which would push
  * the dedup family into an artificial quadratic regime), document text
  * is deterministically letter-rotated per replica (length- and
  * whitespace-preserving, so token/length stats survive) and embedding
  * vectors are element-rotated per replica (decorrelates cosine
  * structure across replicas).
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [dstDir] [copies]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val n = if (args.length > 2) args(2).toInt else 10

    // The replica must track its source: the driver has regenerated the
    // test data mid-round before, and a silently-stale sf1 would anchor
    // the scaling baseline to data the sf0.1 runs no longer read. The
    // fingerprint is the sorted (name, size, mtime) listing of the
    // source parquet files — cheap, and any regeneration changes it.
    // the fingerprint covers the source FILES and the derivation
    // PARAMETERS — a rerun with a different copy count (or from a
    // different source path) must rebuild, not no-op onto wrong-scale
    // data
    def fingerprint(dir: String): String = {
      val files = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      (s"src=$dir copies=$n" +:
        files.map(f => s"${f.getName}:${f.length}:${f.lastModified}").toSeq).mkString("\n")
    }
    val fpFile = java.nio.file.Paths.get(dst, "_source_fingerprint")
    val srcFp = fingerprint(src)
    if (java.nio.file.Files.exists(fpFile) &&
        new String(java.nio.file.Files.readAllBytes(fpFile), "UTF-8") == srcFp) {
      System.err.println(s"[scaleup] $dst is current for $src — nothing to do")
      return
    }

    val spark: SparkSession = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def keyStride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L
    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => f(df, i)).reduce(_ unionByName _)

    // fixed dims (nation/region are SF-invariant in TPC-H): one copy
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    val cust = rd("customer"); val mc = keyStride(cust, "c_custkey")
    val supp = rd("supplier"); val ms = keyStride(supp, "s_suppkey")
    val part = rd("part"); val mp = keyStride(part, "p_partkey")
    val ords = rd("orders"); val mo = keyStride(ords, "o_orderkey")
    val evs = rd("events"); val me = keyStride(evs, "event_id")
    val mu = keyStride(evs, "user_id")
    val docs = rd("documents"); val md = keyStride(docs, "doc_id")
    val embs = rd("embeddings"); val mv = keyStride(embs, "vec_id")

    wr(rep(cust)((d, i) => d.withColumn("c_custkey", col("c_custkey") + lit(i * mc))),
      "customer")
    wr(rep(supp)((d, i) => d.withColumn("s_suppkey", col("s_suppkey") + lit(i * ms))),
      "supplier")
    wr(rep(part)((d, i) => d.withColumn("p_partkey", col("p_partkey") + lit(i * mp))),
      "part")
    wr(rep(ords)((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * mo))
      .withColumn("o_custkey", col("o_custkey") + lit(i * mc))),
      "orders")
    wr(rep(rd("lineitem"))((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * mo))
      .withColumn("l_partkey", col("l_partkey") + lit(i * mp))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * ms))),
      "lineitem")
    // events keep their timestamps: N× volume in the same time range =
    // N× daily traffic with per-user histories unchanged (the realistic
    // growth axis for the session/funnel/DAU family)
    wr(rep(evs)((d, i) => d
      .withColumn("event_id", col("event_id") + lit(i * me))
      .withColumn("user_id", col("user_id") + lit(i * mu))),
      "events")
    // per-replica letter rotation over the 10 most frequent letters:
    // deterministic, length-preserving, leaves whitespace/punctuation
    // (so n_chars and token counts stay truthful) but changes content
    // hashes and shingles so replicas are not near-dups of each other
    val alpha = "etaoinshrd"
    wr(rep(docs)((d, i) => d
      .withColumn("doc_id", col("doc_id") + lit(i * md))
      .withColumn("text", translate(col("text"), alpha,
        alpha.drop(i % alpha.length) + alpha.take(i % alpha.length)))),
      "documents")
    wr(rep(embs)((d, i) => d
      .withColumn("vec_id", col("vec_id") + lit(i * mv))
      .withColumn("embedding",
        if (i == 0) col("embedding")
        else concat(
          slice(col("embedding"), i + 1, 1000000),
          slice(col("embedding"), 1, i)))),
      "embeddings")

    // written LAST: a crash mid-derivation leaves no fingerprint, so the
    // next run rebuilds instead of trusting a half-written replica
    java.nio.file.Files.write(fpFile, srcFp.getBytes("UTF-8"))
    System.err.println(s"[scaleup] wrote ${n}x of $src to $dst")
    spark.stop()
  }
}
