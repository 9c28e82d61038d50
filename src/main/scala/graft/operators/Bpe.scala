package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** BPE tokenizer INDUCTION — the full merge-learning loop (Sennrich et
  * al., ACL'16), not just the first iteration (that is q85).
  *
  * The algorithm is inherently sequential (each merge changes the pair
  * statistics the next round ranks), so the realization is the same
  * driver-coordinated iterative shape as the CC loop (SURVEY lesson 20a/
  * 22): corpus-sized work happens EXACTLY ONCE (the word-count
  * aggregation — word frequencies are sufficient statistics for every
  * round), and each round runs over the VOCABULARY: a bigram explode +
  * one argmax (a 1-row driver collect, the round's convergence artifact)
  * + a per-word merge rewrite, checkpointed so round r+1 starts from
  * materialized symbols instead of r chained rewrites. Driver state is
  * O(rounds); per-round cluster work is vocab-sized, independent of
  * corpus size — the property that makes tokenizer training affordable
  * at 100 TB (the corpus is touched once).
  *
  * The per-word merge is greedy left-to-right non-overlapping (the
  * standard BPE rewrite); ties in the argmax break lexicographically on
  * (left, right) so induction is deterministic on any engine. The typed
  * map stages deserialize rows — acceptable exactly because they run
  * over the bounded vocabulary, never the corpus.
  */
object Bpe {

  case class Vocab(syms: Seq[String], n: Long)
  case class Merge(round: Int, left: String, right: String, n: Long)

  /** Greedy left-to-right non-overlapping merge of (a, b) in `syms`. */
  def mergePair(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Learn `rounds` BPE merges from the corpus word distribution.
    * Returns the merge table (round, left, right, n) — `n` is the pair's
    * weighted frequency when it won. Stops early when no pair occurs
    * at least `minCount` times. */
  def learnMerges(spark: SparkSession, words: DataFrame,
                  rounds: Int, minCount: Long = 2L): DataFrame = {
    import spark.implicits._
    var vocab: Dataset[Vocab] = words
      .select(col("tok"), col("f").cast("long"))
      .as[(String, Long)]
      .map { case (tok, f) => Vocab(tok.map(_.toString), f) }
      .transform(graft.CheckpointRegistry.local(_, true))

    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val top = vocab.flatMap { v =>
        if (v.syms.length < 2) Iterator.empty
        else v.syms.iterator.zip(v.syms.iterator.drop(1)).map { case (a, b) => (a, b, v.n) }
      }.toDF("l", "r", "n")
        .groupBy(col("l"), col("r")).agg(sum(col("n")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()

      if (top.isEmpty || top(0).getAs[Long]("n") < minCount) done = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getAs[Long]("n"))
        merges += Merge(r, a, b, n)
        val prev = vocab
        vocab = vocab.map(v => Vocab(mergePair(v.syms, a, b), v.n))
          .transform(graft.CheckpointRegistry.local(_, true))
        graft.CheckpointRegistry.release(prev)
        r += 1
      }
    }
    val out = merges.toSeq.toDF("round", "left", "right", "n")
      .select(col("round").cast("int"), col("left"), col("right"), col("n").cast("long"))
    // the final round's checkpoint would otherwise leak until driver GC
    graft.CheckpointRegistry.release(vocab)
    out
  }

  /** ENCODE with a learned merge table: fold the merges in RANK ORDER
    * over the character split, each with the same greedy left-to-right
    * rewrite the trainer used — so the segmentation of a training word
    * is exactly the trainer's final vocabulary entry, and (BpeSpec) the
    * result coincides with the HF-style lowest-rank-first priority
    * encoder: exhausting rank r everywhere before rank r+1 touches
    * anything IS lowest-rank-first, occurrence order left-to-right in
    * both. */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(word.map(_.toString): Seq[String]) {
      case (syms, (a, b)) => if (syms.length < 2) syms else mergePair(syms, a, b)
    }

  /** Tokenize a word-frequency table — the corpus-scale posture: the
    * merge table is rounds-bounded so it ships as a broadcast local list
    * (the IVF-quantizer artifact lifecycle), and the M·|word| encode
    * loop runs over DISTINCT words (vocabulary-sized), never the corpus;
    * corpus token statistics come back by weighting with `f`, not by
    * re-touching documents. Per-word iterative merging is genuinely
    * imperative — the documented mapPartitions rung, over the bounded
    * vocabulary only. */
  def encodeWords(spark: SparkSession, words: DataFrame, merges: DataFrame): DataFrame = {
    import spark.implicits._
    val table = merges.orderBy(col("round")).select(col("left"), col("right"))
      .as[(String, String)].collect().toSeq
    val bc = spark.sparkContext.broadcast(table)
    words.select(col("tok"), col("f").cast("long")).as[(String, Long)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (t, f) => (t, f, encodeWord(t, m)) }
      }
      .toDF("tok", "f", "subwords")
  }
}
