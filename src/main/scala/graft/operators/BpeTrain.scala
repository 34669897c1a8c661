package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-trained BPE merge rules (Sennrich et al., ACL 2016 — the
  * standard subword-tokenizer training loop), Spark-first: the corpus
  * is scanned ONCE into the distinct-word frequency table, and the
  * iterative pair-merge loop then runs entirely over that vocab table —
  * whose size is Zipf-bounded and corpus-size-INDEPENDENT, so 100×
  * more data changes the one-off scan, never the loop. Per merge step:
  * one adjacent-pair aggregate over the vocab (explode pairs → sum of
  * word frequencies) and ONE row to the driver (the winning pair,
  * deterministic tiebreak: count desc, then (a, b) lexicographic); the
  * merge itself is a left-to-right non-overlapping fold over each
  * word's symbol array (functions.aggregate — the accumulator form
  * reproduces greedy BPE exactly, including runs: pair (a,a) on
  * "aaaa" → [aa, aa]), lineage-truncated per step so step d never
  * replays steps 1..d−1 (the prCore discipline).
  *
  * Output: the learned merge table (rank, a, b, pair_count) — the
  * artifact a tokenizer ships. Not oracle-portable (an iterative
  * argmax-merge loop has no DuckDB mirror that is not the loop itself);
  * spec-checked against a JVM reference implementation on the same
  * word-frequency map, the q_sketch discipline.
  */
object BpeTrain {

  private[operators] val MERGES = 30

  /** The initial vocab: distinct corpus words with frequencies, each
    * split into character symbols (substring is char-based, so
    * multibyte-safe). Shared by the trainer and the gated rank-1 lane. */
  private def wordSyms(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))

  /** Adjacent-pair counts (with overlap — the BPE count) over a
    * (freq, syms) vocab table: the trainer's per-step aggregate. */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("freq"), explode(expr(
        "transform(slice(syms, 1, size(syms) - 1), (x, i) -> struct(x AS a, syms[i + 1] AS b))"))
        .as("pr"))
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** The trainer's FIRST argmax as a driver-gated lane (r19, per
    * verdict): rank-1's winning pair is one adjacent-pair aggregate
    * over the un-merged vocab — plain SQL, unlike ranks 2+ whose
    * inputs depend on applied merges. Runs the trainer's own
    * wordSyms/pairCounts code, so the gate checks real trainer
    * arithmetic (pair counting, frequency weighting, the (cnt desc,
    * a, b) tiebreak, the cnt ≥ 2 floor) — only the iterative merge
    * application stays spec-only. */
  def textBpeRank1(s: SparkSession, d: String): DataFrame =
    pairCounts(wordSyms(s, d))
      .filter(col("cnt") >= 2)
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(1)
      .select(lit(1L).as("rank"), col("a"), col("b"),
        col("cnt").as("pair_count"))

  def textBpeTrain(s: SparkSession, d: String): DataFrame = {
    import Loop.TruncOps
    val s2 = s
    import s2.implicits._
    val words = wordSyms(s, d).truncEager
    var vocab = words
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var it = 0
    var done = false
    while (!done && it < MERGES) {
      // the winner is one row to the driver — this action also
      // materializes the previous step's lazily-truncated merge
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty || top.head.getAs[Long]("cnt") < 2) done = true
      else {
        val (pa, pb, cnt) = (top.head.getAs[String]("a"),
          top.head.getAs[String]("b"), top.head.getAs[Long]("cnt"))
        it += 1
        merges += ((it.toLong, pa, pb, cnt))
        // greedy left-to-right non-overlapping merge of (pa, pb); lit()
        // binds the symbols safely (no SQL-string escaping hazards)
        val a = lit(pa)
        val b = lit(pb)
        val ab = lit(pa + pb)
        vocab = vocab.select(col("freq"),
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === a && x === b,
              concat(slice(acc, lit(1), size(acc) - 1), array(ab)))
              .otherwise(concat(acc, array(x)))).as("syms"))
          .truncLazy
      }
    }
    merges.toSeq.toDF("rank", "a", "b", "pair_count")
  }
}
