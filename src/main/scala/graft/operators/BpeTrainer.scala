package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnShim
import graft.functions.catalyst.BpeMergePair
import graft.iceberg.IcebergTable

/** Distributed byte-pair-encoding vocabulary TRAINING (Sennrich et al.
  * 2016): iteratively fuse the corpus's most frequent adjacent symbol
  * pair. The `tokenCount` regex in TextFunctions counts sub-word-ish
  * tokens; this actually LEARNS the merge table a real tokenizer ships.
  *
  * The classic efficiency trick carries over to the distributed setting:
  * training runs on the WORD-FREQUENCY table (one aggregate over the
  * corpus up front), never the raw text again — pair counts are weighted
  * by word count, so each round's cost is one partial-merged aggregate
  * over ~vocabulary-many rows plus a map-side rewrite, regardless of
  * corpus size. Only the single winning pair crosses to the driver per
  * round (a 1-row limit-collect, the [[Dedup.connectedComponents]]
  * driver-contact discipline), and the evolving symbol table
  * localCheckpoints each round so the plan never accumulates N merge
  * layers. Ties break (count desc, left asc, right asc) — total order,
  * so the merge table is deterministic and the spec pins a hand-computed
  * run. No SQL oracle: the algorithm is inherently iterative (each
  * round's input is the previous round's output), the declared rows-only
  * class with a spec companion.
  */
object BpeTrainer {

  final case class Merge(rank: Int, left: String, right: String, count: Long)

  private def mergeCol(sym: Column, l: String, r: String): Column =
    GraftColumnShim.column(
      BpeMergePair(GraftColumnShim.expression(sym), l, r))

  /** Word-frequency table of `textCol` with each word exploded into its
    * initial character symbols. */
  private def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(split(col("word"), "").as("sym"), col("wc"))

  /** Train up to `numMerges` merges; stops early when no adjacent pair
    * occurs at least `minCount` times. Returns merges in rank order.
    *
    * `mergesPerRound = 1` (default) is EXACT Sennrich BPE: counts are
    * recomputed after every merge. A real 30k-merge vocabulary at 1
    * merge/round is 30k aggregate jobs; production trainers batch — per
    * round, take the top pairs whose symbols are pairwise DISJOINT (a
    * merge can only change counts of pairs touching its symbols, so
    * disjoint merges see exactly the counts they were ranked by) and
    * apply them in one rewrite. Batching by K cuts rounds ~K× and stays
    * deterministic; counts recorded for later merges in a batch are the
    * start-of-round values (the standard approximation — exact for the
    * disjoint prefix actually applied, which is why disjointness is
    * enforced rather than taking a blind top-K).
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            minCount: Long = 2L, mergesPerRound: Int = 1): Seq[Merge] = {
    require(mergesPerRound >= 1, s"mergesPerRound=$mergesPerRound")
    // LAZY localCheckpoints (r21): each round's pair-count collect
    // materializes the pending symbol-table checkpoint as part of its
    // own job, so a round costs ONE Spark job instead of two (eager
    // checkpoint + collect) — job count ∝ merges is the training loop's
    // driver-bound term (guide §7.3), the counts themselves unchanged.
    // The PREVIOUS round's blocks release only after the collect that
    // materialized their successor (a lazy checkpoint still reads its
    // parent when first computed).
    var words = wordTable(df, textCol).localCheckpoint(false)
    var prevWords: Option[DataFrame] = None
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pairs = words
        .select(col("wc"), explode(arrays_zip(
          slice(col("sym"), lit(1), size(col("sym")) - 1).as("l"),
          slice(col("sym"), lit(2), size(col("sym")) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("cnt"))
      // bounded driver contact: 4× the batch is plenty of slack for the
      // greedy disjoint selection to fill a round
      val want = math.min(mergesPerRound, numMerges - rank)
      val top = pairs
        .filter(col("cnt") >= minCount)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(math.max(want * 4, 4)).collect()
      // this round's collect materialized `words`; its parent is free.
      // Dataset.unpersist is a NO-OP on a localCheckpoint'd frame (its
      // blocks live outside the CacheManager): release the RDD blocks
      prevWords.foreach(IcebergTable.unpinLocalCheckpoint)
      prevWords = None
      if (top.isEmpty) done = true
      else {
        val used = scala.collection.mutable.Set[String]()
        val round = top.iterator
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .filter { case (l, r, _) =>
            if (used(l) || used(r) || used(l + r)) false
            else { used += l; used += r; used += (l + r); true }
          }
          .take(want).toSeq
        round.foreach { case (l, r, c) =>
          merges += Merge(rank, l, r, c); rank += 1
        }
        val next = words
          .select(round.foldLeft(col("sym")) { case (c, (l, r, _)) =>
            mergeCol(c, l, r) }.as("sym"), col("wc"))
          .localCheckpoint(false)
        prevWords = Some(words)
        words = next
      }
    }
    prevWords.foreach(IcebergTable.unpinLocalCheckpoint)
    IcebergTable.unpinLocalCheckpoint(words)
    merges.result()
  }

  /** Tokenize `textCol` with a trained merge table: the merges apply in
    * rank order as ONE projection of chained codegen'd kernels —
    * map-side, zero shuffles. The text's flat character array keeps its
    * space characters as boundary symbols no merge can touch (training
    * splits on spaces before learning, so no learned pair contains one):
    * a pair can therefore never fuse across a word boundary, and the
    * boundaries drop out at the end. Output: input columns + `tokens`
    * (array<string>). */
  def tokenize(df: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    val fused = merges.sortBy(_.rank)
      .foldLeft(split(col(textCol), ""): Column) {
        (c, m) => mergeCol(c, m.left, m.right)
      }
    df.withColumn("tokens", array_remove(fused, " "))
  }
}
