package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair encoding) vocabulary induction — the
  * tokenizer-training stage of an LLM data pipeline (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units").
  *
  * Classic BPE trains on the WORD-TYPE histogram, not the token stream: the
  * corpus collapses to (word, count) once — one corpus-scale shuffle with
  * map-side combine — and every merge round then runs on the vocabulary-sized
  * frame. At 100 TB the histogram is MBs, so R training rounds cost R
  * vocabulary-scale jobs, not R corpus scans. The chosen rules are literal
  * constants, so applying the trained tokenizer back to the corpus is a
  * broadcast equi-join (word → its subword segmentation) — shuffle-free on
  * the corpus side.
  *
  * Merge application works on space-joined symbol strings with leftmost-
  * non-overlapping literal `replace` — the identical primitive in Spark and
  * in the DuckDB oracle, so trained vocabularies are hash-exact cross-engine.
  * A single replace() pass can miss an occurrence whose delimiting space was
  * consumed by the previous replacement (" a b a b " → " ab a b "), so each
  * rule is applied [[Passes]] times to fixpoint. Known deviation from the
  * canonical greedy left-to-right scan, confined to long SAME-pair runs
  * inside one word: from run length 5 the pairs sit at different positions
  * ("a a a a a" → "aa a aa" vs canonical "aa aa a"), and from run length 8
  * fewer pairs may merge ("×8 a" → "aa a aa a aa", 3 merges vs canonical 4)
  * — the result is always an UNEXTENDABLE matching (no mergeable adjacency
  * survives, asserted by BpeSpec), deterministic, and engine-identical,
  * just not always the maximum-count matching canonical BPE produces.
  * Natural-language words never hit these runs; BpeSpec asserts exact
  * greedy equality on the real corpus vocabulary.
  */
object Bpe {

  /** Literal-replace passes per merge rule. Each pass merges at least every
    * other remaining occurrence of a same-pair run, so fixpoint is reached
    * for any word whose longest run is < 2^Passes pair occurrences — far
    * beyond natural-language word lengths. BpeSpec checks fixpoint anyway.
    */
  val Passes = 4

  final case class MergeRule(rank: Int, lhs: String, rhs: String, weight: Long) {
    def merged: String = lhs + rhs
  }

  /** Character-level initial segmentation of a word ("key" → "k e y"). */
  def initSym(word: Column): Column = concat_ws(" ", split(word, ""))

  /** [[Passes]]-fold leftmost-non-overlap literal replace of " lhs rhs "
    * by " merged " on a space-padded symbol string — the ONE home of the
    * fixpoint mechanics, shared by BPE and [[WordPiece]] (which differ only
    * in the merged symbol's name and the argmax metric). A future fix to
    * the padded-replace behavior lands here once, for both families.
    */
  def replaceFold(sym: Column, lhs: String, rhs: String, merged: String): Column = {
    val padded = concat(lit(" "), sym, lit(" "))
    val out = (1 to Passes).foldLeft(padded) { (c, _) =>
      replace(c, lit(s" $lhs $rhs "), lit(s" $merged "))
    }
    trim(out)
  }

  /** One BPE merge rule applied to a space-joined symbol string. */
  def applyRule(sym: Column, lhs: String, rhs: String): Column =
    replaceFold(sym, lhs, rhs, lhs + rhs)

  /** Train `rounds` merge rules over a (w, ct) word histogram.
    *
    * Returns the learned rules and the final (w, ct, sym) segmentation frame
    * with all rules folded in as literal expressions over the UNCACHED input
    * — one scan when consumed, nothing pinned.
    *
    * The histogram is persisted only for the duration of the driver loop
    * (vocabulary-sized — bounded at any corpus scale) and unpersisted before
    * return; each round is one aggregation job ending in a 1-row argmax
    * collect (the k-means-centroid / PQ-codebook precedent for bounded
    * driver-side literals). The argmax order (weight desc, lhs, rhs) is
    * total, so training is deterministic and oracle-replayable.
    */
  def trainMerges(words: DataFrame, rounds: Int): (Seq[MergeRule], DataFrame) = {
    // The learned rules are a bounded driver model (rounds × 4 scalars) —
    // memoized per histogram plan like every other bounded model since r12
    // (GlobalRank, Linkage, union-find): four declared queries train on the
    // same histogram, and the driver loop is `rounds` sequential argmax
    // collects that a warm re-run should never repay. Training is
    // deterministic (total argmax order), so concurrent first calls compute
    // identical rules.
    val rules = mergeMemo(words, rounds) {
      train(words.select(col("w"), col("ct"), initSym(col("w")).as("sym")), rounds)
    }
    val sym = rules.foldLeft(initSym(col("w")))((c, m) => applyRule(c, m.lhs, m.rhs))
    (rules, words.select(col("w"), col("ct"), sym.as("sym")))
  }

  private def train(base: DataFrame, rounds: Int): Seq[MergeRule] = {
    val hist = base.persist()
    try {
      var learned = List.empty[MergeRule]
      for (r <- 1 to rounds) {
        val symNow = learned.reverse.foldLeft(col("sym")) { (c, m) =>
          applyRule(c, m.lhs, m.rhs)
        }
        // adjacent symbol pairs weighted by word count; sequence() guarded by
        // the size filter (Spark's sequence(1, 0) would count DOWN, not be
        // empty)
        val best = hist
          .select(col("ct"), split(symNow, " ").as("l"))
          .filter(size(col("l")) >= 2)
          .select(col("ct"), explode(
            expr("transform(sequence(1, size(l) - 1), i -> struct(l[i-1] AS a, l[i] AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("ct")).as("wt"))
          .orderBy(col("wt").desc, col("a"), col("b"))
          .limit(1)
          .collect()
        // dry rounds refuse loudly (the WordPiece symmetry, r14): the
        // oracle's w$r CROSS JOINs an empty argmax CTE and would annihilate
        // the segmentation table while a tolerant Spark side kept it — a
        // silent hash divergence; ask for fewer rounds instead
        require(best.nonEmpty,
          s"bpe: round $r found no adjacent pair to merge — the corpus is " +
            s"fully merged; lower `rounds` below $r")
        val row = best(0)
        learned = MergeRule(r, row.getString(0), row.getString(1), row.getLong(2)) :: learned
      }
      learned.reverse
    } finally {
      hist.unpersist(blocking = false)
      ()
    }
  }

  /** (word-histogram plan, rounds) -> `rounds` learned merge rules. */
  private val mergeMemo = new graft.PlanMemo[Int, Seq[MergeRule]]("bpe.rules",
    rs => rs.map(r => 48L + 2L * (r.lhs.length + r.rhs.length)).sum)
}
