package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed WordPiece vocabulary induction — the THIRD production
  * tokenizer family beside BPE ([[Bpe]]) and unigram-LM ([[UnigramLm]]):
  * the BERT trainer (Schuster & Nakajima 2012; Devlin et al. 2019 use it
  * verbatim; the Hugging Face `WordPieceTrainer` is the reference
  * implementation of the scoring below).
  *
  * WordPiece is BPE with a different SELECTION rule: instead of merging the
  * most FREQUENT adjacent pair, it merges the pair maximizing the
  * likelihood gain score = count(ab) / (count(a) · count(b)) — pairs whose
  * parts rarely occur apart win over merely common pairs. Everything else
  * (word-type histogram training, space-joined symbol strings, literal
  * leftmost-non-overlap replace application) reuses the [[Bpe]] machinery,
  * with BERT's continuation marker: non-initial symbols carry a `##`
  * prefix, and a merge of (a, ##b) yields `a · b` with `a`'s initial-ness
  * preserved ("k" + "##e" → "ke", "##e" + "##y" → "##ey").
  *
  * Engine-portable scoring (the repo's integer-exact oracle rule): the
  * score is a RATIONAL, so it is compared as the truncating fixed-point
  *   score_fp = (count(ab) · 10^18) div (count(a) · count(b))
  * carried in DECIMAL(38,0) on the Spark side and HUGEINT in the DuckDB
  * oracle — big products never touch BIGINT, the quotient (≤ 10^18) always
  * fits one, and no float division executes in either engine. Ties break
  * (a, b) ascending — a total order, so training is deterministic and
  * replayable as chained oracle CTEs. The 10^18 scale keeps ~4 significant
  * digits even at 100 TB pair counts (c_a·c_b ≲ 10^28, c_ab ≲ 10^14 ⇒
  * score_fp ≈ 10^4); quantization can only reorder pairs whose scores
  * agree to 18 fixed-point digits, and the lexicographic tie-break makes
  * even that reorder deterministic and engine-identical.
  *
  * Scale shape: identical to BPE — the corpus collapses once to the (w, ct)
  * word-type histogram (map-side combined, MBs at 100 TB); each training
  * round is two vocabulary-sized aggregations (adjacent-pair counts +
  * symbol counts) joined at vocabulary scale, ending in a 1-row argmax
  * collect (the bounded-driver-model pattern, memoized per histogram).
  * Applying the trained tokenizer is a broadcast (w → segmentation)
  * equi-join — shuffle-free on the corpus side.
  */
object WordPiece {

  // No WordPiece-local pass count: both engines' fold depth is
  // [[Bpe.Passes]], the ONE home of the fixpoint mechanics (the `##`
  // markers ride inside the symbol literals and change nothing about the
  // space-delimited replace mechanics). A local alias existed briefly and
  // was a silent no-op trap — editing it changed neither engine (r14
  // review finding).

  final case class WpRule(rank: Int, lhs: String, rhs: String,
                          weight: Long, scoreFp: Long) {
    /** BERT merge naming: the rhs sheds its continuation marker. */
    def merged: String = lhs + rhs.stripPrefix("##")
  }

  /** BERT initial segmentation: first char bare, the rest `##`-prefixed
    * ("key" → "k ##e ##y").
    */
  def initSym(word: Column): Column =
    when(length(word) === 1, word)
      .otherwise(concat(
        word.substr(lit(1), lit(1)), lit(" ##"),
        array_join(slice(split(word, ""), lit(2), length(word) - 1), " ##")))

  /** One WordPiece merge applied to a space-joined symbol string: replace
    * " lhs rhs " with " merged " (merged per [[WpRule.merged]]) via the
    * shared [[Bpe.replaceFold]] fixpoint mechanics.
    */
  def applyRule(sym: Column, lhs: String, rhs: String): Column =
    Bpe.replaceFold(sym, lhs, rhs, lhs + rhs.stripPrefix("##"))

  /** The fixed-point likelihood-gain score as a Spark expression over
    * columns (wt, ca, cb): (wt · 10^18) div (ca · cb), products carried in
    * DECIMAL(38,0), quotient a plain BIGINT.
    */
  private val scoreFpExpr =
    "CAST(CAST(wt AS DECIMAL(38,0)) * CAST(1000000000000000000 AS DECIMAL(38,0)) " +
      "div (CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0))) AS BIGINT)"

  /** Train `rounds` WordPiece merge rules over a (w, ct) word histogram.
    *
    * Returns the learned rules and the final (w, ct, sym) segmentation
    * frame with all rules folded in as literal expressions over the
    * UNCACHED input — one scan when consumed, nothing pinned. Same
    * bounded-driver-model memo as [[Bpe.trainMerges]] (training is
    * deterministic, so concurrent first calls compute identical rules).
    */
  def trainMerges(words: DataFrame, rounds: Int): (Seq[WpRule], DataFrame) = {
    val rules = ruleMemo(words, rounds) {
      train(words.select(col("w"), col("ct"), initSym(col("w")).as("sym")), rounds)
    }
    val sym = rules.foldLeft(initSym(col("w")))((c, m) => applyRule(c, m.lhs, m.rhs))
    (rules, words.select(col("w"), col("ct"), sym.as("sym")))
  }

  private def train(base: DataFrame, rounds: Int): Seq[WpRule] = {
    val hist = base.persist()
    try {
      var learned = List.empty[WpRule]
      for (r <- 1 to rounds) {
        val symNow = learned.reverse.foldLeft(col("sym")) { (c, m) =>
          applyRule(c, m.lhs, m.rhs)
        }
        // one segmented scan branches into the two model aggregations; the
        // histogram is persisted for the loop so neither re-derives it.
        // sequence() guarded by the size filter (Spark's sequence(1, 0)
        // counts DOWN — the Bpe lesson)
        val segs = hist.select(col("ct"), split(symNow, " ").as("l"))
        val pairs = segs
          .filter(size(col("l")) >= 2)
          .select(col("ct"), explode(
            expr("transform(sequence(1, size(l) - 1), i -> struct(l[i-1] AS a, l[i] AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("ct")).as("wt"))
        val syms = segs
          .select(col("ct"), explode(col("l")).as("s"))
          .groupBy(col("s")).agg(sum(col("ct")).as("cnt"))
        val best = pairs
          .join(broadcast(syms.select(col("s").as("a"), col("cnt").as("ca"))), Seq("a"))
          .join(broadcast(syms.select(col("s").as("b"), col("cnt").as("cb"))), Seq("b"))
          .withColumn("score_fp", expr(scoreFpExpr))
          .orderBy(col("score_fp").desc, col("a"), col("b"))
          .limit(1)
          .collect()
        // a DRY round refuses loudly instead of silently under-training:
        // the oracle's round CTE CROSS JOINs an empty argmax and would
        // annihilate the whole segmentation table — a silent Spark-side
        // tolerance here would hash-diverge with no error anywhere (r14
        // review finding); ask for fewer rounds than the corpus can merge
        require(best.nonEmpty,
          s"wordpiece: round $r found no adjacent pair to merge — the " +
            s"corpus is fully merged; lower `rounds` below $r")
        val row = best(0)
        learned = WpRule(r, row.getAs[String]("a"), row.getAs[String]("b"),
          row.getAs[Long]("wt"), row.getAs[Long]("score_fp")) :: learned
      }
      learned.reverse
    } finally {
      hist.unpersist(blocking = false)
      ()
    }
  }

  /** Longest piece the greedy matcher will try. Trained pieces can double
    * per round in principle; the loud refusal inside [[vocabMapOf]] keeps
    * the walk's fixed arm count honest instead of silently truncating a
    * longer piece into a shorter match.
    */
  val MaxGreedyPieceLen = 16

  /** The trained WordPiece VOCABULARY as a frame: the corpus alphabet in
    * BERT form (first chars bare + `##`-marked continuations — the distinct
    * symbols of the initial segmentation) plus every learned merge. This is
    * what a WordPiece tokenizer ships; [[greedySegment]] runs on it.
    */
  def vocab(wh: DataFrame, rules: Seq[WpRule]): DataFrame = {
    val spark = wh.sparkSession
    import spark.implicits._
    wh.select(explode(split(initSym(col("w")), " ")).as("piece"))
      .distinct()
      .unionByName(rules.map(_.merged).toDF("piece"))
      .distinct()
  }

  /** One-row (piece → 1) membership map, built IN-PLAN (the UnigramLm
    * costMapOf pattern — no driver collect; the alphabet is corpus-derived
    * and must never ride the driver). The guard refuses pieces longer than
    * [[MaxGreedyPieceLen]] INSIDE the consumed column — a longer piece
    * would be silently unmatchable by the fixed-arm walk.
    */
  def vocabMapOf(vocabDf: DataFrame): DataFrame = {
    // guard on the MARKER-STRIPPED length: the walk's fixed arms probe up
    // to MaxGreedyPieceLen RAW characters, so a continuation piece's map
    // key is 2 chars longer than the raw span it matches — guarding the
    // string length would refuse a perfectly-matchable raw-15/16
    // continuation two characters early (r14 advice)
    val rawLen = length(col("piece")) -
      when(col("piece").startsWith("##"), 2).otherwise(0)
    val guarded = when(rawLen > MaxGreedyPieceLen,
      raise_error(concat(
        lit(s"wordpiece: vocab piece longer than $MaxGreedyPieceLen ('"),
        col("piece"),
        lit("') — the greedy matcher's fixed arms would silently " +
          "truncate it; raise MaxGreedyPieceLen")))).otherwise(col("piece"))
    vocabDf.agg(map_from_entries(
      collect_list(struct(guarded, lit(1)))).as("__vm"))
  }

  /** Greedy longest-match-first segmentation of `w` under membership map
    * `m` — the BERT RUNTIME algorithm (WordPieceTokenizer), as opposed to
    * the merge-replay segmentation training produces: at each position take
    * the LONGEST vocab piece (continuations `##`-marked); a position with
    * no match makes the whole word UNK (BERT's [UNK] rule).
    *
    * Returns struct(pieces: string — space-joined, '' when UNK;
    * n_pieces: long — 0 when UNK; unk: boolean). Row-local: one fold over
    * the word's positions, [[MaxGreedyPieceLen]] map probes per step.
    */
  def greedySegment(w: Column, m: Column): Column = {
    val len = length(w).cast("long")
    aggregate(
      sequence(lit(1), length(w)),
      struct(lit(0L).as("pos"), lit(0L).as("cnt"),
        lit("").as("acc"), lit(false).as("unk")),
      (st, _) => {
        val pos = st.getField("pos")
        val key = (k: Int) =>
          when(pos === 0L, w.substr(lit(1), lit(k)))
            .otherwise(concat(lit("##"), w.substr((pos + 1L).cast("int"), lit(k))))
        // longest match first: the first non-null arm wins
        val ml = coalesce(
          (MaxGreedyPieceLen to 1 by -1).map { k =>
            when(pos + k <= len &&
              element_at(m, key(k)).isNotNull, lit(k.toLong))
          }: _*)
        val piece = when(pos === 0L, w.substr(lit(1), ml.cast("int")))
          .otherwise(concat(lit("##"),
            w.substr((pos + 1L).cast("int"), ml.cast("int"))))
        when(st.getField("unk") || pos >= len, st)
          .when(ml.isNull,
            struct(len.as("pos"), lit(0L).as("cnt"),
              lit("").as("acc"), lit(true).as("unk")))
          .otherwise(struct(
            (pos + ml).as("pos"),
            (st.getField("cnt") + 1L).as("cnt"),
            when(st.getField("cnt") === 0L, piece)
              .otherwise(concat(st.getField("acc"), lit(" "), piece)).as("acc"),
            lit(false).as("unk")))
      },
      st => struct(st.getField("acc").as("pieces"),
        st.getField("cnt").as("n_pieces"), st.getField("unk").as("unk")))
  }

  /** (word-histogram plan, rounds) -> `rounds` learned rules. */
  private val ruleMemo = new graft.PlanMemo[Int, Seq[WpRule]]("wordpiece.rules",
    rs => rs.map(r => 56L + 2L * (r.lhs.length + r.rhs.length)).sum)
}
