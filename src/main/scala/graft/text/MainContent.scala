package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Main-content extraction — the boilerplate-DOM-removal pass (the
  * trafilatura / jusText class) that sits between raw HTML and EVERY text
  * filter in a curation chain: pages are sequences of BLOCKS (paragraphs /
  * nav bars / footers), and the extractor keeps the article body while
  * dropping chrome, using two signals the literature agrees on (Kohlschütter
  * et al. 2010 "Boilerplate Detection Using Shallow Text Features"; Pomikálek
  * 2011, jusText):
  *
  *   - LINK DENSITY — the share of a block's words that are anchor text
  *     (nav/footer blocks are mostly links, body text mostly is not);
  *   - TEXT LENGTH — full-length blocks are trustworthy evidence; very short
  *     blocks are ambiguous on their own and take their verdict from
  *     CONTEXT (jusText's two-pass smoothing: a short block between body
  *     paragraphs is a headline → keep; one inside chrome is a menu
  *     item → drop).
  *
  * The HTML PARSE is STUBBED, with the same swap contract as
  * [[graft.multimodal.MediaAnalysis]]: blocks are fixed runs of
  * `blockWords` whitespace tokens, and a word counts as anchor text when
  * `md5Bits60(word) mod 5 == 0` — a deterministic ~vocabulary-fifth standing
  * in for the parser's per-word link flag. A real parser swap replaces ONLY
  * the block source (block text + per-block link-word count from actual
  * `<a>` spans); the classifier and ledger below are unchanged.
  *
  * Classifier (first pass, per block, integer-exact by cross-multiplication
  * — no division): with nw words of which nl are links,
  *   bad   when 2·nl ≥ nw                (link density ≥ 500‰)
  *   good  when nw ≥ minGoodWords and 5·nl ≤ nw   (full block, density ≤ 200‰)
  *   short otherwise.
  * Second pass: a `short` block is kept iff an ADJACENT first-pass block is
  * good (one-step jusText smoothing — deterministic, order-free, and enough
  * to rescue headlines between paragraphs without iterating to a fixpoint).
  *
  * Scale shape: everything up to the ledger is ROW-LOCAL — block split,
  * link counts, classes, and smoothing are array expressions over the
  * document's own token array (the [[LineDedup.cleanDocs]] slice/transform
  * idiom), so the pass rides the corpus scan with ZERO pre-aggregation
  * shuffles at any size; the only shuffle is the final per-source ledger
  * aggregation (answer-sized).
  */
object MainContent {

  /** Per-document block verdicts: (id, source, n_blocks, blocks_kept,
    * tokens_total, tokens_kept) — one row per doc, all columns computed
    * row-locally.
    */
  def docVerdicts(docs: DataFrame, idCol: String, textCol: String,
                  sourceCol: String, blockWords: Int = 8,
                  minGoodWords: Int = 6): DataFrame = {
    require(blockWords > 0 && minGoodWords > 0)
    val bw = blockWords
    val ws = split(col(textCol), " ")
    val segd = docs.select(col(idCol).as("id"), col(sourceCol).as("source"),
      ws.as("__ws"))
      .select(col("id"), col("source"), col("__ws"), transform(
        sequence(lit(0L),
          expr(s"(size(__ws) + ${bw - 1}) div $bw") - 1, lit(1L)),
        i => slice(col("__ws"), (i * bw + 1).cast("int"), lit(bw)))
        .as("__blocks"))
    // first-pass class per block: 0 = bad, 1 = short, 2 = good
    val classed = segd.select(col("id"), col("source"),
      size(col("__ws")).cast("long").as("tokens_total"),
      transform(col("__blocks"), b => size(b).cast("long")).as("__nws"),
      transform(col("__blocks"), b => {
        val nw = size(b).cast("long")
        val nl = size(filter(b, w =>
          pmod(graft.functions.HashFunctions.md5Bits60(w), lit(5L)) === 0L))
          .cast("long")
        when(nl * 2L >= nw, 0L)
          .when(nw >= minGoodWords.toLong && nl * 5L <= nw, 2L)
          .otherwise(1L)
      }).as("__cls"))
    // second pass (row-local): short keeps iff an adjacent FIRST-PASS block
    // is good. element_at is 1-based and RAISES on any out-of-bounds index
    // in Spark 4 — guard the left end with the when and the right end with
    // try_element_at (NULL past the last block → coalesce false).
    val kept = classed.withColumn("__keep",
      transform(sequence(lit(1), size(col("__cls"))), i =>
        element_at(col("__cls"), i) === 2L ||
          (element_at(col("__cls"), i) === 1L &&
            (when(i === 1, lit(false))
              .otherwise(element_at(col("__cls"), i - 1) === 2L) ||
              coalesce(try_element_at(col("__cls"), i + 1) === 2L, lit(false))))))
    kept.select(col("id"), col("source"), col("tokens_total"),
      size(col("__cls")).cast("long").as("n_blocks"),
      size(filter(col("__keep"), k => k)).cast("long").as("blocks_kept"),
      aggregate(
        zip_with(col("__nws"), col("__keep"),
          (n, k) => when(k, n).otherwise(0L)),
        lit(0L), (acc, x) => acc + x).as("tokens_kept"))
  }

  /** Per-source extraction ledger: docs, blocks, kept blocks, token totals,
    * and the kept-block / kept-token permille (truncating) — the report a
    * corpus owner reads to see what boilerplate removal did to each feed.
    */
  def ledger(docs: DataFrame, idCol: String, textCol: String,
             sourceCol: String, blockWords: Int = 8,
             minGoodWords: Int = 6): DataFrame =
    docVerdicts(docs, idCol, textCol, sourceCol, blockWords, minGoodWords)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_blocks")).as("n_blocks"),
        sum(col("blocks_kept")).as("blocks_kept"),
        sum(col("tokens_total")).as("tokens_total"),
        sum(col("tokens_kept")).as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_blocks"),
        col("blocks_kept"), col("tokens_total"), col("tokens_kept"),
        expr("(1000L * blocks_kept) div n_blocks").as("kept_block_permille"),
        expr("(1000L * tokens_kept) div tokens_total").as("kept_token_permille"))
}
