package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** C4-style segment-level corpus deduplication.
  *
  * Web-scale training corpora dedupe not only whole documents but the
  * repeated BOILERPLATE inside them: any "line" (here: fixed-width word
  * segment, since the synthetic corpus has no newlines) that occurs in more
  * than `maxDocs` distinct documents is navigation/footer-grade text and is
  * dropped from every document that contains it (the C4 dataset's
  * three-sentence rule, applied segment-wise).
  *
  * Scale shape: one explode to (doc, segment-fingerprint) rows, ONE shuffle
  * keyed by the segment's 128-bit md5 fingerprint (16-byte key + ordinal,
  * never the segment text) over which the per-fingerprint document frequency
  * is computed as a window column — no second pass, no join-back. No
  * pairwise work — cost is linear in corpus size, the same plan at 500 docs
  * or 10⁹. The fingerprint doubles as the cross-engine oracle key (md5 is
  * md5 everywhere).
  */
object LineDedup {

  /** Explode each document into fixed-width word segments.
    * Output: (idCol, seg, seg_text, n_words); `seg` is the 0-based segment
    * ordinal, the final segment may be short.
    */
  def segments(docs: DataFrame, idCol: String, textCol: String,
               segWords: Int): DataFrame = {
    require(segWords > 0)
    docs
      .select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0L),
          expr(s"(size(__ws) + ${segWords - 1}) div $segWords") - 1,
          lit(1L)),
        i => {
          val sl = slice(col("__ws"), (i * segWords + 1).cast("int"), lit(segWords))
          struct(array_join(sl, " ").as("t"), size(sl).cast("long").as("n"))
        })).as(Seq("seg", "__s")))
      .select(col(idCol), col("seg").cast("long").as("seg"),
        col("__s.t").as("seg_text"), col("__s.n").as("n_words"))
  }

  /** Distinct-document frequency as a window column over segment-occurrence
    * rows — the ONE-PASS alternative to aggregate-then-join-back: dense_rank
    * over (fp, id) reaches count-distinct-ids at the partition's end, and an
    * unbounded max over the same fp partitioning reads it back on every row.
    * Same exchange serves both window functions (identical partitioning; the
    * second needs no sort the first hasn't done), so the segment rows are
    * computed and shuffled ONCE where the join-back formulation computes the
    * whole explode→fingerprint chain twice. Trade-off: the shuffle carries
    * every occurrence row rather than the map-side-deduped (fp, id) pairs —
    * a few bytes per segment, linear either way.
    */
  private def withDocFrequency(fps: DataFrame, idCol: String): DataFrame = {
    val byFp = Window.partitionBy(col("fp"))
    fps
      .withColumn("__dr", dense_rank().over(byFp.orderBy(col(idCol))))
      .withColumn("df", max(col("__dr")).over(byFp))
      .drop("__dr")
  }

  /** Per-document keep/drop accounting under the `df <= maxDocs` rule.
    * Output: (idCol, n_seg, kept_seg, dropped_seg, kept_words).
    */
  def dedupStats(docs: DataFrame, idCol: String, textCol: String,
                 segWords: Int, maxDocs: Int): DataFrame = {
    val segs = segments(docs, idCol, textCol, segWords)
      .withColumn("fp", md5(col("seg_text")))
    val kept = col("df") <= maxDocs
    withDocFrequency(segs.select(col(idCol), col("n_words"), col("fp")), idCol)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_seg"),
        sum(when(kept, 1L).otherwise(0L)).as("kept_seg"),
        sum(when(!kept, 1L).otherwise(0L)).as("dropped_seg"),
        sum(when(kept, col("n_words")).otherwise(0L)).as("kept_words"))
  }

  /** The cleaning operator itself: documents with over-frequent segments
    * removed and the surviving segments rejoined in order. A document whose
    * EVERY segment is boilerplate drops out of the result entirely (no rows
    * survive the filter); left-join against the input id set if empty-text
    * rows are needed instead.
    */
  def cleanDocs(docs: DataFrame, idCol: String, textCol: String,
                segWords: Int, maxDocs: Int): DataFrame = {
    require(segWords > 0)
    // Per-doc segment array built row-locally; only FINGERPRINTS ever
    // shuffle. The doc-frequency pass shuffles (fp, id); the per-doc
    // drop-set gathers only BOILERPLATE hits (answer-sized — boilerplate is
    // by definition the repeated minority); the rebuild is an order-
    // preserving array filter, not a collect_list re-sort of all text.
    val segd = docs
      .select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol), transform(
        sequence(lit(0L),
          expr(s"(size(__ws) + ${segWords - 1}) div $segWords") - 1,
          lit(1L)),
        i => array_join(
          slice(col("__ws"), (i * segWords + 1).cast("int"), lit(segWords)),
          " ")).as("__segs"))
    // One pass over the occurrence rows: posexplode keeps each segment's
    // ordinal so the rebuild can drop by POSITION (no md5 recompute per
    // segment at rebuild time), and the doc frequency rides along as a
    // window column instead of an aggregate joined back — the explode→
    // fingerprint chain runs once, not twice.
    val fps = segd
      .select(col(idCol),
        posexplode(transform(col("__segs"), s => md5(s))).as(Seq("__i", "fp")))
    val badPerDoc = withDocFrequency(fps, idCol)
      .filter(col("df") > maxDocs)
      .groupBy(col(idCol)).agg(collect_set(col("__i")).as("__bad"))
    segd.join(badPerDoc, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__bad").isNull, col("__segs"))
          .otherwise(filter(col("__segs"),
            (_, i) => !array_contains(col("__bad"), i))).as("__kept"))
      .filter(size(col("__kept")) > 0)
      .select(col(idCol), array_join(col("__kept"), " ").as(textCol))
  }

  /** WITHIN-document segment dedup ledger — the Gopher-family cleanup the
    * corpus-wide pass above does not do: a page whose own nav/menu/footer
    * repeats INSIDE it keeps one copy (first occurrence) and drops the
    * rest, regardless of how rare the segment is corpus-wide. Entirely
    * ROW-LOCAL (array expressions over each doc's own segments — zero
    * shuffles before the output ordering), so at 100 TB it rides the scan.
    *
    * Emits per doc: n_seg, n_unique_seg, dup_seg, words_total,
    * words_saved (word count of every dropped duplicate segment — exact,
    * tail segments count their true 1–2 words).
    */
  def withinDocDedupStats(docs: DataFrame, idCol: String, textCol: String,
                          segWords: Int = 3): DataFrame = {
    val w = segWords
    val ts = split(col(textCol), " ")
    // ceil(n/w) segments; the double division is exact (n ≪ 2^53) and the
    // int cast truncates = floors for the positive operands here
    val nseg = ((size(ts) + lit(w - 1)) / lit(w)).cast("int")
    val segs = transform(
      sequence(lit(0), nseg - 1),
      i => concat_ws(" ", slice(ts, i * w + 1, lit(w))))
    docs.select(col(idCol), segs.as("__segs"))
      .select(col(idCol),
        size(col("__segs")).as("n_seg"),
        size(array_distinct(col("__segs"))).as("n_unique_seg"),
        (size(col("__segs")) - size(array_distinct(col("__segs"))))
          .cast("long").as("dup_seg"),
        aggregate(col("__segs"), lit(0L),
          (acc, s) => acc + size(split(s, " "))).as("words_total"),
        // words saved = total − Σ word counts over DISTINCT segments: a
        // segment appearing k times saves (k−1)·|seg| words, and equal
        // segments have equal word counts, so the two folds' difference is
        // EXACTLY the dropped-duplicate word count. This form is LINEAR in
        // segments (r12 — the first formulation tested each segment
        // against its whole prefix with slice+array_position, O(segments²)
        // per row: fine on web pages, quadratic on book-length texts).
        (aggregate(col("__segs"), lit(0L),
          (acc, s) => acc + size(split(s, " "))) -
          aggregate(array_distinct(col("__segs")), lit(0L),
            (acc, s) => acc + size(split(s, " ")))).as("words_saved"))
  }
}
