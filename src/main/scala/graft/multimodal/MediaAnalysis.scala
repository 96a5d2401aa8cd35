package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Audio/video analysis over the multimodal binary column — the two media
  * curation passes a training pipeline runs after decode: silence trimming
  * (audio minutes are paid for twice, in storage and in encoder steps, and
  * leading/trailing silence is the cheapest cut) and shot/scene segmentation
  * (frame sampling should be per-scene, not uniform, or long static shots
  * dominate the sample).
  *
  * Decode is STUBBED like the rest of the package (no codecs offline), with
  * the same swap contract as [[PerceptualHash.pixelGridStub]]:
  *   - the audio stub's per-window "RMS amplitude" is a deterministic 0–99
  *     value per payload token (md5-derived), windows of `windowTokens`
  *     tokens standing in for fixed-ms frames — a codec swap replaces only
  *     the amplitude source;
  *   - the video stub's per-frame signature carries PLANTED shot structure:
  *     frames within a shot (length = bytes % 7 + 3, from the decode-stub
  *     metadata) share one md5 signature, so the downstream cut detector —
  *     which sees only the signature stream — must actually RECOVER the
  *     structure, making the gate a detection test rather than an echo.
  *
  * Scale shape: silence is one explode + one (id, window) keyed agg + one
  * per-id agg — no window function at all (lead/trail trims are MIN/MAX of
  * the non-silent window index, not a sequential scan). Scene cuts are one
  * bounded explode (≤ n_frames per row) + one per-key lag window. Both
  * outputs are per-document ledgers.
  */
object MediaAnalysis {

  /** Per-document silence-trim ledger from the stub waveform: n_windows,
    * n_silent, lead_trim / trail_trim (maximal silent prefix/suffix in
    * windows), kept_windows. A window is silent when its mean amplitude is
    * below `silenceThreshold`, compared in exact cross-multiplied integers
    * (Σamp < thr·n), never a float division.
    */
  def silenceTrimStub(df: DataFrame, idCol: String, mediaCol: String = "media",
                      windowTokens: Int = 8,
                      silenceThreshold: Long = 30L): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      posexplode(split(col(mediaCol).cast("string"), " ")).as(Seq("pos", "t")))
    val amp = toks.select(col("id"),
      expr(s"CAST(pos AS BIGINT) div $windowTokens").as("w"),
      pmod(graft.functions.HashFunctions.md5Bits60(col("t")), lit(100L))
        .as("amp"))
    val win = amp.groupBy(col("id"), col("w"))
      .agg(sum(col("amp")).as("s"), count(lit(1)).as("n"))
      .withColumn("silent", col("s") < lit(silenceThreshold) * col("n"))
    win.groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("silent"), 1L).otherwise(0L)).as("n_silent"),
        min(when(!col("silent"), col("w"))).as("__first"),
        max(when(!col("silent"), col("w"))).as("__last"))
      .select(col("id"), col("n_windows"), col("n_silent"),
        coalesce(col("__first"), col("n_windows")).as("lead_trim"),
        when(col("__first").isNull, 0L)
          .otherwise(col("n_windows") - 1L - col("__last")).as("trail_trim"),
        when(col("__first").isNull, 0L)
          .otherwise(col("__last") - col("__first") + 1L).as("kept_windows"))
  }

  /** Stub per-frame signatures with planted shot structure: (id, f, sig) for
    * f ∈ [0, n_frames) from the [[Multimodal.decodeStub]] metadata; all
    * frames of one shot share a signature. A codec swap replaces this with
    * a real per-frame perceptual signature; [[sceneCutLedger]] is unchanged.
    */
  def frameSignaturesStub(df: DataFrame, idCol: String,
                          mediaCol: String = "media"): DataFrame = {
    val meta = Multimodal.decodeStub(
      df.select(col(idCol).as("id"), col(mediaCol).as("media")), "media")
    meta.select(col("id"),
      col("meta.n_frames").cast("long").as("nf"),
      (pmod(col("meta.bytes"), lit(7L)) + 3L).as("shot_len"))
      .withColumn("f", explode(sequence(lit(0L), col("nf") - 1L)))
      .select(col("id"), col("f"),
        graft.functions.HashFunctions.md5Bits60(
          concat(col("id").cast("string"), lit(":"),
            expr("f div shot_len").cast("string"))).as("sig"))
  }

  /** Per-document scene ledger from a (id, f, sig) frame stream: a cut is a
    * frame whose signature differs from its predecessor's by more than
    * `maxHamming` bits (same-shot stub frames differ by 0; cross-shot md5
    * signatures by ~30 of 60 — the detector's margin is real). Emits
    * n_frames, n_cuts, n_scenes, mean_scene_len_milli (truncating).
    */
  def sceneCutLedger(frames: DataFrame, maxHamming: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("f"))
    frames.withColumn("prev", lag(col("sig"), 1).over(w))
      .withColumn("cut", col("prev").isNotNull &&
        bit_count(col("sig").bitwiseXOR(col("prev"))) > maxHamming)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("cut"), 1L).otherwise(0L)).as("n_cuts"))
      .withColumn("n_scenes", col("n_cuts") + 1L)
      .withColumn("mean_scene_len_milli",
        expr("(1000L * n_frames) div n_scenes"))
  }
}
