package graft

/** Aggregate driver-heap accounting for the per-session bounded-model memos.
  *
  * The engine memoizes every bounded driver model per input plan through
  * [[PlanMemo]] (landed stages, GlobalRank models, prefix-sum bucket totals,
  * BPE / WordPiece rules, union-find label arrays, PQ/IVF seeds, …). Each
  * family is individually bounded and documents its bound at the
  * declaration — but nothing gated the AGGREGATE footprint across a
  * 366-query session (r13 verdict, "Next" #5). This ledger closes that:
  * every memo family (each [[PlanMemo]], plus the string/session-keyed
  * registries) registers a snapshot supplier at construction,
  * [[printLedger]] emits one `[memo]` line per family at the end of a
  * PlanAudit run, and
  * `tools/close_round.sh` refuses entry counts above the per-family bounds
  * in `tools/memo_bounds.json` (growth requires editing the committed
  * bounds file with a reason — the `PlanAudit.scanBounds` discipline).
  *
  * Byte numbers are ESTIMATES for trend detection, not malloc truth: the
  * dominant heap cost of most families is the canonicalized-LogicalPlan
  * key, charged at the flat [[PlanKeyEstBytes]]; each family adds its
  * value-side bytes from its own shape walk. The gate refuses on ENTRY
  * counts (host-stable); the byte column exists so a family whose
  * per-entry value grows (e.g. a union-find array creeping toward its cap)
  * is visible round-over-round, backstopped by the global
  * `total_est_bytes_max` ceiling in the bounds file.
  */
object MemoLedger {

  /** Flat per-entry estimate for a canonicalized-LogicalPlan memo key.
    * Canonicalized trees of the suite's stage plans are a few KB of nodes;
    * 8 KB is deliberately on the heavy side so the total reads as an upper
    * bound.
    */
  val PlanKeyEstBytes = 8192L

  private val families = new java.util.concurrent.ConcurrentHashMap[
    String, () => (Long, Long)]()

  /** Register a memo family. `supplier` returns (entries, estValueBytes) —
    * the ledger adds [[PlanKeyEstBytes]] per entry itself unless
    * `planKeyed = false` (string/session-keyed registries).
    */
  def register(family: String, planKeyed: Boolean = true)(
      supplier: () => (Long, Long)): Unit =
    families.put(family, { () =>
      val (n, vb) = supplier()
      (n, vb + (if (planKeyed) n * PlanKeyEstBytes else n * 64L))
    })

  /** (family, entries, estBytes) for every family whose object initialized
    * this session, family-sorted. A family absent from the ledger was never
    * touched — zero footprint by construction.
    */
  def snapshot(): Seq[(String, Long, Long)] =
    scala.jdk.CollectionConverters.MapHasAsScala(families).asScala.toSeq
      .sortBy(_._1)
      .map { case (f, s) => val (e, b) = s(); (f, e, b) }

  /** One `[memo]` line per family + a `[memo-total]` footer — grepped into
    * the PLANAUDIT artifact by the close script.
    */
  def printLedger(): Unit = {
    val snap = snapshot()
    snap.foreach { case (f, e, b) =>
      println(f"[memo] family=$f%-24s entries=$e%-6d est_bytes=$b%d")
    }
    println(f"[memo-total] families=${snap.size}%d " +
      f"entries=${snap.map(_._2).sum}%d est_bytes=${snap.map(_._3).sum}%d")
  }
}
