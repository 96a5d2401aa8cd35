package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** A per-session memo of one bounded driver-side value per input plan —
  * the one implementation behind every plan-keyed memo family (landed
  * stages, GlobalRank / PrefixSum / Linkage / Markov / privacy probe
  * models, BPE / WordPiece rules, union-find labels, similarity seeds).
  *
  * Key: the CANONICALIZED analyzed plan (exact structural equality, not a
  * hash that could alias two stages; the plan node rather than its string,
  * because LocalRelation's string form omits its rows), plus
  * `schema.toString`, plus the caller's `params`, plus the
  * `(path, length, modificationTime)` of every file under each file-source
  * leaf. The file versions come from the index the plan already listed, so
  * keying costs no new listing; a source rewritten in place and read again
  * lists new versions and misses the memo instead of serving the old
  * files' answer. A frame read BEFORE the rewrite keeps its own listing
  * (Spark's contract, not the memo's) and keeps its entry.
  *
  * Race rule: get, compute, put — two concurrent first calls both compute
  * and the last write wins. Every value is a deterministic function of its
  * key, so a race costs duplicate work, never a wrong entry. No lock is
  * held across `compute` (which runs Spark jobs), which is why this is not
  * `computeIfAbsent`.
  *
  * Bound: one entry per distinct (plan, params) a session runs — the query
  * suite, not the data volume. `valueBytes` is the family's per-entry value
  * estimate; the [[MemoLedger]] adds the plan-key charge and gates entry
  * counts per `family`.
  */
final class PlanMemo[P, V](family: String, valueBytes: V => Long) {
  private val entries = new java.util.concurrent.ConcurrentHashMap[PlanMemo.Key, V]()

  MemoLedger.register(family) { () =>
    import scala.jdk.CollectionConverters._
    (entries.size.toLong, entries.values.asScala.iterator.map(valueBytes).sum)
  }

  /** The memoized value for (`df`, `params`), running `compute` on a miss. */
  def apply(df: DataFrame, params: P)(compute: => V): V = {
    val key = PlanMemo.key(df, params)
    val hit = entries.get(key)
    if (hit != null) hit
    else {
      val v = compute
      entries.put(key, v)
      v
    }
  }

  /** Lookup and store for a call site whose result lands in one of two
    * families (union-find labels, or the marker of an overflowed probe).
    */
  def get(df: DataFrame, params: P): Option[V] =
    Option(entries.get(PlanMemo.key(df, params)))

  def put(df: DataFrame, params: P, value: V): Unit = {
    entries.put(PlanMemo.key(df, params), value)
    ()
  }
}

object PlanMemo {
  private final case class Key(plan: LogicalPlan, schema: String,
                               sources: Seq[(String, Long, Long)], params: Any)

  private def key(df: DataFrame, params: Any): Key = {
    val analyzed = df.queryExecution.analyzed
    Key(analyzed.canonicalized, df.schema.toString, sourceVersions(analyzed), params)
  }

  /** (path, length, modificationTime) of every file under the plan's
    * file-source leaves, subqueries included, path-sorted.
    */
  private def sourceVersions(plan: LogicalPlan): Seq[(String, Long, Long)] =
    plan.collectWithSubqueries {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: PartitioningAwareFileIndex =>
            idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          case _ => Nil
        }
        case _ => Nil
      }
    }.flatten.sorted
}
