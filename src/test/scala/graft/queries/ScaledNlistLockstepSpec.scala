package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Lockstep armor for the scaled-nlist SQL twin (r14 review finding): the
  * IVF oracles must derive their cell count from the same COUNT(*) the
  * Spark side counts. A divergent copy of the formula, or an oracle that
  * reverted to a literal LIMIT, would break oracle parity ONLY at non-gate
  * scale factors — invisible to every sf0.01 gate. So the formula is
  * written once, in `OracleSql`, and every IVF oracle string must carry it.
  */
class ScaledNlistLockstepSpec extends AnyFunSuite {

  test("every inline scaled-nlist SQL copy equals the canonical snippet") {
    val root = new java.io.File("src/main/scala/graft/queries")
    assert(root.isDirectory, s"run from the repo root: $root missing")
    val marker = "SELECT 1 << least("
    val hits = root.listFiles().filter(_.getName.endsWith(".scala")).toSeq
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
        Iterator.iterate(src.indexOf(marker))(i => src.indexOf(marker, i + 1))
          .takeWhile(_ >= 0).map(_ => f.getName)
      }
    assert(hits === Seq("OracleSql.scala"), "the scaled-nlist SQL must be " +
      "written once, in OracleSql — interpolate OracleSql.scaledNlist instead " +
      s"of copying it (marker found in: $hits)")
  }

  test("each IVF oracle string derives its cell count from OracleSql.scaledNlist") {
    val ivfOracles = Seq("ann_ndcg_audit", "ivf_incremental_assign",
      "ivf_nprobe_sweep", "ivf_pq_topk", "ivf_recall_audit", "ivf_topk",
      "knn_degree_assortativity", "knn_kcore_peeling", "knn_link_prediction",
      "knn_lpa_communities", "knn_pagerank_centrality", "knn_triangle_count",
      "knn_two_hop_reach", "lpa_modularity", "mmr_diverse_topk",
      "semdedup_keep")
    val oracle = graft.SparkEntry.oracleSql
    for (name <- ivfOracles) {
      val sql = oracle.getOrElse(name, fail(s"$name has no oracle SQL"))
      assert(sql.contains(OracleSql.scaledNlist) ||
        sql.contains(OracleSql.scaledNlistSnapshot),
        s"$name no longer derives its IVF cell count from " +
          "OracleSql.scaledNlist — did its seeds LIMIT revert to a literal?")
    }
  }
}
